"""extract_web_mix: the user's main job. Generated pages (70% html, 10%
pdf, 20% raster) plus poison pages, through ``extract_documents`` into a
noop sink. The raster kernels do ~99% of the kernel work here, so a
kernel change shows on this workload."""

from __future__ import annotations

import time

from common import Ledger, noop, peak_rss_mb, reset_peak_rss
from layers import PER_LAYER, read_sample, sample_kernels, split_extraction

import inputs

WARM_PAGES = 24     # warm-up pass: enough tasks to start every worker


class Workload:
    name = "extract_web_mix"

    layers = PER_LAYER

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.pages_path, self.truth = inputs.web_mix(ctx.inputs_dir,
                                                     ctx.seed)
        self.n_pages = len(self.truth["text"]) + len(self.truth["poison"])

    def describe_inputs(self) -> dict:
        return {"pages": self.n_pages, "kinds": self.truth["kinds"],
                "poison": len(self.truth["poison"])}

    def warm_up(self, spark) -> None:
        from findtextcenternet_spark.pipeline import extract_documents

        noop(extract_documents(
            spark.read.parquet(self.pages_path).limit(WARM_PAGES)))

    def _extract(self, spark):
        from findtextcenternet_spark.pipeline import extract_documents

        return extract_documents(spark.read.parquet(self.pages_path))

    # ------------------------------------------------------ correctness
    def prepare(self, spark, checks) -> None:
        """Untimed pass, checked: per-url text equals the generator's
        text; every poison page is an error row exactly once; no other
        url appears. Error rows are the in-pass quarantine."""
        out = (self._extract(spark).select("url", "text", "error")
               .toPandas())
        counts = out["url"].value_counts()
        got = {u: (t, e) for u, t, e in zip(out["url"], out["text"],
                                            out["error"])}
        for url, text in self.truth["text"].items():
            row = got.get(url)
            checks.add(f"text {url}", row is not None
                       and counts[url] == 1 and row[1] is None
                       and row[0] == text)
        for url in self.truth["poison"]:
            row = got.get(url)
            checks.add(f"quarantined once {url}", row is not None
                       and counts[url] == 1 and row[1] is not None)
        expected = set(self.truth["text"]) | set(self.truth["poison"])
        checks.add("no unexpected urls", set(got) <= expected)
        self.quarantine_rows = int(out["error"].notna().sum())

    def check(self, spark, checks) -> None:
        """Everything was checked in :meth:`prepare`."""

    # ---------------------------------------------------------- timing
    def measure(self, spark, seconds: float) -> dict:
        passes: list[float] = []
        reset_peak_rss(spark)
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            noop(self._extract(spark))
            passes.append(time.perf_counter() - t0)
        rss = peak_rss_mb()
        # no done-set: a re-run over processed pages is a full pass
        return {"docs_per_s": [self.n_pages / p for p in passes],
                "resume_s": passes,
                "peak_rss_mb": [rss]}

    # ----------------------------------------------------------- traced
    def trace(self, spark, ledger: Ledger) -> dict:
        out = split_extraction(
            spark, ledger, lambda: spark.read.parquet(self.pages_path),
            "sources.scan")
        with ledger.span("operators.sample"):
            blobs = read_sample(self.pages_path, self.truth["sample"])
            out.update(sample_kernels(blobs))
        return out
