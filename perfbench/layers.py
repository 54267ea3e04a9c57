"""Per-layer metric names and the single-process kernel sampler.

A traced run reports every name in ``PER_LAYER`` (the per-layer list of
BENCHMARK.json); a layer the workload never enters reads 0 (it spent no
time and ran no job there). Which layer metric is expected to move which
end-to-end metric, and where, is in README.md.
"""

from __future__ import annotations

import time

CRAWL_PASSES = ["url_canon", "para_dedup", "quality_gate", "near_dedup",
                "host_cap", "pii_scrub"]

PER_LAYER: list[tuple[str, str]] = [
    ("sources.scan_s", "s"), ("sources.warc_read_s", "s"),
    ("sources.write_wet_s", "s"),
    ("pipeline.spread_s", "s"), ("pipeline.extract_s", "s"),
    ("pipeline.kernel_share", "ratio"), ("pipeline.tasks", "count"),
    ("pipeline.failed_tasks", "count"),
    ("pipeline.quarantine_rows", "count"),
    ("pipeline.raster_kernel_share", "ratio"),
    ("operators.detect_ms", "ms"), ("operators.textline_ms", "ms"),
    ("operators.decode_ms", "ms"), ("operators.assemble_ms", "ms"),
    ("operators.pdf_ms", "ms"), ("functions.html_ms", "ms"),
    ("functions.ruby_ms", "ms"), ("operators.boxes_per_page", "count"),
    ("operators.windows_per_page", "count"),
    ("lineage.run_extract_s", "s"), ("lineage.settled_s", "s"),
    ("lineage.bytes_written_per_input_byte", "ratio"),
    ("lineage.files_written", "count"),
    *[(f"crawl.{p}_s", "s") for p in CRAWL_PASSES],
    ("crawl.lsh_verify_yield", "ratio"), ("crawl.spark_jobs", "count"),
    *[(f"crawl.{p}.jobs", "count") for p in CRAWL_PASSES],
    ("crawl.ledger_coverage", "ratio"),
    ("trace.overhead_s", "s"),
]

def split_extraction(spark, ledger, pages, scan_metric: str) -> dict:
    """The extraction call cut into its layers: the input scan alone,
    scan + ``spread_pages`` and the full ``extract_documents``, each into
    a noop sink, under spans with job attribution. ``pages`` builds the
    input DataFrame. Metrics are medians; the ordering check compares
    minima, which additive noise cannot reorder as easily. One untraced
    extract call follows: the tracing overhead is the traced median
    minus that call."""
    from findtextcenternet_spark.pipeline import (
        extract_documents,
        spread_pages,
    )

    from common import median, noop

    calls = [("scan", scan_metric, lambda: pages()),
             ("spread", "pipeline.scan_spread", lambda: spread_pages(pages())),
             ("extract", "pipeline.extract",
              lambda: extract_documents(pages()))]
    t: dict[str, list[float]] = {}
    spans = []
    for key, span, build in calls:
        t[key] = []
        for _ in range(3):
            with ledger.span(span, spark, jobs=True) as s:
                noop(build())
            t[key].append(s["end"] - s["start"])
            if key == "extract":
                spans.append(s)
    scan, spread, extract = (median(t[k]) for k in ("scan", "spread",
                                                    "extract"))
    t0 = time.perf_counter()
    noop(extract_documents(pages()))
    untraced = time.perf_counter() - t0
    return {
        f"{scan_metric}_s": scan,
        "pipeline.spread_s": spread - scan,
        "pipeline.extract_s": extract,
        "pipeline.kernel_share": (extract - spread) / extract,
        "pipeline.tasks": spans[-1]["tasks"],
        "pipeline.failed_tasks": sum(s["failed_tasks"] for s in spans),
        "trace.overhead_s": extract - untraced,
        "_ordering": (min(t["scan"]) <= min(t["spread"])
                      <= min(t["extract"])),
    }


def sample_kernels(blobs: list[bytes]) -> dict[str, float]:
    """Time each extraction stage over a fixed sample of pages, in this
    process (no Spark), by calling the stages the unified kernel runs in
    the order ``golden.extract_raster_page`` runs them. Per-page means in
    ms for each stage over the pages of its kind; 0 for a kind the
    sample does not hold."""
    from findtextcenternet_spark.corpus import RASTER_MARKER
    from findtextcenternet_spark.functions.html_extract import (
        decode_page_bytes,
        extract_main_text,
    )
    from findtextcenternet_spark.functions.ruby import decode_ruby
    from findtextcenternet_spark.operators.assemble import assemble_page
    from findtextcenternet_spark.operators.decode import (
        expand_window,
        segment_windows,
        tokenize_page,
    )
    from findtextcenternet_spark.operators.detect import (
        detect_page,
        parse_layout,
    )
    from findtextcenternet_spark.operators.group import group_page
    from findtextcenternet_spark.operators.model_registry import (
        get_detector_model,
        get_residue_heads,
    )
    from findtextcenternet_spark.operators.pdf import (
        PDF_MAGIC,
        extract_pdf_text,
    )

    model, head = get_detector_model(None), get_residue_heads(None)
    tot = {k: 0.0 for k in ("detect", "textline", "decode", "assemble",
                            "pdf", "html", "ruby")}
    n = {"raster": 0, "pdf": 0, "html": 0, "text": 0}
    boxes = windows = 0
    clock = time.perf_counter
    for blob in blobs:
        if blob.startswith(RASTER_MARKER):
            t0 = clock()
            boxes_df, runs = detect_page(parse_layout(blob), model)
            t1 = clock()
            ordered = group_page(boxes_df, runs)
            t2 = clock()
            tokens, meta = tokenize_page(ordered)
            wins = []
            for start, end, keep_back in segment_windows(tokens):
                pred, tok_of = expand_window(tokens[start:end],
                                             meta[start:end], head)
                wins.append({"pred": pred, "tok_of": tok_of,
                             "meta": meta[start:end],
                             "keep_back": keep_back})
            t3 = clock()
            assemble_page(wins)
            t4 = clock()
            tot["detect"] += t1 - t0
            tot["textline"] += t2 - t1
            tot["decode"] += t3 - t2
            tot["assemble"] += t4 - t3
            n["raster"] += 1
            boxes += len(boxes_df)
            windows += len(wins)
            continue
        if blob.startswith(PDF_MAGIC):
            t0 = clock()
            text = extract_pdf_text(blob)
            tot["pdf"] += clock() - t0
            n["pdf"] += 1
        else:
            t0 = clock()
            text = extract_main_text(decode_page_bytes(blob))
            tot["html"] += clock() - t0
            n["html"] += 1
        t0 = clock()
        decode_ruby(text, "aozora")
        decode_ruby(text, "noruby")
        tot["ruby"] += clock() - t0
        n["text"] += 1

    def per(key: str, kind: str) -> float:
        return 1000.0 * tot[key] / n[kind] if n[kind] else 0.0

    raster = sum(tot[k] for k in ("detect", "textline", "decode",
                                  "assemble"))
    kernel = raster + tot["pdf"] + tot["html"] + tot["ruby"]
    return {
        "operators.detect_ms": per("detect", "raster"),
        "operators.textline_ms": per("textline", "raster"),
        "operators.decode_ms": per("decode", "raster"),
        "operators.assemble_ms": per("assemble", "raster"),
        "operators.pdf_ms": per("pdf", "pdf"),
        "functions.html_ms": per("html", "html"),
        "functions.ruby_ms": per("ruby", "text"),
        "operators.boxes_per_page": boxes / n["raster"] if n["raster"] else 0,
        "operators.windows_per_page": (windows / n["raster"]
                                       if n["raster"] else 0),
        "pipeline.raster_kernel_share": raster / kernel if kernel else 0.0,
    }


def read_sample(pages_path: str, urls: list[str]) -> list[bytes]:
    """The sample pages' bytes, read without Spark, in ``urls`` order."""
    import pyarrow.parquet as pq

    df = pq.read_table(pages_path, columns=["url", "html"]).to_pandas()
    by_url = dict(zip(df["url"], df["html"]))
    return [bytes(by_url[u]) for u in urls]

