"""Seeded input generators. The program sees only the files written here.

Every generator is a pure function of its seed: the same seed gives the
same rows. Files are cached under the benchmark's work directory, keyed
by workload, seed, the program's ``CORPUS_VERSION`` and this module's
``GEN_VERSION``, and are written outside any timed region. Each
generator also returns the ground truth the correctness checks need.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pickle
import shutil
import zlib

import numpy as np
import pandas as pd

GEN_VERSION = 3

# extract_web_mix: about the corpus generator's default kind mix (70%
# html, 10% pdf, 20% raster). Raster pages do ~99% of the kernel work and
# their cost follows their glyph count (r = 0.93 over 600 generated
# pages; a page's glyphs range 28-316 between p10 and p99), so raster
# pages are drawn until a fixed glyph budget is met: two seeds then
# differ in content, not in the amount of raster work (~120 pages)
WEB_MIX_HTML = 420
WEB_MIX_PDF = 60
WEB_MIX_RASTER_GLYPHS = 12_500
WEB_MIX_POISON = {"null": 2, "layout": 2, "pdf": 2}

# crawl_corpus: html and pdf only; the injected shares are printed with
# every result. The page count is set by the time a run may take, not by
# where per-page work dominates (README.md, "Sizing the crawl")
CRAWL_PAGES = 1200
CRAWL_PDF_SHARE = 0.15
CRAWL_CHAINS = 6            # near-dup chains of 3 pages (A~B~C)
CRAWL_RECAPTURED = 8        # pages re-captured twice (utm_* and #fragment)
CRAWL_PII_PAGES = 12        # pages carrying emails and IPv4 addresses
CRAWL_POISON = {"layout": 1, "pdf": 2}
CRAWL_ARCHIVES = 8          # read_warc parses each archive in one task
CRAWL_WARM = 40             # records in the set-up warm-up archive
# caps the two hottest of the generator's 50 Zipf-weighted hosts, which
# hold about 22% and 11% of the pages
CRAWL_HOST_CAP = CRAWL_PAGES // 10
BOILERPLATE = "Subscribe to the weekly digest for more stories like this."

_SOUP = ("spark shuffle partition broadcast join filter scan codegen arrow "
         "batch kernel lineage resume checkpoint digest minhash band bucket "
         "jaccard shingle cluster keeper corpus extract window merge stream "
         "vector column query").split()


def _cached(root: str, key: str, build) -> tuple[str, object]:
    """Build once per key into ``root/key`` (atomic rename), then return
    the pickled ground truth stored beside the files."""
    from findtextcenternet_spark.corpus import CORPUS_VERSION

    path = os.path.join(root, f"{key}-c{CORPUS_VERSION}-g{GEN_VERSION}")
    truth = os.path.join(path, "_truth.pkl")
    if not os.path.exists(truth):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        obj = build(tmp)
        with open(os.path.join(tmp, "_truth.pkl"), "wb") as f:
            pickle.dump(obj, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(truth, "rb") as f:
        return path, pickle.load(f)


def _kinds(rng: np.random.Generator, n: int, shares: dict) -> list[str]:
    counts = {k: int(round(n * v)) for k, v in shares.items()}
    counts[next(iter(shares))] += n - sum(counts.values())
    kinds = [k for k, c in counts.items() for _ in range(c)]
    return [kinds[i] for i in rng.permutation(n)]


def _page_of_kind(doc_id: int, seed: int, kind: str) -> dict:
    """``corpus.make_page`` with the kind forced: the same per-page
    content distribution as the default mix, conditional on the kind."""
    from findtextcenternet_spark.corpus import make_page

    fr = {"html": (0.0, 0.0), "pdf": (0.0, 1.0), "raster": (1.0, 0.0)}[kind]
    return make_page(doc_id, seed, raster_frac=fr[0], pdf_frac=fr[1])


def truncated_pdf(text: str) -> bytes:
    """A PDF whose Flate content stream is cut short (zlib raises)."""
    data = zlib.compress(("BT /F1 12 Tf (" + text + ") Tj ET\n").encode()
                         * 8)
    half = data[: len(data) // 2]
    return (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(half)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + half
            + b"\nendstream\nendobj\n%%EOF\n")


def truncated_layout(page: dict) -> bytes:
    """A raster page whose layout JSON is cut in half."""
    html = bytes(page["html"])
    return html[: len(html) // 2]


def _poison_rows(seed: int, spec: dict, base_ts) -> list[dict]:
    rows = []
    for kind, n in spec.items():
        for j in range(n):
            url = f"https://poison.example.com/{kind}/{seed}/{j}"
            if kind == "null":
                html = None
            elif kind == "layout":
                html = truncated_layout(
                    _page_of_kind(10**6 + j, seed, "raster"))
            else:
                html = truncated_pdf(f"poison {seed} {j}")
            rows.append({"url": url, "warc_ts": base_ts, "html": html,
                         "text": None, "lang": "poison:" + kind})
    return rows


def _write_pages(path: str, rows: list[dict], n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = pd.DataFrame(rows[i * per:(i + 1) * per])
        pq.write_table(pa.Table.from_pandas(chunk, schema=schema,
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))


# -------------------------------------------------------- extract_web_mix

def web_mix(root: str, seed: int):
    """Pages parquet directory (8 part files): html and pdf pages, raster
    pages up to the glyph budget, and poison pages (null cells, truncated
    layout JSON, truncated PDF). Truth: per-url text, the poison urls, the
    kind counts and a fixed sample of urls for the kernel sampler."""
    from findtextcenternet_spark.corpus import RASTER_MARKER

    def build(path: str):
        rng = np.random.default_rng(seed)
        kinds = ["html"] * WEB_MIX_HTML + ["pdf"] * WEB_MIX_PDF
        rows = [_page_of_kind(i, seed, k) for i, k in enumerate(kinds)]
        glyphs = 0
        while glyphs < WEB_MIX_RASTER_GLYPHS:
            page = _page_of_kind(len(rows), seed, "raster")
            glyphs += len(json.loads(
                page["html"][len(RASTER_MARKER):])["glyphs"])
            rows.append(page)
            kinds.append("raster")
        poison = _poison_rows(seed, WEB_MIX_POISON, rows[0]["warc_ts"])
        allrows = rows + poison
        order = rng.permutation(len(allrows))
        allrows = [allrows[i] for i in order]
        pdir = os.path.join(path, "pages")
        os.makedirs(pdir)
        _write_pages(pdir, allrows, 8)
        return {"text": {r["url"]: r["text"] for r in rows},
                "poison": [r["url"] for r in poison],
                "kinds": {k: kinds.count(k) for k in ("html", "pdf",
                                                      "raster")},
                "raster_glyphs": glyphs,
                "sample": [r["url"] for r in allrows
                           if r["text"] is not None][:60]}
    path, truth = _cached(root, f"web_mix-s{seed}", build)
    return os.path.join(path, "pages"), truth


# ----------------------------------------------------------- crawl_corpus

def _soup(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(rng.choice(_SOUP, size=n_words))


def _template_page(url: str, paras: list[str], ts) -> tuple[dict, str]:
    """An injected page and its ground-truth text: the extractor keeps
    the ``main_text`` div, one line per paragraph."""
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    html = ("<html><head><title>t</title></head><body>"
            '<div class="header"><a href="/nav">nav</a></div>'
            f'<div class="main_text">\n{body}\n</div>'
            '<div class="footer">shared boilerplate</div></body></html>')
    return ({"url": url, "warc_ts": ts, "html": html.encode()},
            "\n" + "\n".join(paras) + "\n")


def crawl(root: str, seed: int):
    """Gzip WARC archives of html and pdf pages with injected near-dup
    chains, ``utm_*``/fragment re-captures, emails/IPv4s, a shared
    boilerplate paragraph and poison records, over the generator's skewed
    host distribution, plus a small warm-up archive holding the first
    ``CRAWL_WARM`` of those records in its own directory. Truth: per-url
    text, the poison urls, the urls the post-passes must drop, the urls
    that must survive, the injected PII strings and the injected shares."""
    from findtextcenternet_spark.sources.warc import write_warc

    def build(path: str):
        rng = np.random.default_rng(seed + 7_919)
        kinds = _kinds(rng, CRAWL_PAGES,
                       {"html": 1 - CRAWL_PDF_SHARE, "pdf": CRAWL_PDF_SHARE})
        base = [_page_of_kind(i, seed, k) for i, k in enumerate(kinds)]
        ts = dt.datetime(2024, 6, 1)
        text = {r["url"]: r["text"] for r in base}
        rows = [{"url": r["url"], "warc_ts": r["warc_ts"], "html": r["html"]}
                for r in base]
        dropped, survive, pii = [], [], []

        html_ids = [i for i, k in enumerate(kinds) if k == "html"]
        for i in rng.choice(html_ids, size=CRAWL_RECAPTURED, replace=False):
            r = base[int(i)]
            for noise in ("?utm_source=feed&utm_medium=rss", "#comments"):
                rows.append({"url": r["url"] + noise,
                             "warc_ts": r["warc_ts"], "html": r["html"]})
                text[r["url"] + noise] = r["text"]
                dropped.append(r["url"] + noise)

        for c in range(CRAWL_CHAINS):
            words = _soup(rng, 130).split(" ")
            members = []
            for m, name in enumerate("abc"):
                if m >= 1:
                    words[3] = f"xq{c}b"
                if m >= 2:
                    words[60] = f"xq{c}c"
                members.append((f"https://dup{c}.example.net/{name}",
                                " ".join(words)))
            for url, t in members:
                row, gt = _template_page(url, [t], ts)
                rows.append(row)
                text[url] = gt
            survive.append(members[0][0])       # min url keeps the cluster
            dropped.extend(u for u, _ in members[1:])

        for j in range(CRAWL_PII_PAGES):
            email = f"reader{seed % 1000}x{j}@mail{j}.example.org"
            ip = f"10.{j % 250}.{(seed + j) % 250}.{7 + j % 200}"
            url = f"https://forum{j}.example.net/thread/{j}"
            row, gt = _template_page(
                url, [_soup(rng, 80) + f" write to {email} or ping {ip} now",
                      BOILERPLATE], ts)
            rows.append(row)
            text[url] = gt
            survive.append(url)
            pii.extend([email, ip])

        poison = _poison_rows(seed, CRAWL_POISON, ts)
        for r in poison:
            rows.append({"url": r["url"], "warc_ts": r["warc_ts"],
                         "html": r["html"]})

        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        wdir = os.path.join(path, "warc")
        os.makedirs(wdir)
        per = (len(rows) + CRAWL_ARCHIVES - 1) // CRAWL_ARCHIVES
        for a in range(CRAWL_ARCHIVES):
            with open(os.path.join(wdir, f"crawl-{a:05d}.warc.gz"),
                      "wb") as f:
                f.write(write_warc(rows[a * per:(a + 1) * per]))
        os.makedirs(os.path.join(path, "warm"))
        with open(os.path.join(path, "warm", "warm-00000.warc.gz"),
                  "wb") as f:
            f.write(write_warc(rows[:CRAWL_WARM]))
        n = len(rows)
        return {"text": text, "poison": [r["url"] for r in poison],
                "dropped": dropped, "survive": survive, "pii": pii,
                "n_pages": n,
                "shares": {
                    "near_dup_losers": round(2 * CRAWL_CHAINS / n, 4),
                    "recaptures": round(2 * CRAWL_RECAPTURED / n, 4),
                    "pii_pages": round(CRAWL_PII_PAGES / n, 4),
                    "boilerplate_pages": round(CRAWL_PII_PAGES / n, 4),
                    "poison": round(len(poison) / n, 4)}}
    path, truth = _cached(root, f"crawl-s{seed}", build)
    return os.path.join(path, "warc"), os.path.join(path, "warm"), truth
