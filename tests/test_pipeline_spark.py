"""Distributed pipeline parity + determinism across parallelism
(BASELINE.md: byte-identical per-url text at every parallelism level)."""

import pandas as pd
import pytest

from findtextcenternet_spark.corpus import generate_pages
from findtextcenternet_spark.golden import extract_corpus_golden
from findtextcenternet_spark.pipeline import (
    extract_documents,
    pages_from_pandas,
)

N_DOCS = 80


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(N_DOCS)


def _run(spark, pdf, n_parts):
    pages = pages_from_pandas(spark, pdf).repartition(n_parts, "url")
    out = extract_documents(pages).toPandas()
    return out.sort_values("url").reset_index(drop=True)


def _norm_nested(cells):
    """Normalize a spans/lines/blocks cell — list of pyspark Rows or
    golden dicts (or None/empty) — to a comparable tuple-of-tuples with
    keys in sorted order, so golden-vs-spark and run-vs-run compares
    are exact (floats must be bit-identical: same kernels, same math)."""
    if cells is None or (hasattr(cells, "__len__") and len(cells) == 0):
        return ()
    out = []
    for c in cells:
        d = c.asDict() if hasattr(c, "asDict") else dict(c)
        out.append(tuple((k, d[k]) for k in sorted(d)))
    return tuple(out)


NESTED = ["spans", "lines", "blocks"]


def test_spark_matches_golden(spark, corpus):
    out = _run(spark, corpus, 4)
    golden = extract_corpus_golden(corpus).sort_values("url").reset_index(drop=True)
    assert len(out) == len(golden) == N_DOCS
    g = golden.set_index("url")
    for r in out.itertuples():
        assert r.text == g.loc[r.url, "text"], r.url
        assert r.aozora == g.loc[r.url, "aozora"]
        assert r.noruby == g.loc[r.url, "noruby"]
        # north rule: text AND spans per document — the nested span/line/
        # block structures must match the golden exactly, not just exist
        for col in NESTED:
            assert _norm_nested(getattr(r, col)) == \
                _norm_nested(g.loc[r.url, col]), (r.url, col)


def test_partitioning_invariance(spark, corpus):
    a = _run(spark, corpus, 2)
    b = _run(spark, corpus, 7)
    pd.testing.assert_frame_equal(
        a[["url", "text", "aozora", "noruby", "path"]],
        b[["url", "text", "aozora", "noruby", "path"]],
    )
    for col in NESTED:
        assert a[col].map(_norm_nested).equals(b[col].map(_norm_nested))


def test_blank_layout_reaches_output(spark, corpus):
    """A valid raster page with zero glyphs/textlines (and a zero-strength
    separator stroke) must yield an empty-text doc row — not silently
    vanish (ADVICE r2: a url without detections could drop out of the
    output; detect also raised on v<=0 strokes)."""
    import json

    from findtextcenternet_spark.corpus import RASTER_MARKER

    blank = RASTER_MARKER + json.dumps(
        {"page_w": 768, "page_h": 768, "vertical": 0,
         "glyphs": [], "textlines": [], "seps": []}).encode()
    sep0 = RASTER_MARKER + json.dumps(
        {"page_w": 768, "page_h": 768, "vertical": 0,
         "glyphs": [], "textlines": [],
         "seps": [{"x1": 10, "x2": 700, "y1": 50, "y2": 50,
                   "v": 0.0}]}).encode()
    extra = pd.DataFrame([
        {"url": "https://blank.example.org/empty-layout",
         "warc_ts": corpus["warc_ts"].iloc[0], "html": blank,
         "text": "", "lang": "raster:ja"},
        {"url": "https://blank.example.org/zero-strength-sep",
         "warc_ts": corpus["warc_ts"].iloc[0], "html": sep0,
         "text": "", "lang": "raster:ja"},
    ])
    pdf = pd.concat([corpus.head(6), extra], ignore_index=True)
    pages = pages_from_pandas(spark, pdf).repartition(4, "url")
    out = extract_documents(pages).toPandas()
    assert len(out) == len(pdf)
    rows = out[out.url.str.startswith("https://blank.")]
    assert len(rows) == 2
    assert (rows.text == "").all()
    assert rows.error.isna().all()


def test_raster_records_nonempty(spark, corpus):
    out = _run(spark, corpus, 4)
    rast = out[out.path == "raster"]
    assert len(rast) > 0
    for r in rast.itertuples():
        assert len(r.spans) > 0
        assert len(r.lines) > 0
        assert len(r.blocks) > 0
        # block texts joined reproduce the flat text ('\n\n' between blocks)
        joined = "\n\n".join(b["text"].rstrip("\n") for b in r.blocks)
        assert joined == r.text


def test_null_html_quarantined(spark):
    """ADVICE r4 (medium): a null html cell must become ONE quarantine
    row — not a task crash (the kernel once did bytes(None)) and not a
    silently vanished url."""
    from findtextcenternet_spark.pipeline import NULL_PAGE_ERROR

    good = generate_pages(10)
    nulls = pd.DataFrame([
        {"url": "https://null.example.org/missing-body",
         "warc_ts": good["warc_ts"].iloc[0],
         "html": None, "text": "", "lang": "en"},
    ])
    pages = pages_from_pandas(spark, pd.concat([good, nulls],
                                               ignore_index=True))
    out = extract_documents(pages, num_partitions=4).toPandas()
    assert len(out) == 11  # the null url settles, never vanishes
    row = out[out["url"] == "https://null.example.org/missing-body"]
    assert len(row) == 1
    assert row["error"].iloc[0] == NULL_PAGE_ERROR
    assert row["path"].iloc[0] == "html"
    assert row["text"].iloc[0] is None
