"""Exact-output snapshot of the group stage (operators/textline.py).

Corpus ground truth pins only the extracted text, and golden parity holds
by construction (golden.py imports the same kernels), so neither notices a
change in block/line numbering, reading order, subtype bits or section
assignment. This test does: it hashes the full output of three surfaces
over a fixed case set and compares against ``tests/data/
textline_snapshot.json``.

Cases:

* ``layout/<seed>`` — ``test_textline_fuzz.gen_layout`` seeds;
  ``run_textline_detect`` output (order, block, idx, subidx, subtype,
  double_line, direction, section);
* ``fuzz/<seed>`` and ``edge/<j>`` — the raster pages of
  ``test_fuzz_page_parity`` (same seed base and edge pages);
* ``corpus/<doc_id>`` — raster pages from ``corpus.make_page``.

Each raster page is hashed twice: ``group_page`` output (rows, feature
bytes and dtypes) and ``extract_raster_page`` output (text, aozora,
noruby, spans, lines, blocks).

A deliberate change to grouping semantics regenerates the file, in its
own commit that says why:

    python -m tests.test_textline_snapshot --write
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

from findtextcenternet_spark.config import LANGS
from findtextcenternet_spark.corpus import make_page, make_raster_page
from findtextcenternet_spark.golden import extract_raster_page
from findtextcenternet_spark.operators.detect import detect_page, parse_layout
from findtextcenternet_spark.operators.group import group_page
from findtextcenternet_spark.operators.model_registry import get_detector_model
from findtextcenternet_spark.operators.textline import run_textline_detect

sys.path.insert(0, os.path.dirname(__file__))
from test_fuzz_page_parity import SEED_BASE, _edge_pages, _page_bytes  # noqa: E402
from test_textline_fuzz import gen_layout  # noqa: E402

SNAPSHOT = os.path.join(os.path.dirname(__file__), "data",
                        "textline_snapshot.json")
N_LAYOUTS = 600
N_FUZZ = 200
CORPUS_SEED = 4242
N_CORPUS = 120

DETECT_FIELDS = ("block", "idx", "subidx", "subtype", "double_line",
                 "direction", "section")
RASTER_FIELDS = ("text", "aozora", "noruby", "spans", "lines", "blocks")


def _digest(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else repr(p).encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()


def detect_digest(P, order) -> str:
    parts = [list(map(int, order))]
    for name in DETECT_FIELDS:
        a = getattr(P, name)
        parts += [name, a.dtype.str, a.tobytes()]
    return _digest(parts)


def group_digest(df) -> str:
    parts = [list(df.columns), [str(t) for t in df.dtypes]]
    for row in df.itertuples(index=False):
        for v in row:
            if isinstance(v, (bytes, bytearray, memoryview)):
                parts.append(bytes(v))
            else:
                parts.append((type(v).__name__, v))
    return _digest(parts)


def raster_digest(rec: dict) -> str:
    return _digest([json.dumps(rec[k], ensure_ascii=False, sort_keys=True)
                    for k in RASTER_FIELDS])


def raster_pages() -> list[tuple[str, bytes]]:
    pages = []
    for i in range(N_FUZZ):
        rng = np.random.default_rng(SEED_BASE + i)
        layout, _ = make_raster_page(rng, LANGS[i % len(LANGS)])
        pages.append((f"fuzz/{SEED_BASE + i}", _page_bytes(layout)))
    for j, layout in enumerate(_edge_pages()):
        pages.append((f"edge/{j}", _page_bytes(layout)))
    for doc_id in range(N_CORPUS):
        row = make_page(doc_id, seed=CORPUS_SEED, raster_frac=1.0,
                        pdf_frac=0.0)
        pages.append((f"corpus/{doc_id}", row["html"]))
    return pages


def compute_snapshot() -> dict[str, str]:
    out: dict[str, str] = {}
    for seed in range(N_LAYOUTS):
        _kind, boxes, line_runs, sep_runs, sep_vals, _ = gen_layout(seed)
        P, order = run_textline_detect(boxes, line_runs, sep_runs, sep_vals)
        out[f"layout/{seed}"] = detect_digest(P, order)
    model = get_detector_model(None)
    for case, html in raster_pages():
        boxes, runs = detect_page(parse_layout(html), model)
        out[f"{case}/group"] = group_digest(group_page(boxes, runs))
        out[f"{case}/raster"] = raster_digest(extract_raster_page(html))
    return out


@pytest.fixture(scope="module")
def snapshot() -> dict[str, str]:
    with open(SNAPSHOT, encoding="utf-8") as f:
        return json.load(f)


def test_textline_snapshot(snapshot):
    got = compute_snapshot()
    assert sorted(got) == sorted(snapshot), "case set changed"
    bad = [k for k in snapshot if got[k] != snapshot[k]]
    assert not bad, f"{len(bad)} of {len(snapshot)} cases differ: {bad[:20]}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python -m tests.test_textline_snapshot --write")
    os.makedirs(os.path.dirname(SNAPSHOT), exist_ok=True)
    snap = compute_snapshot()
    with open(SNAPSHOT, "w", encoding="utf-8") as f:
        json.dump(snap, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(snap)} cases to {SNAPSHOT}")
