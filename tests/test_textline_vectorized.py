"""Every vectorized step of the textline kernel returns exactly what the
scalar loop it replaced returns (``textline_reference.py``).

The kernel runs over the 1,000 ``test_textline_fuzz.gen_layout`` seeds,
200 ``line_layout`` pages (textlines in pieces, in both orientations,
which the fuzz layouts lack) and a few corpus raster pages. Each
replaced function is wrapped: every call the kernel makes also runs the
reference on a copy of the same arguments, and the results and the
arguments afterwards (both may be mutated) must be equal — arrays bit
for bit, NaN equal to NaN. The chain-id raster comes from the kernel's
memo and the reference builds it afresh, so this also checks the memo
against every build the kernel asks for.
"""

from __future__ import annotations

import copy
import os
import sys
from collections import Counter

import numpy as np
import pytest

import findtextcenternet_spark.operators.textline as T
from findtextcenternet_spark.corpus import make_page
from findtextcenternet_spark.operators.detect import detect_page, parse_layout
from findtextcenternet_spark.operators.group import group_page
from findtextcenternet_spark.operators.model_registry import get_detector_model

sys.path.insert(0, os.path.dirname(__file__))
import textline_reference as R  # noqa: E402
from test_textline_fuzz import SCALE, _boxes, gen_layout  # noqa: E402

N_SEEDS = 1000
N_LINES = 200
N_RASTER = 20

# kernel function -> the reference it replaced
REPLACED = {
    "_runs_of_mask": R._runs_of_mask,
    "prepare_id_image": R.prepare_id_image,
    "make_lineblocker": R.make_lineblocker,
    "detect_line": R.detect_line,
    "set_angle": R.set_angle,
    "chain_boxes": R.chain_boxes,
    "line_grow": R.line_grow,
    "sort_chain": R.sort_chain,
    "find_linecenter_id": R.find_linecenter_id,
    "make_track_line": R.make_track_line,
    "create_chainid_map": R.create_chainid_map,
    "merge_targets": R.merge_targets,
    "ruby_candidates": R.ruby_candidates,
    "renumber_chain": R.renumber_chain,
    "section_params": R.section_params,
    "process_line": R.process_line,
    "block_lines": R.block_lines,
    "lines_of": R.lines_of,
    "block_params": R.block_params,
    "number_blocks": R.number_blocks,
    "block_heads": R.block_heads,
}
SLOTS = (T._LineParam, T._BlockParam)
# the page state the kernel writes (box geometry and the input rasters are
# never written)
PAGE_STATE = ("direction", "double_line", "subtype", "idx", "subidx",
              "block", "page", "section", "lineblocker")


def same(a, b) -> bool:
    """Exact equality across list/tuple/ndarray; arrays of one dtype must
    match bit for bit, NaN equal to NaN elsewhere."""
    if isinstance(a, T.Page) or isinstance(b, T.Page):
        return type(a) is type(b) and all(
            same(getattr(a, k), getattr(b, k)) for k in PAGE_STATE)
    if isinstance(a, SLOTS) or isinstance(b, SLOTS):
        return type(a) is type(b) and all(
            same(getattr(a, s, None), getattr(b, s, None))
            for s in type(a).__slots__)
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        a, b = np.asarray(a), np.asarray(b)
        if a.shape != b.shape:
            return False
        if a.dtype == b.dtype:
            return a.tobytes() == b.tobytes()
        return a.size == 0 or bool(np.array_equal(
            a, b, equal_nan=a.dtype.kind == "f" or b.dtype.kind == "f"))
    if isinstance(a, dict) or isinstance(b, dict):
        return (isinstance(a, dict) and isinstance(b, dict)
                and list(a) == list(b)
                and all(same(a[k], b[k]) for k in a))
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        if not (isinstance(a, (list, tuple)) and isinstance(b, (list, tuple))
                and len(a) == len(b)):
            return False
        if not any(isinstance(x, np.ndarray) for x in (*a, *b)) \
                and list(a) == list(b):  # fast path; NaN takes the slow one
            return True
        return all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
        return True
    return bool(a == b)


def clone(obj):
    """Deep copy, except that a page shares everything but the state the
    kernel writes."""
    if isinstance(obj, T.Page):
        page = copy.copy(obj)
        for k in PAGE_STATE:
            setattr(page, k, getattr(obj, k).copy())
        return page
    if isinstance(obj, (list, tuple)):
        return type(obj)(clone(x) for x in obj)
    if isinstance(obj, np.ndarray):
        return obj.copy()
    return copy.deepcopy(obj)


@pytest.fixture
def checked(monkeypatch):
    """Wrap every replaced kernel function; returns the call counter."""
    calls: Counter = Counter()

    def wrap(name, kernel_fn, ref_fn):
        def run(*args):
            ref_args = clone(args)
            got = kernel_fn(*args)
            want = ref_fn(*ref_args)
            assert same(got, want), f"{name}: result differs"
            assert same(list(args), list(ref_args)), \
                f"{name}: arguments differ after the call"
            calls[name] += 1
            return got
        return run

    for name, ref_fn in REPLACED.items():
        monkeypatch.setattr(T, name, wrap(name, getattr(T, name), ref_fn))
    return calls


def line_layout(seed: int):
    """Horizontal or vertical lines with textline evidence, each made of
    two or three pieces (separate runs, so separate chains the merge
    probes must join or keep apart) of differing glyph size and spacing,
    plus ruby beside some lines, separators (some in a gap between
    pieces, some with a weak halo the hysteresis grow reaches) and odd
    glyph widths. The fuzz layouts never grow a line sideways, merge
    chains or grow a separator; these do."""
    rng = np.random.default_rng(10_000 + seed)
    vertical = bool(seed % 2)
    s = float(rng.integers(16, 41))
    n_lines = int(rng.integers(2, 6))
    pitch_line = s * float(rng.uniform(1.4, 2.4))
    a0, c0 = float(rng.integers(40, 120)), float(rng.integers(60, 160))
    along, across, size, code1 = [], [], [], []
    runs, seps = [], []
    end = a0
    for ln in range(n_lines):
        c = c0 + (n_lines - 1 - ln if vertical else ln) * pitch_line
        ccell = int(c // SCALE)
        half = int(rng.integers(0, 2))
        first = len(along)
        pos = a0
        gaps = []
        for _piece in range(int(rng.integers(2, 4))):
            sz = s * float(rng.choice([1.0, 1.0, 0.7, 0.5]))
            pitch = sz * float(rng.uniform(1.02, 1.3))
            start = pos
            for _g in range(int(rng.integers(2, 6))):
                along.append(pos + sz / 2)
                across.append(c + rng.uniform(-s * 0.1, s * 0.1))
                size.append(sz * float(rng.choice([1.0, 1.0, 1.0, 0.5])))
                code1.append(0.0)
                pos += pitch
            end = pos - pitch + sz
            a1, a2 = int(start // SCALE), int(end // SCALE)
            for d in range(-half, half + 1):
                if vertical:
                    runs += [[y, ccell + d, ccell + d]
                             for y in range(a1, a2 + 1)]
                else:
                    runs.append([ccell + d, a1, a2])
            gap = s * float(rng.choice([0.3, 1.0, 2.5]))
            gaps.append(end + gap / 2)
            pos = end + gap
        if rng.random() < 0.4:  # ruby beside the line
            for a in along[first:first + int(rng.integers(1, 5))]:
                along.append(a)
                across.append(c + (s * 0.8 if vertical else -s * 0.8))
                size.append(s * 0.45)
                code1.append(0.95)
        if rng.random() < 0.3:  # a separator stroke in a gap
            at = int(gaps[int(rng.integers(0, len(gaps) - 1))] // SCALE)
            span = (int((c - s) // SCALE), int((c + s) // SCALE))
            if vertical:
                seps.append(([at, span[0], span[1]], 0.982))
            else:
                seps += [([y, at, at], 0.982)
                         for y in range(span[0], span[1] + 1)]
    if rng.random() < 0.5:  # a heavy rule with a weak halo
        at = int((c0 - pitch_line) // SCALE)
        lo, hi = int(a0 // SCALE), int(end // SCALE)
        for off, v in ((0, 0.982), (1, float(rng.uniform(0.05, 0.099)))):
            if vertical:
                seps += [([y, at + off, at + off], v)
                         for y in range(lo, hi)]
            else:
                seps.append(([at + off, lo, hi], v))
    if vertical:
        cx, cy = across, along
    else:
        cx, cy = along, across
    code1 = np.asarray(code1)
    boxes = _boxes(cx, cy, size, size, code1, code1)
    sep_runs = np.array([r for r, _ in seps], dtype=np.int64).reshape(-1, 3)
    sep_vals = np.array([v for _, v in seps], dtype=np.float64)
    return boxes, np.asarray(runs, dtype=np.int64), sep_runs, sep_vals


def test_vectorized_steps_equal_scalar_loops(checked):
    for seed in range(N_SEEDS):
        _kind, boxes, line_runs, sep_runs, sep_vals, _ = gen_layout(seed)
        T.run_textline_detect(boxes, line_runs, sep_runs, sep_vals)
    for seed in range(N_LINES):
        T.run_textline_detect(*line_layout(seed))
    model = get_detector_model(None)
    for doc_id in range(N_RASTER):
        html = make_page(doc_id, seed=77, raster_frac=1.0,
                         pdf_frac=0.0)["html"]
        group_page(*detect_page(parse_layout(html), model))
    missing = set(REPLACED) - set(checked)
    assert not missing, f"never called: {sorted(missing)}"
