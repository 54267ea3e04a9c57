"""Faithful NumPy re-expression of the reference ``textline_detect`` C++
program (6.4k LoC), the group stage of the pipeline (SURVEY.md §2
J1-J7, A4-A14, W1-W3, W5-W6, P8-P9; §3.1 step 4).

Pipeline order mirrors textline_detect/src/process.cpp:46-67:

    prepare_id_image -> make_lineblocker -> linefind -> search_loop
    (combine_chains fixpoint + fix_unbined + split_doubleline1-3 +
    chain_space) -> after_search (fix_shortchain, search_ruby,
    renumber_chain, number_unbind, make_block) -> space_check

Everything is page-local and deterministic: where the C++ relies on
incidental iteration order (unstable std::sort, flood-fill insertion
order), this port pins an explicit total order and documents the
canonicalization inline. Coordinates: boxes in pixels, raster maps in
heatmap cells (SCALE=4 px/cell), exactly like the reference binary
protocol (main.cpp:100-131).

Documented divergences (each deliberate, none observable on clean pages):
* combine_chains head-probe EMA: the reference's fold variable reads its
  own anchor every step (``end_cy1 = 0.25*end_cy0 + 0.75*cy`` at
  search_loop.cpp:670, same at :810 — a fold-variable typo); this port
  folds the candidate chain's values, the evident intent (the tail
  probes, :725 and :862, fold correctly and are ported as-is).
* chain_line_force (after_search.cpp:81-225) is a no-op at the
  reference's default ``chain_line_ratio = 0.0`` (main.cpp:28) and is not
  ported.
* renumber_id's section machinery (make_block.cpp:580-1359) is
  re-expressed as transitive interval-overlap column clustering plus the
  geometric chain reorder — identical observable reading order for
  rectangular column layouts; the reference's table-vs-columns heuristic
  (:906-980) is ported as ``_table_interleave`` (below, ~:2028): groups
  whose row bands interleave are read row-major like a table instead of
  column-major.

Scale note: this runs per page inside the extraction kernel — pages never
cross executors, so the stage is embarrassingly parallel and its cost is
O(page) regardless of corpus size.

Performance structure (output byte-identical to the scalar port, which
``tests/textline_reference.py`` keeps and ``tests/test_textline_vectorized.py``
checks call by call):
* The chain-id raster (``create_chainid_map``) is built up to five times
  per page, mostly from unchanged inputs. The page keeps the last build,
  keyed on the content of everything the build reads — the chains, ratio,
  extra_len, ``direction``, ``double_line``, the ruby bits of ``subtype``
  and ``lineblocker``; box geometry never changes — so a hit is exact.
  The kept raster is read-only.
* Vectorize, then replay: a probe walk whose stopping rule is local (a
  blocker, a foreign chain, the page edge) becomes one NumPy grid over
  every (start, step) of every walk, with the barrier as a prefix-AND
  along the step axis. Only the grid cells that can decide a walk —
  candidate hits — go back to Python, in the walk's original order,
  where the order-dependent state (dedup lists, "first writer wins",
  a hit that ends or does not end the walk) is applied exactly as the
  loop did. Float folds whose rounding depends on order (EMA anchors,
  running track midpoints, ``sum``) stay scalar.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import (
    ALLOW_SIZEDIFF,
    ALLOWWIDTH_NEXT_BLOCK,
    EMPHASIS_CUTOFF,
    LINE_VALUETH,
    RUBY_CUTOFF,
    RUBYBASE_CUTOFF,
    SCALE,
    SEP_CLUSTERTH,
    SEP_VALUETH,
    SEP_VALUETH2,
    SPACE_CUTOFF,
    SUBTYPE_ALONE_RUBY,
    SUBTYPE_EMPHASIS,
    SUBTYPE_RUBY,
    SUBTYPE_RUBYBASE,
    SUBTYPE_SPACE,
    SUBTYPE_TAB_SPLIT,
    SUBTYPE_VERTICAL,
)

M_PI = math.pi
M_PI_4 = math.pi / 4
M_PI_2 = math.pi / 2
RUBY_BITS = SUBTYPE_RUBY  # 2+4; (subtype & 6) == 6 means ruby glyph
_NO_WRITER = np.iinfo(np.int64).max  # empty cell of a first-writer raster


class Page:
    """Mutable per-page state: the charbox fields (line_detect.h:4-22) as
    parallel arrays plus the cell-grid raster maps the C++ keeps global."""

    def __init__(self, boxes: dict, line_runs: np.ndarray,
                 sep_runs: np.ndarray, sep_vals: np.ndarray):
        n = len(boxes["cx"])
        self.n = n
        self.cx = np.asarray(boxes["cx"], dtype=np.float64)
        self.cy = np.asarray(boxes["cy"], dtype=np.float64)
        self.w = np.asarray(boxes["w"], dtype=np.float64)
        self.h = np.asarray(boxes["h"], dtype=np.float64)
        # subtype init from code cutoffs (main.cpp:132-147): ruby sets BOTH
        # bits 2+4 on code1 alone; rubybase sets bit 2 on code2
        st = np.zeros(n, dtype=np.int64)
        st |= np.where(np.asarray(boxes["code2"]) > RUBYBASE_CUTOFF,
                       SUBTYPE_RUBYBASE, 0)
        st |= np.where(np.asarray(boxes["code1"]) > RUBY_CUTOFF, RUBY_BITS, 0)
        st |= np.where(np.asarray(boxes["code8"]) > SPACE_CUTOFF,
                       SUBTYPE_SPACE, 0)
        st |= np.where(np.asarray(boxes["code4"]) > EMPHASIS_CUTOFF,
                       SUBTYPE_EMPHASIS, 0)
        self.subtype = st
        self.direction = np.zeros(n, dtype=np.float64)
        self.double_line = np.zeros(n, dtype=np.int64)
        self.idx = np.full(n, -1, dtype=np.int64)
        self.subidx = np.full(n, -1, dtype=np.int64)
        self.block = np.full(n, -1, dtype=np.int64)
        self.page = np.zeros(n, dtype=np.int64)
        self.section = np.zeros(n, dtype=np.int64)

        # cell grid sized to cover all boxes and runs (the reference gets
        # width/height from the detect stage; extents are equivalent)
        max_x = max_y = 192
        if n:
            max_x = max(max_x, int(np.ceil((self.cx + self.w / 2).max() / SCALE)))
            max_y = max(max_y, int(np.ceil((self.cy + self.h / 2).max() / SCALE)))
        for runs in (line_runs, sep_runs):
            if len(runs):
                max_x = max(max_x, int(runs[:, 2].max()))
                max_y = max(max_y, int(runs[:, 0].max()))
        self.W = max_x + 4
        self.H = max_y + 4

        self.lineimage = np.zeros((self.H, self.W), dtype=np.float32)
        for y, x1, x2 in line_runs:
            self.lineimage[int(y), int(x1):int(x2) + 1] = 0.982
        self.sepimage = np.zeros((self.H, self.W), dtype=np.float32)
        for (y, x1, x2), v in zip(sep_runs, sep_vals):
            self.sepimage[int(y), int(x1):int(x2) + 1] = float(v)
        self.lineblocker = np.zeros((self.H, self.W), dtype=bool)
        # one-slot memo of the chain-id raster (create_chainid_map)
        self.cmap_memo: tuple | None = None

    def is_ruby(self, i: int) -> bool:
        return (self.subtype[i] & 6) == 6

    def size(self, i: int) -> float:
        return max(self.w[i], self.h[i])


def _runs_of_mask(mask: np.ndarray) -> list[tuple[int, int, int]]:
    """Row-major RLE of a boolean mask: (y, x1, x2) inclusive."""
    pad = np.zeros((mask.shape[0], mask.shape[1] + 2), dtype=np.int8)
    pad[:, 1:-1] = mask
    d = np.diff(pad, axis=1)
    ys, x1 = np.nonzero(d == 1)
    _, x2 = np.nonzero(d == -1)
    return list(zip(ys.tolist(), x1.tolist(), (x2 - 1).tolist()))


class _UnionFind:
    __slots__ = ("parent",)

    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, a: int) -> int:
        p = self.parent
        while p[a] != a:
            p[a] = p[p[a]]
            a = p[a]
        return a

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _label_components_4(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-neighborhood connected components over a boolean mask, as
    run-length union-find (A11; search_connection prepare.cpp:6-66
    semantics — labels renumbered in row-major first-appearance order,
    which is exactly the scan order the C++ assigns cluster ids in).
    Returns (label map int[H,W] with -1 background, n_components)."""
    runs = _runs_of_mask(mask)
    n = len(runs)
    labels = np.full(mask.shape, -1, dtype=np.int32)
    if n == 0:
        return labels, 0
    uf = _UnionFind(n)
    # index runs by row for vertical adjacency
    row_runs: dict[int, list[int]] = {}
    for i, (y, _x1, _x2) in enumerate(runs):
        row_runs.setdefault(y, []).append(i)
    for i, (y, x1, x2) in enumerate(runs):
        for j in row_runs.get(y + 1, ()):
            jy, jx1, jx2 = runs[j]
            if jx1 > x2:
                break
            if jx2 >= x1:
                uf.union(i, j)
    remap: dict[int, int] = {}
    for i, (y, x1, x2) in enumerate(runs):
        r = uf.find(i)
        if r not in remap:
            remap[r] = len(remap)
        labels[y, x1:x2 + 1] = remap[r]
    return labels, len(remap)


def _dilate(mask: np.ndarray, r: int) -> np.ndarray:
    """Boolean dilation by the (2r+1) x (2r+1) square (separable)."""
    H, W = mask.shape
    pad = np.pad(mask, r)
    rows = np.zeros((H + 2 * r, W), dtype=bool)
    for d in range(2 * r + 1):
        rows |= pad[:, d:d + W]
    out = np.zeros((H, W), dtype=bool)
    for d in range(2 * r + 1):
        out |= rows[d:d + H]
    return out


# ---------------------------------------------------------------- prepare

def prepare_id_image(P: Page) -> tuple[np.ndarray, np.ndarray]:
    """Box-id rasters (prepare.cpp:68-97): idimage stamps every box,
    idimage_main skips ruby glyphs; later box ids overwrite earlier."""
    left = ((P.cx - P.w / 2) / SCALE).astype(np.int64)
    right = ((P.cx + P.w / 2) / SCALE).astype(np.int64) + 1
    top = ((P.cy - P.h / 2) / SCALE).astype(np.int64)
    bottom = ((P.cy + P.h / 2) / SCALE).astype(np.int64) + 1
    inside = (left >= 0) & (right < P.W) & (top >= 0) & (bottom < P.H)
    main = inside & ((P.subtype & 6) != 6)
    out = []
    for keep in (inside, main):
        image = np.full((P.H, P.W), -1, dtype=np.int32)
        # later boxes overwrite earlier: a cell keeps its largest box id
        ids = np.nonzero(keep)[0]
        flat, rect = _rect_cells(left[ids], right[ids], top[ids],
                                 bottom[ids], P.W)
        np.maximum.at(image.ravel(), flat, ids[rect].astype(np.int32))
        out.append(image)
    return out[0], out[1]


def make_lineblocker(P: Page) -> None:
    """Separator mask -> lineblocker (prepare.cpp:99-170):
    threshold at SEP_VALUETH, 4-CC, erase clusters with value-sum below
    SEP_CLUSTERTH (A12 cluster weight prune), then hysteresis-regrow each
    surviving cell to 8-neighbors above 0.1x its own value (A13)."""
    blocker = P.sepimage > SEP_VALUETH
    labels, n_comp = _label_components_4(blocker)
    if n_comp:
        weights = np.zeros(n_comp)
        on = labels >= 0
        np.add.at(weights, labels[on], P.sepimage[on])
        light = weights < SEP_CLUSTERTH
        blocker[on & light[np.clip(labels, 0, None)]] = False

    # hysteresis grow (prepare.cpp:135-169): seeds in row-major order,
    # 8-neighborhood stack walk down to 0.1 * seed value. A walk can only
    # leave its seed through a non-blocker 8-neighbor at or above the
    # lowest seed threshold; without one the grow is a no-op.
    seeds = np.nonzero(blocker)
    sep = P.sepimage
    H, W = P.H, P.W
    if len(seeds[0]) and not (
            ~blocker & _dilate(blocker, 1)
            & (sep.astype(np.float64) >= float(sep[seeds].min()) * 0.1)
    ).any():
        seeds = (seeds[0][:0], seeds[1][:0])
    for y0, x0 in zip(seeds[0].tolist(), seeds[1].tolist()):
        value_th = sep.item(y0, x0) * 0.1
        stack = [(y0, x0)]
        while stack:
            y, x = stack.pop()
            if sep.item(y, x) < value_th:
                continue
            blocker[y, x] = True
            for yy in range(y - 1, y + 2):
                for xx in range(x - 1, x + 2):
                    if xx < 0 or xx >= W or yy < 0 or yy >= H:
                        continue
                    if blocker[yy, xx]:
                        continue
                    if sep.item(yy, xx) < value_th:
                        continue
                    stack.append((yy, xx))
    P.lineblocker = blocker


# ---------------------------------------------------------------- linefind

def _detect_line_fast(P: Page, on_mask: np.ndarray
                      ) -> tuple[np.ndarray, int]:
    """5x5-neighborhood components as run-length union-find — valid only
    when no blocker cell sits within the 5x5 reach of any line cell (the
    common page: separators live in block gaps, far from the lines).
    Components get ids in row-major first-cell order, matching the
    descending-value scan for our binary line maps."""
    runs = _runs_of_mask(on_mask)
    n = len(runs)
    labels = np.full(on_mask.shape, -1, dtype=np.int32)
    if n == 0:
        return labels, 0
    uf = _UnionFind(n)
    row_runs: dict[int, list[int]] = {}
    for i, (y, _x1, _x2) in enumerate(runs):
        row_runs.setdefault(y, []).append(i)
    for i, (y, x1, x2) in enumerate(runs):
        for dy in (0, 1, 2):
            for j in row_runs.get(y + dy, ()):
                if dy == 0 and j <= i:
                    continue
                jy, jx1, jx2 = runs[j]
                if jx1 > x2 + 2:
                    break
                if jx2 >= x1 - 2:
                    uf.union(i, j)
    remap: dict[int, int] = {}
    for i, (y, x1, x2) in enumerate(runs):
        r = uf.find(i)
        if r not in remap:
            remap[r] = len(remap)
        labels[y, x1:x2 + 1] = remap[r]
    return labels, len(remap)


def detect_line(P: Page) -> tuple[np.ndarray, int]:
    """Textline components (hough_linefind.cpp:200-255): flood fill with a
    5x5 neighborhood from cells in descending lineimage order, a blocker
    cell anywhere in the window stops expansion from that cell."""
    H, W = P.H, P.W
    lineid_map = np.full((H, W), -1, dtype=np.int32)
    on = np.nonzero(P.lineimage.ravel() >= LINE_VALUETH)[0]
    if len(on) == 0:
        return lineid_map, 0

    # fast path: if no blocker is within the 5x5 reach of any line cell,
    # the blocker-barrier rule can never fire — use run-length union-find
    on_mask = P.lineimage >= LINE_VALUETH
    if P.lineblocker.any():
        clear = not (_dilate(P.lineblocker, 2) & on_mask).any()
    else:
        clear = True
    if clear:
        return _detect_line_fast(P, on_mask)
    # descending value, index asc on ties (stable — canonicalizes the
    # unstable std::sort at hough_linefind.cpp:208)
    vals = P.lineimage.ravel()[on]
    order = on[np.argsort(-vals, kind="stable")]
    flat_line = P.lineimage.ravel()
    flat_block = P.lineblocker.ravel()
    flat_id = lineid_map.ravel()
    lineid_count = 0
    for i in order.tolist():
        if flat_id.item(i) >= 0:
            continue
        if flat_block[i]:
            continue
        stack = [i]
        while stack:
            i2 = stack.pop()
            if flat_id.item(i2) >= 0:
                continue
            if flat_block[i2]:
                continue
            if flat_line.item(i2) < LINE_VALUETH:
                continue
            flat_id[i2] = lineid_count
            x0 = i2 % W
            y0 = i2 // W
            tmp = []
            hit_blocker = False
            for y in range(y0 - 2, y0 + 3):
                for x in range(x0 - 2, x0 + 3):
                    if x < 0 or x >= W or y < 0 or y >= H:
                        continue
                    i3 = y * W + x
                    if flat_id.item(i3) >= 0:
                        continue
                    if flat_block[i3]:
                        hit_blocker = True
                        break
                    if flat_line.item(i3) < LINE_VALUETH:
                        continue
                    tmp.append(i3)
                if hit_blocker:
                    break
            if not hit_blocker:
                stack.extend(tmp)
        lineid_count += 1
    return lineid_map, lineid_count


def set_angle(P: Page, lineid_map: np.ndarray, lineid_count: int
              ) -> tuple[np.ndarray, np.ndarray, int]:
    """Per-component orientation + angle (hough_linefind.cpp:257-334):
    taller-than-wide components take the top->bottom extreme-point angle,
    wider take left->right. Extreme-point ties are broken by (y, x)
    lexicographic order (canonicalizes the flood-fill-order dependence of
    the C++ p1/p2 scan)."""
    angle_map = np.full((P.H, P.W), np.nan, dtype=np.float32)
    new_map = np.full((P.H, P.W), -1, dtype=np.int32)
    ys, xs = np.nonzero(lineid_map >= 0)
    lid = lineid_map[ys, xs]
    # cells grouped by component, each group still in row-major order
    order = np.argsort(lid, kind="stable")
    ys, xs, lid = ys[order], xs[order], lid[order]
    bounds = np.searchsorted(lid, np.arange(lineid_count + 1)).tolist()
    new_count = 0
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        if lo == hi:
            continue
        gy, gx = ys[lo:hi], xs[lo:hi]
        if gx.max() - gx.min() < gy[-1] - gy[0]:
            # vertical: topmost -> bottommost (leftmost on ties)
            k1, k2 = 0, int(np.searchsorted(gy, gy[-1]))
        else:
            # horizontal: leftmost -> rightmost (topmost on ties)
            k1, k2 = int(gx.argmin()), int(gx.argmax())
        angle = math.atan2(float(gy[k2] - gy[k1]), float(gx[k2] - gx[k1]))
        angle_map[gy, gx] = angle
        new_map[gy, gx] = new_count
        new_count += 1
    return angle_map, new_map, new_count


def chain_boxes(P: Page, lineid_count: int, angle_map: np.ndarray,
                lineid_map: np.ndarray) -> list[list[int]]:
    """J1 box<->line spatial join (chain_boxes hough_linefind.cpp:13-121):
    march outward from each non-ruby box center (left, right, up, down at
    each radius, scale-px steps) until a textline cell is hit; attach the
    box to that line and inherit its direction. The march is one
    (box, radius, side) probe grid; each box takes its first hit."""
    chains: list[list[int]] = [[] for _ in range(lineid_count)]
    boxes = np.nonzero((P.subtype & 6) != 6)[0]
    if not len(boxes):
        return chains
    cx = P.cx[boxes][:, None]
    cy = P.cy[boxes][:, None]
    reach = (np.maximum(P.w[boxes], P.h[boxes]) / 2).astype(np.int64)
    di = np.arange(0, int(reach.max()) + 1, SCALE)
    # (box, radius, side) with sides in probe order left, right, up, down
    px = np.stack(np.broadcast_arrays(cx - di, cx + di, cx, cx), axis=2)
    py = np.stack(np.broadcast_arrays(cy, cy, cy - di, cy + di), axis=2)
    x = (px / SCALE).astype(np.int64)
    y = (py / SCALE).astype(np.int64)
    inb = (x >= 0) & (x < P.W) & (y >= 0) & (y < P.H)
    x = np.where(inb, x, 0)
    y = np.where(inb, y, 0)
    lid = lineid_map[y, x]
    ang = angle_map[y, x]
    hit = ((di[None, :] <= reach[:, None])[:, :, None] & inb & (lid >= 0)
           & ~np.isnan(ang)).reshape(len(boxes), -1)
    first = hit.argmax(axis=1)
    found = hit[np.arange(len(boxes)), first]
    rows = np.nonzero(found)[0]
    lid = lid.reshape(len(boxes), -1)[rows, first[rows]]
    P.direction[boxes[rows]] = ang.reshape(len(boxes), -1)[rows, first[rows]]
    for boxid, lineid in zip(boxes[rows].tolist(), lid.tolist()):
        chains[lineid].append(boxid)
    return chains


def line_grow(P: Page, lineid_count: int, angle_map: np.ndarray,
              lineid_map: np.ndarray, chains: list[list[int]]) -> np.ndarray:
    """Thicken each line by its chained boxes' max size so a second
    chain_boxes pass catches boxes the thin skeleton missed
    (line_grow hough_linefind.cpp:123-198). Horizontal lines grow upward
    by max height; vertical grow sideways by max width/2.

    The reference visits line cells in row-major order; a grow claims
    only free cells and writes the visiting cell's direction into
    ``angle_map`` (mutated in place). Upward grows only reach rows
    already visited, whose line cells are claimed, so they are one
    first-claimer-wins pass after all rows. A sideways grow can claim a
    not-yet-visited line cell to its right and so change that cell's
    direction; only rows holding a vertical-direction cell can do this,
    and those rows replay the scalar walk."""
    line_width = np.zeros(lineid_count)
    bb = np.fromiter((b for c in chains for b in c), dtype=np.int64)
    if len(bb):
        lids = np.repeat(np.arange(lineid_count), [len(c) for c in chains])
        np.maximum.at(line_width, lids,
                      np.where(np.abs(P.direction[bb]) < M_PI_4, P.h[bb],
                               np.maximum(P.w[bb], P.h[bb])))
    line_width /= SCALE
    H, W = P.H, P.W
    blocker = P.lineblocker
    map2 = np.full((H, W), -1, dtype=np.int32)
    ys, xs = np.nonzero((lineid_map >= 0) & ~blocker)
    lid = lineid_map[ys, xs]
    mw = line_width[lid].astype(np.int64)

    sideways = ~(np.abs(angle_map[ys, xs]) < M_PI_4)
    for y in np.unique(ys[sideways]).tolist():
        lo, hi = np.searchsorted(ys, [y, y + 1])
        _grow_row_sideways(map2[y], angle_map[y], blocker[y],
                           xs[lo:hi], lid[lo:hi], mw[lo:hi])
    map2[ys, xs] = lid

    d = angle_map[ys, xs]
    up = np.nonzero(np.abs(d) < M_PI_4)[0]
    if len(up):
        sy, sx = ys[up], xs[up]
        top = np.maximum(sy - mw[up], 0)
        if blocker.any():
            # below the nearest blocker row above each cell
            last_blk = np.maximum.accumulate(
                np.where(blocker, np.arange(H)[:, None], -1), axis=0)
            top = np.maximum(top, last_blk[np.maximum(sy - 1, 0), sx] + 1)
        cnt = np.maximum(sy - top, 0)
        src = np.repeat(np.arange(len(up)), cnt)
        k = np.arange(len(src)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        flat = (sy[src] - 1 - k) * W + sx[src]
        free = map2.ravel()[flat] < 0
        claim = np.full(H * W, _NO_WRITER, dtype=np.int64)
        np.minimum.at(claim, flat[free], src[free])
        cells = np.nonzero(claim < _NO_WRITER)[0]
        winner = up[claim[cells]]
        map2.ravel()[cells] = lid[winner]
        angle_map.ravel()[cells] = d[winner]
    return map2


def _grow_row_sideways(map_row: np.ndarray, angle_row: np.ndarray,
                       blocker_row: np.ndarray, xs: np.ndarray,
                       lids: np.ndarray, mws: np.ndarray) -> None:
    """The reference's per-cell walk over one row's line cells (in x
    order), sideways grows only: a vertical-direction cell claims the
    free cells up to mw//2 left and right of it, stopping at a blocker.
    Writes ``map_row`` and ``angle_row`` in place."""
    W = len(map_row)
    row_map = [-1] * W
    row_ang = angle_row.tolist()
    row_blk = blocker_row.tolist()
    for x, lid, mw in zip(xs.tolist(), lids.tolist(), mws.tolist()):
        row_map[x] = lid
        direction = row_ang[x]
        if abs(direction) < M_PI_4:
            continue
        for x2 in range(x, max(-1, x - mw // 2 - 1), -1):
            if row_blk[x2]:
                break
            if row_map[x2] < 0:
                row_map[x2] = lid
                row_ang[x2] = direction
        for x2 in range(x, min(W, x + mw // 2 + 1)):
            if row_blk[x2]:
                break
            if row_map[x2] < 0:
                row_map[x2] = lid
                row_ang[x2] = direction
    map_row[:] = row_map
    angle_row[:] = row_ang


def linefind(P: Page) -> list[list[int]]:
    """Detect textline components, attach boxes, grow, re-attach
    (linefind hough_linefind.cpp:336-355)."""
    lineid_map, count = detect_line(P)
    angle_map, lineid_map, count = set_angle(P, lineid_map, count)
    chains = chain_boxes(P, count, angle_map, lineid_map)
    lineid_map = line_grow(P, count, angle_map, lineid_map, chains)
    chains = chain_boxes(P, count, angle_map, lineid_map)
    fix_chain_info(P, chains)
    return chains


# ---------------------------------------------------------------- chains

def sort_chain(chain: list[int], P: Page) -> None:
    """W1 in-chain reading sort (sort_chain search_loop.cpp:12-65): sort by
    the line axis; runs of boxes overlapping the group head's span re-sort
    by the cross axis (e.g. stacked punctuation in horizontal text)."""
    if not chain:
        return
    if abs(P.direction[chain[0]]) < M_PI_4:
        axis, cross, size = P.cx, P.cy, P.w
    else:
        axis, cross, size = P.cy, P.cx, P.h
    keyed = sorted(zip(axis[chain].tolist(), chain))
    a = [k for k, _ in keyed]
    out = [b for _, b in keyed]
    reach = (axis[out] + size[out] / 2).tolist()
    # a group runs from its head while the next box starts before the
    # head's half-size reach
    i, n = 0, len(out)
    while i < n - 1:
        j = i + 1
        while j < n and reach[i] > a[j]:
            j += 1
        if j - i > 1:
            out[i:j] = sorted(out[i:j], key=lambda b: (cross[b], b))
        i = j
    chain[:] = out


def fix_chain_info(P: Page, chains: list[list[int]]) -> None:
    """P9 degenerate-chain drop (<2 boxes) + per-chain reading sort
    (fix_chain_info search_loop.cpp:67-85). Dropped boxes become unbound
    and are re-attached by fix_unbined / number_unbind."""
    chains[:] = [c for c in chains if len(c) >= 2]
    for chain in chains:
        sort_chain(chain, P)


def _plain_boxes(P: Page, chain: list[int]) -> np.ndarray:
    """The chain's non-ruby, non-warichu boxes, in chain order."""
    idx = np.asarray(chain, dtype=np.int64)
    return idx[((P.subtype[idx] & 6) != 6) & (P.double_line[idx] == 0)]


def search_chain(P: Page, nonruby: np.ndarray):
    """A5 weighted endpoint anchors (search_chain search_loop.cpp:87-177):
    start/end transverse anchor = positional-decay weighted mean of the
    chain's non-ruby, non-warichu boxes (``_plain_boxes``); direction
    re-derived from the anchors."""
    if not len(nonruby):
        return 0.0, 0.0, 0.0, -1.0, -1.0, -1.0, -1.0
    ws, hs = P.w[nonruby], P.h[nonruby]
    w, h = ws.max(), hs.max()
    direction = P.direction[nonruby[0]]
    n = len(nonruby)
    k = np.arange(n)
    area = ws * hs
    wt1 = area / (k + 1)
    wt2 = area / (n - k)
    if abs(direction) < M_PI_4:
        cys = P.cy[nonruby]
        start_cy = float((cys * wt1).sum() / wt1.sum())
        end_cy = float((cys * wt2).sum() / wt2.sum())
        start_cx = float(P.cx[nonruby[0]])
        end_cx = float(P.cx[nonruby[-1]])
        direction = math.atan2(end_cy - start_cy, end_cx - start_cx)
        if direction > M_PI_2:
            direction -= M_PI
    else:
        cxs = P.cx[nonruby]
        start_cx = float((cxs * wt1).sum() / wt1.sum())
        end_cx = float((cxs * wt2).sum() / wt2.sum())
        start_cy = float(P.cy[nonruby[0]])
        end_cy = float(P.cy[nonruby[-1]])
        direction = math.atan2(end_cy - start_cy, end_cx - start_cx)
    return direction, w, h, start_cx, start_cy, end_cx, end_cy


def find_linecenter_id(P: Page, chains: list[list[int]], chainid: int):
    """Boxes tracking the line center (find_linecenter_id
    search_loop.cpp:180-236): big-enough non-ruby boxes within half a
    line-size of the center fit line."""
    nonruby = _plain_boxes(P, chains[chainid])
    direction, w, h, s_cx, s_cy, e_cx, e_cy = search_chain(P, nonruby)
    s = max(w, h)
    if not s > 0:
        return [], direction, w, h, s_cx, s_cy, e_cx, e_cy
    cand = nonruby[np.maximum(P.w[nonruby], P.h[nonruby]) / s >= 0.4]
    if not len(cand):
        return [], direction, w, h, s_cx, s_cy, e_cx, e_cy
    cx, cy = P.cx[cand], P.cy[cand]
    # builtin sum: the left-to-right float fold of the reference
    center_x = sum(cx.tolist()) / len(cand)
    center_y = sum(cy.tolist()) / len(cand)
    if abs(direction) < M_PI_4:
        fit = math.tan(direction) * (cx - center_x) + center_y
        near = np.abs(fit - cy) < s / 2
    else:
        fit = math.tan(M_PI_2 - direction) * (cy - center_y) + center_x
        near = np.abs(fit - cx) < s / 2
    return (cand[near].tolist(), direction, w, h,
            s_cx, s_cy, e_cx, e_cy)


def _interp_samples(p1, q1, p2, q2) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized polyline sampling — exact equivalent of the scalar
    per-segment walk ``xp = int(p1); while xp < p2: emit (xp,
    int((xp - p1) * a + q1)); xp += SCALE`` over all segments at once
    (same truncation-toward-zero semantics via astype(int64))."""
    p1 = np.asarray(p1, dtype=np.float64)
    q1 = np.asarray(q1, dtype=np.float64)
    p2 = np.asarray(p2, dtype=np.float64)
    q2 = np.asarray(q2, dtype=np.float64)
    valid = p2 != p1
    a = np.where(valid, (q2 - q1) / np.where(valid, p2 - p1, 1.0), 0.0)
    ip1 = p1.astype(np.int64)
    n = np.ceil((p2 - ip1) / SCALE).astype(np.int64)
    n = np.where(valid, np.maximum(n, 0), 0)
    total = int(n.sum())
    k_idx = np.arange(total) - np.repeat(np.cumsum(n) - n, n)
    p_all = np.repeat(ip1, n) + SCALE * k_idx
    q_all = ((p_all - np.repeat(p1, n)) * np.repeat(a, n)
             + np.repeat(q1, n)).astype(np.int64)
    return p_all, q_all


def _track_extension(P: Page, horizontal: bool, p_start: float,
                     reach: float, step: int, p_ref: float, q_ref: float,
                     a: float) -> tuple[np.ndarray, np.ndarray]:
    """Track-line extension past one end, vectorized: the scalar walk
    ``p = int(p_start); while p beyond-limit: q = int((p - p_ref) * a +
    q_ref); stop at a blocker cell, emit in-page points; p += step``
    (``step`` is +-SCALE; p runs along the line axis). Points come back
    in walk order."""
    lim = p_start + reach if step > 0 else p_start - reach
    p0 = int(p_start)
    p = p0 + step * np.arange(int(abs(lim - p0) // SCALE) + 2)
    p = p[p < lim] if step > 0 else p[p > lim]
    q = ((p - p_ref) * a + q_ref).astype(np.int64)
    gp, gq = p // SCALE, q // SCALE
    gx, gy = (gp, gq) if horizontal else (gq, gp)
    inb = (gx >= 0) & (gx < P.W) & (gy >= 0) & (gy < P.H)
    hit = np.nonzero(P.lineblocker[gy[inb], gx[inb]])[0]
    keep = np.nonzero(inb)[0]
    if len(hit):
        keep = keep[:hit[0]]
    return p[keep], q[keep]


def make_track_line(P: Page, chains: list[list[int]], chainid: int,
                    extra_len: int = 0):
    """Center track polyline of a chain, sampled every SCALE px
    (make_track_line search_loop.cpp:239-449). Returns (xs, ys, direction,
    w, h): int64 arrays in pixel coords plus the chain's search_chain
    direction and max box size; extra_len extends past both ends (ruby
    probe). Built in (p, q) = (line axis, cross axis) coordinates."""
    sel, direction, w, h, _sx, _sy, _ex, _ey = \
        find_linecenter_id(P, chains, chainid)
    if not sel:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, direction, w, h
    horizontal = abs(direction) < M_PI_4
    if horizontal:
        axis, cross, size, span = P.cx, P.cy, P.w, w
    else:
        axis, cross, size, span = P.cy, P.cx, P.h, h
    idx = np.asarray(chains[chainid], dtype=np.int64)
    idx = idx[(P.subtype[idx] & 6) != 6]
    # the track follows the running midpoint of the selected boxes'
    # cross positions: fold over the selected boxes (a float recurrence,
    # kept scalar), then carry each value forward to the next selection
    track = [float(cross[sel[0]])]
    for v in cross[sel].tolist():
        track.append((track[-1] + v) / 2)
    insel = np.zeros(P.n, dtype=bool)
    insel[sel] = True
    insel = insel[idx]
    first, last = sel[0], sel[-1]
    pi = np.concatenate(([axis[first] - size[first] / 2], axis[idx],
                         [axis[last] + size[last] / 2]))
    qi = np.concatenate(([cross[first]],
                         np.asarray(track)[np.cumsum(insel)],
                         [cross[last]]))
    ps, qs = _interp_samples(pi[:-1], qi[:-1], pi[1:], qi[1:])
    if extra_len > 0:
        reach = extra_len * span * 2
        p1, q1, p2, q2 = pi[0], qi[0], pi[1], qi[1]
        a = (q2 - q1) / (p2 - p1) if p2 != p1 else 0.0
        hp, hq = _track_extension(P, horizontal, p1, reach, -SCALE,
                                  p1, q1, a)
        p1, q1, p2, q2 = pi[-2], qi[-2], pi[-1], qi[-1]
        a = (q2 - q1) / (p2 - p1) if p2 != p1 else 0.0
        tp, tq = _track_extension(P, horizontal, p2, reach, SCALE,
                                  p1, q1, a)
        ps = np.concatenate((hp[::-1], ps, tp))
        qs = np.concatenate((hq[::-1], qs, tq))
    if horizontal:
        return ps, qs, direction, w, h
    return qs, ps, direction, w, h


def create_chainid_map(P: Page, chains: list[list[int]], ratio: float = 1.0,
                       extra_len: int = 0) -> np.ndarray:
    """Chain-id raster: the spatial index that turns every probe join into
    an O(1) lookup (create_chainid_map search_loop.cpp:451-522). Track
    lines are stamped with a transverse band of size/3*ratio, then each
    chained non-ruby box's rectangle is stamped.

    The raster is a pure function of the arguments plus ``P.direction``,
    ``P.double_line``, the ruby bits of ``P.subtype`` and
    ``P.lineblocker`` (box geometry never changes), so the last build is
    kept on the page, keyed on the content of exactly those inputs, and
    returned read-only."""
    key = (tuple(map(tuple, chains)), ratio, extra_len)
    state = (P.direction, P.double_line, (P.subtype & 6) == 6,
             P.lineblocker)
    memo = P.cmap_memo
    if memo is not None and memo[0] == key and all(
            np.array_equal(a, b) for a, b in zip(memo[1], state)):
        return memo[2]
    cmap = _build_chainid_map(P, chains, ratio, extra_len)
    cmap.setflags(write=False)
    P.cmap_memo = (key, tuple(np.array(a) for a in state), cmap)
    return cmap


def _first_claim(cmap: np.ndarray, flat: np.ndarray, ids: np.ndarray
                 ) -> None:
    """Write ``ids`` into the still-free cells ``flat`` of ``cmap``, first
    writer wins. ``ids`` must not decrease in writing order, so the first
    writer of a cell is its smallest id."""
    free = cmap.ravel()[flat] < 0
    first = np.full(cmap.size, _NO_WRITER, dtype=np.int64)
    np.minimum.at(first, flat[free], ids[free])
    won = np.nonzero(first < _NO_WRITER)[0]
    cmap.ravel()[won] = first[won]


def _rect_cells(left: np.ndarray, right: np.ndarray, top: np.ndarray,
                bottom: np.ndarray, W: int) -> tuple[np.ndarray, np.ndarray]:
    """Flat cell indices of the half-open rectangles [top, bottom) x
    [left, right), rectangle by rectangle in row-major order, and the
    rectangle each cell belongs to."""
    wid = np.maximum(right - left, 0)
    cnt = wid * np.maximum(bottom - top, 0)
    r = np.repeat(np.arange(len(cnt)), cnt)
    k = np.arange(len(r)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return (top[r] + k // wid[r]) * W + left[r] + k % wid[r], r


def _build_chainid_map(P: Page, chains: list[list[int]], ratio: float,
                       extra_len: int) -> np.ndarray:
    cmap = np.full((P.H, P.W), -1, dtype=np.int32)
    # track bands: every chain's (point, offset) cells in chain order; a
    # cell keeps the first chain that reaches it
    xs_all, ys_all, ids, bands, horiz = [], [], [], [], []
    for chainid, chain in enumerate(chains):
        if not chain:
            continue
        xs, ys, direction, w, h = make_track_line(P, chains, chainid,
                                                  extra_len)
        n = len(xs)
        if not n:
            continue
        xs_all.append(xs)
        ys_all.append(ys)
        ids.append(np.full(n, chainid, dtype=np.int64))
        bands.append(np.full(n, int(max(w, h) / 3 / SCALE * ratio),
                             dtype=np.int64))
        horiz.append(np.full(n, abs(direction) < M_PI_4))
    if xs_all:
        xa = np.concatenate(xs_all) // SCALE
        ya = np.concatenate(ys_all) // SCALE
        inb = (xa >= 0) & (xa < P.W) & (ya >= 0) & (ya < P.H)
        xa, ya = xa[inb], ya[inb]
        cid = np.concatenate(ids)[inb]
        band = np.concatenate(bands)[inb]
        hz = np.concatenate(horiz)[inb]
        reps = 2 * band
        pt = np.repeat(np.arange(len(xa)), reps)
        off = (np.arange(len(pt)) - np.repeat(np.cumsum(reps) - reps, reps)
               - band[pt])
        rows = ya[pt] + np.where(hz[pt], off, 0)
        cols = xa[pt] + np.where(hz[pt], 0, off)
        ok = (rows >= 0) & (rows < P.H) & (cols >= 0) & (cols < P.W)
        _first_claim(cmap, rows[ok] * P.W + cols[ok], cid[pt][ok])
    # box rectangles of the chained non-ruby boxes, in chain order
    bb = np.fromiter((b for c in chains for b in c), dtype=np.int64)
    if len(bb):
        cc_ids = np.repeat(np.arange(len(chains)),
                           [len(c) for c in chains])
        keep = (P.subtype[bb] & 6) != 6
        bb, cc_ids = bb[keep], cc_ids[keep]
        left = np.maximum(
            ((P.cx[bb] - P.w[bb] / 2) / SCALE).astype(np.int64), 0)
        right = np.minimum(
            ((P.cx[bb] + P.w[bb] / 2) / SCALE).astype(np.int64), P.W)
        top = np.maximum(
            ((P.cy[bb] - P.h[bb] / 2) / SCALE).astype(np.int64), 0)
        bottom = np.minimum(
            ((P.cy[bb] + P.h[bb] / 2) / SCALE).astype(np.int64), P.H)
        flat, r = _rect_cells(left, right, top, bottom, P.W)
        _first_claim(cmap, flat, cc_ids[r])
    return cmap


# ---------------------------------------------------------------- search_loop

def _ema_toward_front(axis: list[float], chain: list[int]) -> float:
    """A6 EMA scan folded back-to-front: anchor for the chain start
    (combine_chains search_loop.cpp:607-613)."""
    v = axis[chain[-1]]
    for boxid in reversed(chain):
        v = 0.25 * v + 0.75 * axis[boxid]
    return v


def _ema_toward_back(axis: list[float], chain: list[int]) -> float:
    """A6 EMA scan folded front-to-back: anchor for the chain end
    (combine_chains search_loop.cpp:615-619)."""
    v = axis[chain[0]]
    for boxid in chain:
        v = 0.25 * v + 0.75 * axis[boxid]
    return v


def _mean_gap(axis: list[float], size: list[float], chain: list[int]
              ) -> float:
    """A7 mean positive inter-box gap along the chain axis
    (combine_chains search_loop.cpp:621-632)."""
    total = 0.0
    for a, b in zip(chain, chain[1:]):
        g = (axis[b] - size[b] / 2) - (axis[a] + size[a] / 2)
        if g > 0:
            total += g
    return max(0.0, total / (len(chain) - 1)) if len(chain) > 1 else 0.0


def process_merge(chains: list[list[int]], merge_chain: list[int]) -> None:
    """Resolve the merge-edge forest into concatenated chains, with the
    cycle check of process_merge (search_loop.cpp:524-574): a merge cycle
    spawns a fresh chain so the members still coalesce."""
    root_id = [-1] * len(chains)
    new_id = len(chains)
    for i in range(len(merge_chain)):
        if merge_chain[i] == -1:
            continue
        loop_check = []
        j = merge_chain[i]
        loop_check.append(j)
        while merge_chain[j] not in loop_check and merge_chain[j] != -1:
            j = merge_chain[j]
            loop_check.append(j)
        if merge_chain[j] != -1:
            k = -1
            for c in loop_check:
                if root_id[c] < 0:
                    continue
                k = root_id[c]
                break
            if k < 0:
                chains.append([])
                root_id.append(-1)
                root_id[i] = new_id
                new_id = len(chains)
            else:
                root_id[i] = k
        else:
            root_id[i] = j
    for i in range(len(root_id)):
        if root_id[i] < 0:
            continue
        chains[root_id[i]].extend(chains[i])
        chains[i] = []
    for i in range(len(chains)):
        if len(chains[i]) < 2:
            continue
        chains[i] = sorted(set(chains[i]))


def combine_chains(P: Page, chains: list[list[int]]) -> None:
    """J2 chain-merge fixpoint (combine_chains search_loop.cpp:576-891):
    each chain probes (maxsize+meangap)*3 along its axis from both ends,
    in an 11-point transverse band around the EMA anchor (A6); a unique
    same-direction same-double_line hit whose EMA anchor is within
    max(h, h_other) merges. Iterates (via process_merge) to fixpoint."""
    while True:
        fix_chain_info(P, chains)
        cmap = create_chainid_map(P, chains)
        merge_chain = merge_targets(P, chains, cmap)
        if all(m == -1 for m in merge_chain):
            break
        process_merge(chains, merge_chain)


_PROBE_K = np.arange(-5, 6)  # the 11 transverse probe offsets


def merge_targets(P: Page, chains: list[list[int]], cmap: np.ndarray
                  ) -> list[int]:
    """One combine_chains pass: the merge edge vector (``merge_chain``).

    Head (search_loop.cpp:640-690, :779-828) and tail (:693-745,
    :831-875) probe walks of every chain are one (walk, step, offset)
    grid; only grid cells that can decide a walk — a blocker or a foreign
    chain id — are replayed scalar-side, in walk order, with the
    reference's state: ``done`` is shared by a chain's head and tail walk,
    a walk stops after the first column that leaves ``done`` non-empty,
    and an accepted hit of the horizontal head probe does not enter
    ``done`` (so it does not stop the walk) while every other accepted
    hit does."""
    merge_chain = [-1] * len(chains)
    live = [c for c in range(len(chains)) if chains[c]]
    if not live:
        return merge_chain
    cx, cy = P.cx.tolist(), P.cy.tolist()
    bw, bh = P.w.tolist(), P.h.tolist()
    dirs = P.direction.tolist()
    dl = P.double_line.tolist()
    wmax = {c: max(bw[i] for i in chains[c]) for c in live}
    hmax = {c: max(bh[i] for i in chains[c]) for c in live}
    horiz = {c: abs(dirs[chains[c][0]]) < M_PI_4 for c in live}

    # per walk (2 per live chain: head, tail): axis base, step sign,
    # step count, transverse anchor and band size
    base, sign, nstep, anchor, band, whoriz, wchain = ([] for _ in range(7))
    anchors = {}
    for c in live:
        chain = chains[c]
        w, h = wmax[c], hmax[c]
        if horiz[c]:
            start0, end0 = (_ema_toward_front(cy, chain),
                            _ema_toward_back(cy, chain))
            reach = int((w + _mean_gap(cx, bw, chain)) * 3.0)
            base += [cx[chain[0]] - w / 2, cx[chain[-1]] + w / 2]
            band += [h, h]
        else:
            start0, end0 = (_ema_toward_front(cx, chain),
                            _ema_toward_back(cx, chain))
            reach = int((h + _mean_gap(cy, bh, chain)) * 3.0)
            base += [cy[chain[0]] - h / 2, cy[chain[-1]] + h / 2]
            band += [w, w]
        anchors[c] = (start0, end0)
        n = len(range(0, reach, SCALE))
        sign += [-1, 1]
        nstep += [n, n]
        anchor += [start0, end0]
        whoriz += [horiz[c], horiz[c]]
        wchain += [c, c]

    nstep_a = np.asarray(nstep, dtype=np.int64)
    walk = np.repeat(np.arange(len(nstep)), nstep_a)
    step = (np.arange(len(walk))
            - np.repeat(np.cumsum(nstep_a) - nstep_a, nstep_a)) * SCALE
    outer = ((np.asarray(base)[walk] + np.asarray(sign)[walk] * step)
             / SCALE).astype(np.int64)
    inner = ((np.asarray(anchor)[:, None]
              + np.asarray(band)[:, None] / 8.0 * _PROBE_K / 5)
             / SCALE).astype(np.int64)[walk]
    hz = np.asarray(whoriz)[walk]
    outer_ok = (outer >= 0) & (outer < np.where(hz, P.W, P.H))
    hz2 = hz[:, None]
    x = np.where(hz2, outer[:, None], inner)
    y = np.where(hz2, inner, outer[:, None])
    ok = outer_ok[:, None] & (x >= 0) & (x < P.W) & (y >= 0) & (y < P.H)
    x = np.where(ok, x, 0)
    y = np.where(ok, y, 0)
    blk = ok & P.lineblocker[y, x]
    oc = cmap[y, x]
    own = np.asarray(wchain)[walk][:, None]
    rows, ks = np.nonzero(blk | (ok & (oc >= 0) & (oc != own)))
    ev_row = rows.tolist()
    ev_blk = blk[rows, ks].tolist()
    ev_oc = oc[rows, ks].tolist()
    # first in-page column of each walk
    ok_rows = np.nonzero(outer_ok)[0]
    starts = np.cumsum(nstep_a) - nstep_a
    pos = np.searchsorted(ok_rows, starts)
    first_col = [int(ok_rows[p]) if p < len(ok_rows) and
                 ok_rows[p] < s + n else -1
                 for p, s, n in zip(pos.tolist(), starts.tolist(), nstep)]
    bounds = np.searchsorted(walk[rows], np.arange(len(nstep) + 1)).tolist()

    ema_cache: dict[tuple[int, bool, bool], float] = {}

    def ema(c: int, front: bool, on_cy: bool) -> float:
        key = (c, front, on_cy)
        if key not in ema_cache:
            axis = cy if on_cy else cx
            ema_cache[key] = (_ema_toward_front(axis, chains[c]) if front
                              else _ema_toward_back(axis, chains[c]))
        return ema_cache[key]

    def accept(c: int, head: bool, oc_v: int) -> bool:
        och = chains[oc_v]
        if not och:
            return False
        d = abs(dirs[och[-1]])
        if horiz[c]:
            if not d < M_PI_4:
                return False
            size, size1 = hmax[c], hmax[oc_v]
        else:
            if not d > M_PI_4:
                return False
            size, size1 = wmax[c], wmax[oc_v]
        if head:
            if dl[och[-1]] != dl[chains[c][0]]:
                return False
            a0, a1 = anchors[c][0], ema(oc_v, False, horiz[c])
        else:
            if dl[och[0]] != dl[chains[c][-1]]:
                return False
            a0, a1 = anchors[c][1], ema(oc_v, True, horiz[c])
        return abs(a0 - a1) < max(size, size1)

    def replay(g: int, c: int, head: bool, done: list[int]) -> list[int]:
        lo, hi = bounds[g], bounds[g + 1]
        only = first_col[g] if done else None
        other: list[int] = []
        col = None
        for r, is_blk, oc_v in zip(ev_row[lo:hi], ev_blk[lo:hi],
                                   ev_oc[lo:hi]):
            if only is not None and r != only:
                if r > only:
                    break
                continue
            if r != col:
                if done and col is not None:
                    break
                col = r
            if is_blk:
                return []
            if oc_v in done or oc_v in other:
                continue
            if accept(c, head, oc_v):
                other.append(oc_v)
                if head and horiz[c]:
                    continue
            done.append(oc_v)
        return other

    for i, c in enumerate(live):
        done: list[int] = []
        other1 = replay(2 * i, c, True, done)
        if len(other1) == 1:
            merge_chain[c] = other1[0]
        other2 = replay(2 * i + 1, c, False, done)
        if len(other2) == 1:
            merge_chain[other2[0]] = c
    return merge_chain


def count_unbind(P: Page, chains: list[list[int]]) -> int:
    return P.n - sum(len(c) for c in chains)


def fix_unbined(P: Page, chains: list[list[int]]) -> bool:
    """J3 unbound-box attach (fix_unbined search_loop.cpp:904-1088):
    9-point probe of each unattached non-ruby box against the chain-id
    raster; then directional searches 1.5x the box size (right, left for
    horizontal chains; down, up for vertical). Loops until no attach
    succeeds. Returns True if the unbound count changed."""
    fix_chain_info(P, chains)
    unbind_count = count_unbind(P, chains)
    while True:
        fix_chain_info(P, chains)
        chained = {b for c in chains for b in c}
        unbined = [i for i in range(P.n)
                   if i not in chained and not P.is_ruby(i)]
        success = 0
        it = 0
        cmap = None  # rebuilt lazily: the map only changes after an attach
        # (the reference rebuilds per box, search_loop.cpp:938 — identical
        # result, attaches are the only mutation between rebuilds)
        while it < len(unbined):
            boxid = unbined[it]
            if cmap is None:
                cmap = create_chainid_map(P, chains)
            cx, cy = P.cx[boxid], P.cy[boxid]
            w2, h2 = P.w[boxid] / 2, P.h[boxid] / 2
            probes = [
                (cx, cy),
                (cx - w2, cy - h2), (cx - w2 / 2, cy - h2 / 2),
                (cx + w2, cy - h2), (cx + w2 / 2, cy - h2 / 2),
                (cx - w2, cy + h2), (cx - w2 / 2, cy + h2 / 2),
                (cx + w2, cy + h2), (cx + w2 / 2, cy + h2 / 2),
            ]
            attached = False
            for px, py in probes:
                x, y = int(px / SCALE), int(py / SCALE)
                if not (0 <= x < P.W and 0 <= y < P.H):
                    continue
                oc = cmap.item(y, x)
                if oc >= 0 and chains[oc]:
                    chains[oc].append(boxid)
                    P.direction[boxid] = P.direction[chains[oc][0]]
                    success += 1
                    del unbined[it]
                    attached = True
                    break
            if attached:
                cmap = None
                continue

            def _directional(horiz_first: bool, sign: int) -> bool:
                # horizontal probes scan a w*1.5 strip right/left of the
                # box; vertical probes h*1.5 above/below; reject on blocker
                if horiz_first:
                    xi = cx + sign * w2
                    limit = cx + sign * P.w[boxid] * 1.5
                    while (xi < limit) if sign > 0 else (xi > limit):
                        x1 = int(xi / SCALE)
                        if x1 < 0 or x1 >= P.W:
                            break
                        yi = cy - h2
                        while yi < cy + h2:
                            y1 = int(yi / SCALE)
                            yi += SCALE
                            if y1 < 0 or y1 >= P.H:
                                continue
                            if P.lineblocker[y1, x1]:
                                return False
                            oc2 = cmap.item(y1, x1)
                            if oc2 >= 0 and chains[oc2] and \
                                    abs(P.direction[chains[oc2][0]]) < M_PI_4:
                                chains[oc2].append(boxid)
                                P.direction[boxid] = P.direction[chains[oc2][0]]
                                return True
                        xi += sign * SCALE
                else:
                    yi = cy + sign * h2
                    limit = cy + sign * P.h[boxid] * 1.5
                    while (yi < limit) if sign > 0 else (yi > limit):
                        y1 = int(yi / SCALE)
                        if y1 < 0 or y1 >= P.H:
                            break
                        xi = cx - w2
                        while xi < cx + w2:
                            x1 = int(xi / SCALE)
                            xi += SCALE
                            if x1 < 0 or x1 >= P.W:
                                continue
                            if P.lineblocker[y1, x1]:
                                return False
                            oc2 = cmap.item(y1, x1)
                            if oc2 >= 0 and chains[oc2] and \
                                    abs(P.direction[chains[oc2][0]]) > M_PI_4:
                                chains[oc2].append(boxid)
                                P.direction[boxid] = P.direction[chains[oc2][0]]
                                return True
                        yi += sign * SCALE
                return False

            if _directional(True, +1) or _directional(True, -1) or \
                    _directional(False, +1) or _directional(False, -1):
                success += 1
                del unbined[it]
                cmap = None
                continue
            it += 1
        if success == 0:
            break
    return unbind_count != count_unbind(P, chains)


def chain_space(P: Page, chains: list[list[int]], idimage: np.ndarray) -> None:
    """Space-flagged singletons become provisional chains and scan backward
    (left / up) for unbound boxes or a continuing chain
    (chain_space search_loop.cpp:1090-1249)."""
    fix_chain_info(P, chains)
    chained = {b for c in chains for b in c}
    unbined = [i for i in range(P.n) if i not in chained]
    # ruby removed; space-flagged singletons become chains
    unbined2 = []
    for i in unbined:
        if P.is_ruby(i):
            continue
        if (P.subtype[i] & SUBTYPE_SPACE) == SUBTYPE_SPACE:
            chains.append([i])
        else:
            unbined2.append(i)
    unbined = unbined2

    cmap = create_chainid_map(P, chains)
    chain_cont = [-1] * len(chains)
    for chainid, chain in enumerate(chains):
        if not chain:
            continue
        first = chain[0]
        if (P.subtype[first] & SUBTYPE_SPACE) != SUBTYPE_SPACE:
            continue
        direction = P.direction[first]
        if len(chain) > 1:
            if abs(direction) < M_PI_4:
                ave = sum(P.cx[chain[k + 1]] - P.cx[chain[k]]
                          for k in range(len(chain) - 1)) / (len(chain) - 1)
            else:
                ave = sum(P.cy[chain[k + 1]] - P.cy[chain[k]]
                          for k in range(len(chain) - 1)) / (len(chain) - 1)
        else:
            ave = P.w[first] if abs(direction) < M_PI_4 else P.h[first]

        if abs(direction) < M_PI_4:
            y0, hh = P.cy[first], P.h[first]
            x = P.cx[first] - P.w[first] / 2
            stop = x - ave * 3
            found = False
            while x > stop and not found:
                ix = int(x / SCALE)
                x -= SCALE
                if ix < 0 or ix >= P.W:
                    continue
                y = y0 - hh / 2
                while y < y0 + hh / 2:
                    iy = int(y / SCALE)
                    y += SCALE
                    if iy < 0 or iy >= P.H:
                        continue
                    if P.sepimage.item(iy, ix) > SEP_VALUETH2:
                        found = True
                        break
                    oc = cmap.item(iy, ix)
                    if oc < 0 or oc == chainid:
                        ob = idimage.item(iy, ix)
                        if ob < 0:
                            continue
                        if ob in unbined:
                            chain.append(int(ob))
                            unbined.remove(ob)
                            P.direction[ob] = direction
                            found = True
                            break
                        continue
                    if chain_cont[chainid] < 0:
                        chain_cont[chainid] = oc
                        found = True
                        break
        else:
            x0, ww = P.cx[first], P.w[first]
            y = P.cy[first] - P.h[first] / 2
            stop = y - ave * 2
            found = False
            while y > stop and not found:
                iy = int(y / SCALE)
                y -= SCALE
                if iy < 0 or iy >= P.H:
                    continue
                x = x0 - ww / 2
                while x < x0 + ww / 2:
                    ix = int(x / SCALE)
                    x += SCALE
                    if ix < 0 or ix >= P.W:
                        continue
                    if P.sepimage.item(iy, ix) > SEP_VALUETH2:
                        found = True
                        break
                    oc = cmap.item(iy, ix)
                    if oc < 0 or oc == chainid:
                        ob = idimage.item(iy, ix)
                        if ob < 0:
                            continue
                        if ob in unbined:
                            chain.append(int(ob))
                            unbined.remove(ob)
                            P.direction[ob] = direction
                            found = True
                            break
                        continue
                    if chain_cont[chainid] < 0:
                        chain_cont[chainid] = oc
                        found = True
                        break

    # resolve continuation roots with cycle guard (search_loop.cpp:1228-1246)
    for chainid in range(len(chains)):
        if chain_cont[chainid] < 0:
            continue
        seen: list[int] = []
        root = chain_cont[chainid]
        while root >= 0 and root not in seen:
            seen.append(root)
            root = chain_cont[root]
        chain_cont[chainid] = root
    for chainid in range(len(chains)):
        root = chain_cont[chainid]
        if root < 0:
            continue
        chains[root].extend(chains[chainid])
        chains[chainid] = []
    fix_chain_info(P, chains)


def split_doubleline1(P: Page, chains: list[list[int]]) -> None:
    """Separate mixed-direction boxes out of a chain
    (split_doubleline1 split_doubleline.cpp:13-72)."""
    fix_chain_info(P, chains)
    i = 0
    while i < len(chains):
        chain = chains[i]
        if len(chain) < 3:
            i += 1
            continue
        direction = P.direction[chain[0]]
        if abs(direction) < M_PI_4:
            splited = [b for b in chain if abs(P.direction[b]) >= M_PI_4]
        else:
            splited = [b for b in chain if abs(P.direction[b]) < M_PI_4]
        if len(splited) == len(chain) or not splited:
            i += 1
            continue
        chains[i] = [b for b in chain if b not in splited]
        if len(splited) >= 2:
            sort_chain(splited, P)
            chains.insert(i, splited)
            i += 1
        i += 1


def split_doubleline2(P: Page, chains: list[list[int]]) -> None:
    """Split a chain at a gap over 3x its max box size
    (split_doubleline2 split_doubleline.cpp:75-147)."""
    fix_chain_info(P, chains)
    i = 0
    while i < len(chains):
        chain = chains[i]
        if len(chain) < 3:
            i += 1
            continue
        max_s = max(max(P.w[b], P.h[b]) for b in chain)
        direction = P.direction[chain[0]]
        splited = []
        split_flag = False
        prev = P.cx[chain[0]] if abs(direction) < M_PI_4 else P.cy[chain[0]]
        for b in chain:
            cur = P.cx[b] if abs(direction) < M_PI_4 else P.cy[b]
            if abs(cur - prev) > 3 * max_s:
                split_flag = True
            if split_flag:
                splited.append(b)
            prev = cur
        if len(splited) == len(chain) or not splited:
            i += 1
            continue
        chains[i] = [b for b in chain if b not in splited]
        if len(splited) >= 2:
            sort_chain(splited, P)
            chains.insert(i, splited)
            i += 1
        i += 1


def split_doubleline3(P: Page, chains: list[list[int]]) -> None:
    """Detect warichu (inline double-line) runs: consecutive boxes whose
    axis spans overlap >20% and whose cross-axis centers are clearly two
    rows get double_line=1 (first row) / 2 (second row); then extend the
    marks across the run by closeness to each row's mean
    (split_doubleline3 split_doubleline.cpp:150-317)."""
    fix_chain_info(P, chains)
    for chain in chains:
        if len(chain) < 3:
            continue
        if any(P.double_line[b] > 0 for b in chain):
            continue
        direction = P.direction[chain[0]]
        if abs(direction) < M_PI_4:
            last_sx = last_ex = -1.0
            last_idx = -1
            for b in chain:
                if P.is_ruby(b):
                    continue
                cx, w = P.cx[b], P.w[b]
                minx = max(last_sx, cx - w / 2)
                maxx = min(last_ex, cx + w / 2)
                if last_idx >= 0 and minx < maxx and (maxx - minx) > w * 0.2:
                    if P.cy[last_idx] < P.cy[b]:
                        if P.cy[last_idx] + P.h[last_idx] / 2 * 0.75 < \
                                P.cy[b] - P.h[b] / 2 * 0.75:
                            P.double_line[last_idx] = 1
                            P.double_line[b] = 2
                    else:
                        if P.cy[b] + P.h[b] / 2 * 0.75 < \
                                P.cy[last_idx] - P.h[last_idx] / 2 * 0.75:
                            P.double_line[last_idx] = 2
                            P.double_line[b] = 1
                last_sx, last_ex = cx - w / 2, cx + w / 2
                last_idx = b
            if any(P.double_line[b] > 0 for b in chain):
                h1 = [P.h[b] for b in chain if P.double_line[b] > 0]
                cy1 = [P.cy[b] for b in chain if P.double_line[b] == 1]
                cy2 = [P.cy[b] for b in chain if P.double_line[b] == 2]
                h_s = sum(h1) / len(h1)
                cy1_s = sum(cy1) / len(cy1) if cy1 else -1
                cy2_s = sum(cy2) / len(cy2) if cy2 else -1
                splitcount = 0
                for b in chain:
                    if P.is_ruby(b):
                        continue
                    if P.double_line[b] > 0:
                        splitcount += 1
                    if splitcount > 1 and P.double_line[b] == 0:
                        if abs(P.cy[b] - cy1_s) < h_s / 5:
                            P.double_line[b] = 1
                        elif abs(P.cy[b] - cy2_s) < h_s / 5:
                            P.double_line[b] = 2
                        else:
                            splitcount = 0
        else:
            max_h = max((P.h[b] for b in chain), default=0.0)
            last_sy = last_ey = -1.0
            last_idx = -1
            for b in chain:
                if P.is_ruby(b):
                    continue
                cy, h = P.cy[b], P.h[b]
                miny = max(last_sy, cy - h / 2)
                maxy = min(last_ey, cy + h / 2)
                if last_idx >= 0 and h < max_h * 0.75 and \
                        miny < maxy and (maxy - miny) > h * 0.2:
                    if P.cx[last_idx] > P.cx[b]:
                        if P.cx[b] + P.w[b] / 2 * 0.75 < \
                                P.cx[last_idx] - P.w[last_idx] / 2 * 0.75:
                            P.double_line[last_idx] = 1
                            P.double_line[b] = 2
                    else:
                        if P.cx[last_idx] + P.w[last_idx] / 2 * 0.75 < \
                                P.cx[b] - P.w[b] / 2 * 0.75:
                            P.double_line[last_idx] = 2
                            P.double_line[b] = 1
                last_sy, last_ey = cy - h / 2, cy + h / 2
                last_idx = b
            if any(P.double_line[b] > 0 for b in chain):
                w1 = [P.w[b] for b in chain if P.double_line[b] > 0]
                s1 = [max(P.w[b], P.h[b]) for b in chain if P.double_line[b] > 0]
                cx1 = [P.cx[b] for b in chain if P.double_line[b] == 1]
                cx2 = [P.cx[b] for b in chain if P.double_line[b] == 2]
                w_s = sum(w1) / len(w1)
                s_s = sum(s1) / len(s1)
                cx1_s = sum(cx1) / len(cx1) if cx1 else -1
                cx2_s = sum(cx2) / len(cx2) if cx2 else -1
                splitcount = 0
                for b in chain:
                    if P.is_ruby(b):
                        continue
                    if P.double_line[b] > 0:
                        splitcount += 1
                    elif splitcount > 2:
                        if max(P.w[b], P.h[b]) > s_s * 1.5:
                            splitcount = 0
                            continue
                        if P.cx[b] - P.w[b] / 2 * 0.75 > cx2_s + w_s / 2 * 0.75:
                            P.double_line[b] = 1
                        elif P.cx[b] + P.w[b] / 2 * 0.75 < cx1_s - w_s / 2 * 0.75:
                            P.double_line[b] = 2
                        else:
                            splitcount = 0


def search_loop(P: Page, chains: list[list[int]], idimage: np.ndarray) -> None:
    """combine/fix fixpoint + warichu split + space chains
    (search_loop search_loop.cpp:1251-1270)."""
    while True:
        combine_chains(P, chains)
        if not fix_unbined(P, chains):
            break
    split_doubleline1(P, chains)
    split_doubleline2(P, chains)
    split_doubleline3(P, chains)
    chain_space(P, chains, idimage)


# ---------------------------------------------------------------- after_search

def fix_shortchain(P: Page, chains: list[list[int]]) -> None:
    """Short chains re-derive direction from their endpoints
    (fix_shortchain after_search.cpp:17-41)."""
    for chain in chains:
        if 0 < len(chain) < 3:
            id1, id2 = chain[0], chain[-1]
            diffx = abs(P.cx[id1] - P.cx[id2])
            diffy = abs(P.cy[id1] - P.cy[id2])
            d = 0.0 if diffx > diffy else M_PI_2
            for b in chain:
                P.direction[b] = d


def register_chainid(P: Page, chains: list[list[int]]) -> None:
    """Write chain ids into box.idx + set the vertical subtype bit
    (register_chainid after_search.cpp:44-59)."""
    for chainid, chain in enumerate(chains):
        for b in chain:
            P.idx[b] = chainid
            if abs(P.direction[b]) < M_PI_4:
                P.subtype[b] &= ~SUBTYPE_VERTICAL
            else:
                P.subtype[b] |= SUBTYPE_VERTICAL


def renumber_chain(P: Page) -> int:
    """A14 dense renumber of surviving chain ids in first-appearance order
    then sorted (renumber_chain after_search.cpp:62-79)."""
    live = P.idx >= 0
    used, P.idx[live] = np.unique(P.idx[live], return_inverse=True)
    return len(used)


def ruby_candidates(P: Page, chainid: int, xs: np.ndarray, ys: np.ndarray,
                    direction: float, w: float, h: float, cmap: np.ndarray,
                    idimage: np.ndarray) -> list[int]:
    """Unclaimed ruby boxes in the band above (horizontal) / right of
    (vertical) one chain's track line (ruby_search.cpp:12-150), in
    discovery order. Per track point the walk climbs k = 1..K-1
    transverse cells, stopping at the first blocker or foreign-chain cell
    — a prefix-AND along each row of the (point, k) grid, whose row-major
    hits are the scalar walk's discovery order."""
    horizontal = abs(direction) < M_PI_4
    K = max(1, int((h if horizontal else w) * 1.25 / SCALE))
    xa = xs // SCALE
    ya = ys // SCALE
    inb = (xa >= 0) & (xa < P.W) & (ya >= 0) & (ya < P.H)
    xa, ya = xa[inb], ya[inb]
    if not len(xa) or K <= 1:
        return []
    k = np.arange(1, K)
    if horizontal:
        rr = ya[:, None] - k
        cc = np.broadcast_to(xa[:, None], rr.shape)
        on = rr >= 0
    else:
        cc = xa[:, None] + k
        rr = np.broadcast_to(ya[:, None], cc.shape)
        on = cc < P.W
    rr = np.where(on, rr, 0)
    cc = np.where(on, cc, 0)
    oc = cmap[rr, cc]
    clear = on & ~P.lineblocker[rr, cc] & ~((oc >= 0) & (oc != chainid))
    alive = np.logical_and.accumulate(clear, axis=1)
    oid = idimage[rr, cc].astype(np.int64)
    ok = oid >= 0
    oid = np.where(ok, oid, 0)
    hit = alive & ok & ((P.subtype[oid] & 6) == 6) & (P.idx[oid] < 0)
    return list(dict.fromkeys(oid[hit].tolist()))


def search_ruby(P: Page, chains: list[list[int]], idimage: np.ndarray) -> None:
    """J4 ruby band attach + interleave (search_ruby ruby_search.cpp:12-713).

    Phase 1: probe 1.25x line-size above (horizontal) / right (vertical)
    of each chain's track line for unclaimed ruby boxes; re-home them.
    Phase 2 per chain: split base/ruby; find rubybase runs; assign each
    ruby to the run whose span contains it, resolve strays through
    neighbor-ruby continuity; drop garbage rubies (<13 px); interleave
    each base run's rubies directly after the run; orphan rubies re-enter
    the line as plain glyphs at their axis position."""
    cmap = create_chainid_map(P, chains)

    for chainid, chain in enumerate(chains):
        if len(chain) < 2:
            continue
        sort_chain(chain, P)
        xs, ys, direction, w, h = make_track_line(P, chains, chainid, 1)
        ruby_boxid = ruby_candidates(P, chainid, xs, ys, direction, w, h,
                                     cmap, idimage)
        for rid in ruby_boxid:
            if P.idx[rid] >= 0:
                if rid in chains[P.idx[rid]]:
                    chains[P.idx[rid]].remove(rid)
            else:
                P.idx[rid] = chainid
                P.direction[rid] = direction
            chain.append(rid)

    fix_chain_info(P, chains)

    for chainid, chain in enumerate(chains):
        sort_chain(chain, P)
        baseid = [b for b in chain if not P.is_ruby(b)]
        rubyid = [b for b in chain if P.is_ruby(b)]

        if not rubyid:
            for subidx, b in enumerate(chain):
                P.subtype[b] &= ~RUBY_BITS
                P.idx[b] = chainid
                P.subidx[b] = subidx
            continue

        horizontal = abs(P.direction[chain[0]]) < M_PI_4
        axis = P.cx if horizontal else P.cy
        size = P.w if horizontal else P.h
        rubyid.sort(key=lambda b: (axis[b], b))

        # rubybase runs within the base sequence (ruby_search.cpp:151-167)
        rubybase_block: list[list[int]] = []
        tmp: list[int] = []
        for b in baseid:
            if (P.subtype[b] & RUBY_BITS) == SUBTYPE_RUBYBASE:
                tmp.append(b)
            else:
                if tmp:
                    rubybase_block.append(tmp)
                    tmp = []
        if tmp:
            rubybase_block.append(tmp)

        s1 = max((size[b] for b in baseid), default=0.0)
        s2 = max((size[b] for b in rubyid), default=0.0)
        block_span = [(axis[blk[0]] - s1, axis[blk[-1]] + s1)
                      for blk in rubybase_block]

        ruby_to_base = [-1] * len(rubyid)
        for i, rid in enumerate(rubyid):
            for j, (lo, hi) in enumerate(block_span):
                if lo < axis[rid] < hi:
                    ruby_to_base[i] = j
                    break

        # strays: resolve through neighbor-ruby continuity
        # (ruby_search.cpp:209-355)
        if any(r < 0 for r in ruby_to_base) and any(r >= 0 for r in ruby_to_base):
            def _dist(i: int, j: int) -> float:
                return axis[rubyid[j]] - axis[rubyid[i]]

            def _search_fwd(i: int) -> int:
                for k in range(i - 1, 0, -1):
                    if _dist(k - 1, k) <= s2 * 2:
                        if ruby_to_base[k - 1] < 0:
                            continue
                        return ruby_to_base[k - 1]
                    break
                return -1

            def _search_bwd(i: int) -> int:
                for k in range(i + 1, len(rubyid) - 1):
                    if _dist(k, k + 1) <= s2 * 2:
                        if ruby_to_base[k + 1] < 0:
                            continue
                        return ruby_to_base[k + 1]
                    break
                return -1

            for i in range(len(rubyid)):
                if ruby_to_base[i] >= 0:
                    continue
                d1 = _dist(i - 1, i) if i > 0 else math.inf
                d2 = _dist(i, i + 1) if i < len(rubyid) - 1 else math.inf
                if d1 <= s2 * 2 and d2 <= s2 * 2:
                    if ruby_to_base[i - 1] < 0 and ruby_to_base[i + 1] < 0:
                        r = _search_fwd(i)
                        if r < 0:
                            r = _search_bwd(i)
                        if r >= 0:
                            ruby_to_base[i] = r
                        continue
                    if ruby_to_base[i - 1] >= 0 and ruby_to_base[i + 1] >= 0:
                        if ruby_to_base[i - 1] != ruby_to_base[i + 1]:
                            ruby_to_base[i] = (ruby_to_base[i - 1] if d1 < d2
                                               else ruby_to_base[i + 1])
                        else:
                            ruby_to_base[i] = ruby_to_base[i - 1]
                        continue
                    if ruby_to_base[i - 1] >= 0:
                        ruby_to_base[i] = ruby_to_base[i - 1]
                        continue
                    if ruby_to_base[i + 1] >= 0:
                        ruby_to_base[i] = ruby_to_base[i + 1]
                        continue
                if d1 > s2 * 2 and d2 > s2 * 2:
                    continue  # isolated: probably a misdetection
                if d1 <= s2 * 2:
                    if i > 0 and ruby_to_base[i - 1] >= 0:
                        ruby_to_base[i] = ruby_to_base[i - 1]
                        continue
                    r = _search_fwd(i)
                    if r >= 0:
                        ruby_to_base[i] = r
                    continue
                if i < len(rubyid) - 1 and ruby_to_base[i + 1] >= 0:
                    ruby_to_base[i] = ruby_to_base[i + 1]
                    continue
                r = _search_bwd(i)
                if r >= 0:
                    ruby_to_base[i] = r

        # garbage rubies (<13 px): alone-ruby flag, detach
        # (ruby_search.cpp:357-382)
        ruby_count = [0] * len(rubybase_block)
        for r in ruby_to_base:
            if r >= 0:
                ruby_count[r] += 1
        for i, rid in enumerate(rubyid):
            if ruby_to_base[i] < 0:
                if max(P.w[rid], P.h[rid]) < 13:
                    P.subtype[rid] |= SUBTYPE_ALONE_RUBY
                    P.idx[rid] = -1
            elif ruby_count[ruby_to_base[i]] < 2:
                if max(P.w[rid], P.h[rid]) < 13:
                    P.subtype[rid] |= SUBTYPE_ALONE_RUBY
                    P.idx[rid] = -1
                    for b in rubybase_block[ruby_to_base[i]]:
                        P.subtype[b] &= ~RUBY_BITS

        # interleave: each base run's rubies follow the run's last box
        # (ruby_search.cpp:384-400)
        baselast = [blk[-1] for blk in rubybase_block]
        fixlist: list[int] = []
        for b in baseid:
            fixlist.append(b)
            if b not in baselast:
                continue
            j = baselast.index(b)
            for i, rid in enumerate(rubyid):
                if P.idx[rid] < 0:
                    continue
                if ruby_to_base[i] == j:
                    fixlist.append(rid)

        # base runs that got no ruby lose the rubybase marking
        # (ruby_search.cpp:402-409)
        for j, blk in enumerate(rubybase_block):
            if j not in ruby_to_base:
                for b in blk:
                    P.subtype[b] &= ~RUBY_BITS

        # orphan rubies re-enter the line as plain glyphs
        # (ruby_search.cpp:411-430)
        for i, rid in enumerate(rubyid):
            if P.idx[rid] < 0:
                continue
            if ruby_to_base[i] == -1:
                P.subtype[rid] &= ~RUBY_BITS
                P.subtype[rid] |= SUBTYPE_ALONE_RUBY
                x = axis[rid]
                pos = len(fixlist)
                for k, b in enumerate(fixlist):
                    if x < axis[b] - size[b] / 2:
                        pos = k
                        break
                fixlist.insert(pos, rid)

        for subidx, b in enumerate(fixlist):
            if horizontal:
                P.subtype[b] &= ~SUBTYPE_VERTICAL
            else:
                P.subtype[b] |= SUBTYPE_VERTICAL
            P.idx[b] = chainid
            P.subidx[b] = subidx

    # rubies that never joined a line lose the ruby marking
    # (ruby_search.cpp:707-712)
    for i in range(P.n):
        if P.idx[i] < 0:
            P.subtype[i] &= ~RUBY_BITS


def number_unbind(P: Page, idimage: np.ndarray, next_id: int) -> int:
    """Cluster still-unbound boxes into ad-hoc lines (number_unbind
    number_unbind.cpp:12-363): boxes agglomerate along the cross axis
    (cy for horizontal candidates, cx for vertical), then along the main
    axis with lineblocker and bound-box collision tests; direction
    conflicts resolve to the longer chain; leftovers become singleton
    lines in the page's majority direction."""
    allow_maindiff = 1.0
    allow_subdiff = 10.0
    unbind = [i for i in range(P.n)
              if P.idx[i] < 0 and (P.subtype[i] & SUBTYPE_ALONE_RUBY) == 0]
    if not unbind:
        return next_id

    direction_vote = 0
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        direction_vote += 1 if (P.subtype[i] & SUBTYPE_VERTICAL) == 0 else -1

    hori_lines: list[list[int]] = []
    vert_lines: list[list[int]] = []
    if len(unbind) > 1:
        # horizontal candidates: cy clusters then cx order
        # (number_unbind.cpp:48-157)
        sortedcy = sorted(unbind, key=lambda b: (P.cy[b], b))
        agg: list[list[int]] = []
        for b1, b2 in zip(sortedcy, sortedcy[1:]):
            s = max(max(P.w[b1], P.h[b1]), max(P.w[b2], P.h[b2]))
            if P.cy[b2] - P.cy[b1] < s * allow_maindiff:
                hit = next((g for g in agg if b1 in g), None)
                if hit is None:
                    agg.append([b1, b2])
                else:
                    hit.append(b2)
        for group in agg:
            scx = sorted(group, key=lambda b: (P.cx[b], b))
            for b1, b2 in zip(scx, scx[1:]):
                s = max(P.w[b1], P.h[b1])
                if abs(P.cy[b2] - P.cy[b1]) > s * allow_maindiff:
                    continue
                if P.cx[b2] - P.cx[b1] > s * allow_subdiff:
                    continue
                # line-cut test (lineblocker between the boxes)
                x1 = P.cx[b1] + P.w[b1] / 2
                x2 = P.cx[b2] - P.w[b2] / 2
                y1, y2 = P.cy[b1], P.cy[b2]
                blocked = False
                if abs(x1 - x2) > 0:
                    a = (y2 - y1) / (x2 - x1)
                    xq = x1
                    while xq < x2:
                        xi = int(xq / SCALE)
                        yi = int((a * (xq - x1) + y1) / SCALE)
                        xq += SCALE
                        if not (0 <= xi < P.W and 0 <= yi < P.H):
                            continue
                        if P.lineblocker[yi, xi]:
                            blocked = True
                            break
                if blocked:
                    continue
                # bound-box collision test (number_unbind.cpp:126-135)
                for k in range(P.n):
                    if P.idx[k] < 0:
                        continue
                    if P.cx[b1] < P.cx[k] < P.cx[b2]:
                        lo = min(P.cy[b1] - P.h[b1] / 2, P.cy[b2] - P.h[b2] / 2)
                        hi = max(P.cy[b1] + P.h[b1] / 2, P.cy[b2] + P.h[b2] / 2)
                        if lo < P.cy[k] < hi:
                            blocked = True
                            break
                if blocked:
                    continue
                hit = next((g for g in hori_lines if b1 in g), None)
                if hit is None:
                    hori_lines.append([b1, b2])
                else:
                    hit.append(b2)

        # vertical candidates (number_unbind.cpp:159-267)
        sortedcx = sorted(unbind, key=lambda b: (P.cx[b], b))
        agg = []
        for b1, b2 in zip(sortedcx, sortedcx[1:]):
            s = max(max(P.w[b1], P.h[b1]), max(P.w[b2], P.h[b2]))
            if P.cx[b2] - P.cx[b1] < s * allow_maindiff:
                hit = next((g for g in agg if b1 in g), None)
                if hit is None:
                    agg.append([b1, b2])
                else:
                    hit.append(b2)
        for group in agg:
            scy = sorted(group, key=lambda b: (P.cy[b], b))
            for b1, b2 in zip(scy, scy[1:]):
                s = max(P.w[b1], P.h[b1])
                if abs(P.cx[b2] - P.cx[b1]) > s * allow_maindiff:
                    continue
                if P.cy[b2] - P.cy[b1] > s * allow_subdiff:
                    continue
                y1 = P.cy[b1] + P.h[b1] / 2
                y2 = P.cy[b2] - P.h[b2] / 2
                x1, x2 = P.cx[b1], P.cx[b2]
                blocked = False
                if abs(y1 - y2) > 0:
                    a = (x2 - x1) / (y2 - y1)
                    yq = y1
                    while yq < y2:
                        xi = int((a * (yq - y1) + x1) / SCALE)
                        yi = int(yq / SCALE)
                        yq += SCALE
                        if not (0 <= xi < P.W and 0 <= yi < P.H):
                            continue
                        if P.lineblocker[yi, xi]:
                            blocked = True
                            break
                if blocked:
                    continue
                for k in range(P.n):
                    if P.idx[k] < 0:
                        continue
                    if P.cy[b1] < P.cy[k] < P.cy[b2]:
                        lo = min(P.cx[b1] - P.w[b1] / 2, P.cx[b2] - P.w[b2] / 2)
                        hi = max(P.cx[b1] + P.w[b1] / 2, P.cx[b2] + P.w[b2] / 2)
                        if lo < P.cx[k] < hi:
                            blocked = True
                            break
                if blocked:
                    continue
                hit = next((g for g in vert_lines if b1 in g), None)
                if hit is None:
                    vert_lines.append([b1, b2])
                else:
                    hit.append(b2)

        # direction conflicts: the longer chain wins; ties by tighter
        # spacing (number_unbind.cpp:269-319)
        dup = sorted({b for g in hori_lines for b in g}
                     & {b for g in vert_lines for b in g})
        for d in dup:
            hp = next((g for g in hori_lines if d in g), None)
            vp = next((g for g in vert_lines if d in g), None)
            if hp is None or vp is None:
                continue
            if len(hp) == len(vp):
                hs = sum(P.cx[hp[k + 1]] - P.cx[hp[k]]
                         for k in range(len(hp) - 1))
                vs = sum(P.cy[hp[k + 1]] - P.cy[hp[k]]
                         for k in range(len(hp) - 1))
                if hs < vs:
                    hori_lines.remove(hp)
                else:
                    vert_lines.remove(vp)
            elif len(hp) > len(vp):
                vert_lines.remove(vp)
            else:
                hori_lines.remove(hp)

        for group in hori_lines:
            for subidx, b in enumerate(group):
                P.idx[b] = next_id
                P.subidx[b] = subidx
                P.subtype[b] &= ~SUBTYPE_VERTICAL
                P.direction[b] = 0.0
            next_id += 1
        for group in vert_lines:
            for subidx, b in enumerate(group):
                P.idx[b] = next_id
                P.subidx[b] = subidx
                P.subtype[b] |= SUBTYPE_VERTICAL
                P.direction[b] = M_PI_2
            next_id += 1

    # isolated boxes: singleton lines in the majority direction
    # (number_unbind.cpp:345-362)
    for b in unbind:
        if P.idx[b] < 0:
            P.idx[b] = next_id
            next_id += 1
            P.subidx[b] = 0
            if direction_vote < 0:
                P.subtype[b] |= SUBTYPE_VERTICAL
                P.direction[b] = M_PI_2
            else:
                P.subtype[b] &= ~SUBTYPE_VERTICAL
                P.direction[b] = 0.0
    return next_id


# ---------------------------------------------------------------- make_block

class _LineParam:
    __slots__ = ("d", "doubleline", "count", "size",
                 "cx1", "cy1", "cx2", "cy2", "section")

    def __init__(self):
        self.d = 0
        self.doubleline = 0
        self.count = 0
        self.size = 0.0
        self.cx1 = self.cy1 = math.inf
        self.cx2 = self.cy2 = -math.inf
        self.section = 0


def _overlap(a1: float, a2: float, b1: float, b2: float) -> bool:
    return min(a2, b2) - max(a1, b1) > 0


def _plain_line_stats(P: Page, n_lines: int):
    """Per line id (``P.idx``) over the line's plain boxes (no ruby, no
    alone ruby): box count, max box size, extent (x1, y1, x2, y2) and the
    last (highest-id) box, -1 for none. Also returns the plain boxes."""
    plain = np.nonzero((P.idx >= 0) & ((P.subtype & 6) != 6)
                       & ((P.subtype & SUBTYPE_ALONE_RUBY) == 0))[0]
    pid = P.idx[plain]
    count = np.bincount(pid, minlength=n_lines)
    size = np.zeros(n_lines)
    np.maximum.at(size, pid, np.maximum(P.w[plain], P.h[plain]))
    ext = []
    for v, init, fold in ((P.cx[plain] - P.w[plain] / 2, math.inf, np.minimum),
                          (P.cy[plain] - P.h[plain] / 2, math.inf, np.minimum),
                          (P.cx[plain] + P.w[plain] / 2, -math.inf, np.maximum),
                          (P.cy[plain] + P.h[plain] / 2, -math.inf, np.maximum)):
        e = np.full(n_lines, init)
        fold.at(e, pid, v)
        ext.append(e)
    last = np.full(n_lines, -1, dtype=np.int64)
    last[pid] = plain  # ascending box ids: the last write is the max
    return plain, count, size, ext, last


def section_params(P: Page) -> dict[int, _LineParam]:
    """Per line id, ascending: direction (0 horizontal, 1 vertical; lines
    of at most one plain box take the page's majority direction), plain
    box count, size and extent — renumber_id's parameter pass
    (make_block.cpp:600-690)."""
    live = P.idx[P.idx >= 0]
    n_lines = int(live.max()) + 1 if len(live) else 0
    plain, count, size, ext, last = _plain_line_stats(P, n_lines)
    vertical = (P.subtype & SUBTYPE_VERTICAL) != 0
    major_direction = len(plain) - 2 * int(vertical[plain].sum())
    ext = [e.tolist() for e in ext]
    params: dict[int, _LineParam] = {}
    for cid in np.unique(live).tolist():
        lp = params[cid] = _LineParam()
        lp.cx1, lp.cy1, lp.cx2, lp.cy2 = (e[cid] for e in ext)
        lp.size = float(size[cid])
        lp.count = int(count[cid])
        if lp.count > 1:
            lp.d = 1 if vertical[last[cid]] else 0
        else:
            lp.d = 0 if major_direction >= 0 else 1
    return params


def renumber_id(P: Page, id_max: int) -> int:
    """Dense chain renumber + section (column) assignment — a deterministic
    re-expression of renumber_id (make_block.cpp:580-1359).

    The reference's imperative partition/sort dance assigns each line a
    ``section`` so that side-by-side columns read column-by-column. The
    observable semantics re-expressed here: within each direction family,
    lines whose cross-axis intervals transitively overlap form a column;
    if at least two columns overlap along the reading axis (i.e. truly
    side-by-side), each column is its own section, ordered left-to-right
    for horizontal text (make_block.cpp:727-897) and top-then-right for
    vertical (make_block.cpp:1000-1296); otherwise everything shares one
    section. Vertical sections number after horizontal ones
    (make_block.cpp:998).

    Table-vs-columns (make_block.cpp:906-980): side-by-side horizontal
    groups only become per-column sections when at least two of their
    bottoms align within 4x the first line's size (true 段組 runs to a
    common baseline); ragged bottoms mean a grid of short cells — a
    table — which shares ONE section and reads row-major via the
    reference's insertion order (_table_interleave)."""
    params = section_params(P)
    chain_ids = list(params)
    chain_ids.sort()
    horiz = [c for c in chain_ids if params[c].d == 0 and params[c].count > 0]
    vert = [c for c in chain_ids if params[c].d == 1 and params[c].count > 0]

    def _table_interleave(groups: list[list[int]]) -> list[int]:
        """Reference table-order insertion (make_block.cpp:941-975):
        place section 0's lines top-down; each later-section line (in
        cy1 order, sections ascending) inserts right after the FIRST
        already-placed previous-section line it y-overlaps, else appends
        — a grid of cells comes out row-major."""
        placed: list[tuple[int, int]] = [
            (c, 0) for c in sorted(groups[0],
                                   key=lambda c: (params[c].cy1, c))]
        for s in range(1, len(groups)):
            for c in sorted(groups[s], key=lambda c: (params[c].cy1, c)):
                pos = next(
                    (k for k, (pc, ps) in enumerate(placed)
                     if ps == s - 1 and _overlap(params[pc].cy1,
                                                 params[pc].cy2,
                                                 params[c].cy1,
                                                 params[c].cy2)), None)
                if pos is None:
                    placed.append((c, s))
                else:
                    placed.insert(pos + 1, (c, s))
        return [c for c, _ in placed]

    def _column_sections(ids: list[int], horizontal: bool, base: int
                         ) -> tuple[int, list[int] | None]:
        """Transitive cross-axis interval overlap -> columns; sections only
        when columns are actually side-by-side. Returns (next_base,
        explicit_order) — explicit_order is non-None when the
        table-vs-columns heuristic fired (the table reading order can't be
        expressed as a per-line sort key)."""
        if not ids:
            return base, None
        uf = _UnionFind(len(ids))
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                pa, pb = params[ids[a]], params[ids[b]]
                if horizontal:
                    if _overlap(pa.cx1, pa.cx2, pb.cx1, pb.cx2):
                        uf.union(a, b)
                else:
                    if _overlap(pa.cy1, pa.cy2, pb.cy1, pb.cy2):
                        uf.union(a, b)
        comps: dict[int, list[int]] = {}
        for a in range(len(ids)):
            comps.setdefault(uf.find(a), []).append(ids[a])
        groups = list(comps.values())
        side_by_side = False
        for gi in range(len(groups)):
            for gj in range(gi + 1, len(groups)):
                for a in groups[gi]:
                    for b in groups[gj]:
                        pa, pb = params[a], params[b]
                        if horizontal and _overlap(pa.cy1, pa.cy2,
                                                   pb.cy1, pb.cy2):
                            side_by_side = True
                        if not horizontal and _overlap(pa.cx1, pa.cx2,
                                                       pb.cx1, pb.cx2):
                            side_by_side = True
        if len(groups) < 2 or not side_by_side:
            for c in ids:
                params[c].section = base
            return base + 1, None
        if horizontal:
            groups.sort(key=lambda g: min(params[c].cx1 for c in g))
            # table-vs-columns (make_block.cpp:906-980): genuine
            # side-by-side columns run to a common baseline — at least TWO
            # section bottoms within 4x the first line's size of the
            # deepest one. Ragged bottoms mean a grid of short cells (a
            # table): one shared section, read row-major via the
            # reference's insertion order instead of column-major.
            bottoms = [max(params[c].cy2 for c in g) for g in groups]
            b = max(bottoms)
            s4 = params[ids[0]].size * 4
            if sum(1 for x in bottoms if abs(b - x) < s4) <= 1:
                for c in ids:
                    params[c].section = base
                return base + 1, _table_interleave(groups)
        else:
            groups.sort(key=lambda g: (min(params[c].cy1 for c in g),
                                       -max(params[c].cx2 for c in g)))
        for k, g in enumerate(groups):
            for c in g:
                params[c].section = base + k
        return base + len(groups), None

    nsec, horiz_order = _column_sections(horiz, True, 0)
    _, vert_order = _column_sections(vert, False, nsec)

    # geometric chain reorder — this is what renumber_id actually returns
    # through box.idx (make_block.cpp:1350-1357): horizontal lines first,
    # by (section, top, left) (make_block.cpp:699-701,983-989); vertical
    # lines after, by (section, RIGHTMOST first, top)
    # (make_block.cpp:1001-1003,1283-1287) — vertical columns read
    # right-to-left
    if horiz_order is not None:
        horiz = horiz_order
    else:
        horiz.sort(key=lambda c: (params[c].section, params[c].cy1,
                                  params[c].cx1, c))
    if vert_order is not None:
        vert = vert_order
    else:
        vert.sort(key=lambda c: (params[c].section, -params[c].cx2,
                                 params[c].cy1, c))
    ordered = horiz + vert + [c for c in chain_ids
                              if params[c].count == 0]
    remap = {old: new for new, old in enumerate(ordered)}
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        old = int(P.idx[i])
        P.idx[i] = remap[old]
        P.section[i] = params[old].section
    return len(chain_ids)


def process_line(P: Page, id_max: int, chains: list[list[int]],
                 lineparams: list[_LineParam],
                 cmap: np.ndarray) -> tuple[list[list[int]], list[list[int]]]:
    """J6 line -> next-line edges (process_line make_block.cpp:21-204):
    from each line's size-filtered baseline, scan forward and backward
    along the axis, probing (0.5+1.5)*size transverse for the next
    parallel line; separator pixels and a >ALLOW_SIZEDIFF size difference
    reject; a perpendicular line breaks the probe in BOTH orientations
    (the reference consults the blocker in both families —
    make_block.cpp:77,101,157,183).

    Every scan of the page is one (axis cell, depth) grid: a cell's
    transverse walk is a prefix-alive pass over its row — barriers
    (blocker, perpendicular line) pre-compute; accept-candidates are then
    replayed scalar-side in exact (scan, axis cell, depth) order, because
    whether an acceptance breaks the walk depends on the mutable dedup
    state (a seen chain lets the reference keep walking).
    Cell-stride note: the reference steps per PIXEL (make_block.cpp:67,91)
    but every probe is a cell lookup, so SCALE-strided steps visit the
    identical cell sequence."""
    scanwidth = 0.5 + ALLOWWIDTH_NEXT_BLOCK
    chain_next: list[list[int]] = [[] for _ in range(id_max)]
    chain_prev: list[list[int]] = [[] for _ in range(id_max)]
    dvals = np.array([lp.d for lp in lineparams], dtype=np.int64)
    sizes = np.array([lp.size for lp in lineparams], dtype=np.float64)

    # per line: the baseline from its first to its last base box (size
    # within 50% of the line's largest, no ruby, no warichu); the first
    # box is skipped while its start point is negative in both coordinates
    live = [c for c in range(id_max)
            if chains[c] and lineparams[c].d in (1, 2)]
    if not live:
        return chain_next, chain_prev
    lens = [len(chains[c]) for c in live]
    idx = np.fromiter((b for c in live for b in chains[c]), dtype=np.int64)
    seg = np.repeat(np.arange(len(live)), lens)
    pos = np.arange(len(idx))
    s = np.maximum(P.w[idx], P.h[idx])
    s_s = np.maximum.reduceat(s, np.cumsum(lens) - lens)
    with np.errstate(divide="ignore", invalid="ignore"):
        odd = np.abs(s - s_s[seg]) / np.minimum(s, s_s[seg]) > 0.5
    base = ~odd & ((P.subtype[idx] & 6) != 6) & ~(P.double_line[idx] > 0)
    hz_l = dvals[live] == 2
    hz = hz_l[seg]
    cx, cy, w, h = P.cx[idx], P.cy[idx], P.w[idx], P.h[idx]
    p_lo = np.where(hz, cx - w / 2, cy - h / 2)
    p_hi = np.where(hz, cx + w / 2, cy + h / 2)
    t_at = np.where(hz, cy, cx)
    ok = base & ~((p_lo < 0) & (t_at < 0))
    first = np.full(len(live), len(idx))
    np.minimum.at(first, seg[ok], pos[ok])
    last = np.full(len(live), -1)
    np.maximum.at(last, seg[base], pos[base])
    first = np.where(first < len(idx), first, last)
    keep = np.nonzero(last >= 0)[0]
    first, last = first[keep], last[keep]
    p1, t1, p2, t2 = p_lo[first], t_at[first], p_hi[last], t_at[last]
    ss, hz_l = s_s[keep], hz_l[keep]
    cid_l = np.asarray(live)[keep]
    keep = np.nonzero(p2 - p1 >= SCALE)[0]
    p1, t1, p2, t2, ss, hz_l, cid_l = (v[keep] for v in (p1, t1, p2, t2, ss,
                                                         hz_l, cid_l))
    a_l = (t2 - t1) / (p2 - p1)
    depth = ss / SCALE * scanwidth
    # horizontal: range(yi, int(yi+c)) is int(c) cells; vertical:
    # range(xi, int(xi-c), -1) spans ceil(c) cells (int() truncates
    # toward zero; out-of-page cells are masked dead below)
    K_l = np.where(hz_l, depth, np.ceil(depth)).astype(np.int64)
    mid = ((p1 + p2) / 2).astype(np.int64)
    fwd_end = (p2 + ss).astype(np.int64)
    bwd_end = (p1 - ss).astype(np.int64)
    # two scans per line, forward then backward along the axis
    L = len(cid_l)
    line = np.repeat(np.arange(L), 2)
    sign = np.tile([1, -1], L)
    span = np.where(sign > 0, fwd_end[line] - mid[line],
                    mid[line] - bwd_end[line])
    n_s = np.maximum((span + SCALE - 1) // SCALE, 0)
    n_s[K_l[line] <= 0] = 0
    scan = np.nonzero(n_s)[0]
    if not len(scan):
        return chain_next, chain_prev
    line, sign, n_s = line[scan], sign[scan], n_s[scan]
    cid_s, K_s = cid_l[line], K_l[line]
    a_s, p1_s, t1_s, hz_s = a_l[line], p1[line], t1[line], hz_l[line]
    size_s = sizes[cid_s]
    sid = np.repeat(np.arange(len(scan)), n_s)
    k_in = np.arange(len(sid)) - np.repeat(np.cumsum(n_s) - n_s, n_s)
    steps = (mid[line][sid] + sign[sid] * SCALE * k_in).astype(np.float64)
    t = a_s[sid] * (steps - p1_s[sid]) + t1_s[sid]
    hz = hz_s[sid]
    p_cell = (steps / SCALE).astype(np.int64)
    t_cell = (t / SCALE).astype(np.int64)
    xi = np.where(hz, p_cell, t_cell)
    yi = np.where(hz, t_cell, p_cell)
    inb = (xi >= 0) & (xi < P.W) & (yi >= 0) & (yi < P.H)
    blocked = inb & P.lineblocker[np.where(inb, yi, 0), np.where(inb, xi, 0)]
    # a scan stops at its first in-page blocker cell
    pos = np.arange(len(steps))
    cut = np.full(len(scan), len(steps))
    np.minimum.at(cut, sid[blocked], pos[blocked])
    cells = np.nonzero(inb & (pos < cut[sid]))[0]
    ssid = sid[cells]
    jidx = cells - (np.cumsum(n_s) - n_s)[ssid]
    rows, cols = yi[cells][:, None], xi[cells][:, None]

    k = np.arange(K_s.max())
    hz_r = hz_s[ssid][:, None]
    rr = np.where(hz_r, rows + k, rows)
    cc = np.where(hz_r, cols, cols - k)
    on = (k < K_s[ssid][:, None]) & np.where(hz_r, rr < P.H, cc >= 0)
    rr = np.where(on, rr, 0)
    cc = np.where(on, cc, 0)
    blk = P.lineblocker[rr, cc]
    oc = cmap[rr, cc].astype(np.int64)
    foreign = ~blk & (oc >= 0) & (oc != cid_s[ssid][:, None])
    oc_f = np.where(foreign, oc, 0)
    perp = foreign & (dvals[oc_f] == np.where(hz_r, 1, 2))
    osz = sizes[oc_f]
    lp_size = size_s[ssid][:, None]
    denom = np.where(hz_r, np.minimum(lp_size, osz),
                     np.maximum(lp_size, osz))
    ratio = np.where(denom > 0,
                     np.abs(osz - lp_size) / np.where(denom > 0, denom, 1.0),
                     np.inf)
    alive = on.copy()
    alive[:, 1:] &= np.logical_and.accumulate(~(blk | perp), axis=1)[:, :-1]
    er, ek = np.nonzero(alive & foreign & ~perp & (ratio <= ALLOW_SIZEDIFF))

    # replay: an acceptance only ends a cell's walk when the chain is NEW
    ev_scan = ssid[er]
    bounds = np.searchsorted(ev_scan, np.arange(len(scan) + 1)).tolist()
    ev_j, ev_k, ev_oc = jidx[er].tolist(), ek.tolist(), oc[er, ek].tolist()
    for si, chainid in enumerate(cid_s.tolist()):
        lo, hi = bounds[si], bounds[si + 1]
        done_depth: dict[int, int] = {}
        for j, kk, oc_v in zip(ev_j[lo:hi], ev_k[lo:hi], ev_oc[lo:hi]):
            if j in done_depth and kk > done_depth[j]:
                continue
            if oc_v not in chain_next[chainid]:
                chain_next[chainid].append(oc_v)
                chain_prev[oc_v].append(chainid)
                done_depth[j] = kk
    return chain_next, chain_prev


def rechain_search(P: Page, chains: list[list[int]],
                   chain_next: list[list[int]],
                   chain_prev: list[list[int]]) -> bool:
    """Lines with multiple next/prev edges may actually be one split line:
    try to tab-join them (rechain_search make_block.cpp:255-577), marking
    the joined head with space+tab_split. Returns True when nothing
    merged (fixpoint reached)."""
    ret = True

    def _try_merge(agg: list[int]) -> bool:
        nonlocal ret
        merged_any = False
        for j in range(len(agg)):
            for k in range(len(agg)):
                if j == k:
                    continue
                n, m = agg[j], agg[k]
                if not chains[n] or not chains[m]:
                    continue
                n_i, m_i = chains[n][0], chains[m][0]
                size = 0.0
                for b in chains[n]:
                    size = max(size, P.w[b], P.h[b])
                for b in chains[m]:
                    size = max(size, P.w[b], P.h[b])
                same_dir = (P.subtype[n_i] & SUBTYPE_VERTICAL) == \
                           (P.subtype[m_i] & SUBTYPE_VERTICAL)
                if same_dir:
                    vert = (P.subtype[n_i] & SUBTYPE_VERTICAL) != 0
                elif len(chains[n]) < 2:
                    vert = (P.subtype[m_i] & SUBTYPE_VERTICAL) != 0
                elif len(chains[m]) < 2:
                    vert = (P.subtype[n_i] & SUBTYPE_VERTICAL) != 0
                else:
                    continue
                if not vert:
                    if P.cx[chains[n][-1]] < P.cx[chains[m][0]] and \
                            abs(P.cy[chains[n][-1]] - P.cy[chains[m][0]]) < size:
                        P.subtype[chains[m][0]] |= SUBTYPE_SPACE | SUBTYPE_TAB_SPLIT
                        chains[n].extend(chains[m])
                        chains[m] = []
                        ret = False
                        merged_any = True
                        continue
                    if P.cx[chains[m][-1]] < P.cx[chains[n][0]] and \
                            abs(P.cy[chains[m][-1]] - P.cy[chains[n][0]]) < size:
                        P.subtype[chains[n][0]] |= SUBTYPE_SPACE | SUBTYPE_TAB_SPLIT
                        chains[m].extend(chains[n])
                        chains[n] = []
                        ret = False
                        merged_any = True
                        continue
                else:
                    if P.cy[chains[n][-1]] < P.cy[chains[m][0]] and \
                            abs(P.cx[chains[n][-1]] - P.cx[chains[m][0]]) < size:
                        P.subtype[chains[m][0]] |= SUBTYPE_SPACE | SUBTYPE_TAB_SPLIT
                        chains[n].extend(chains[m])
                        chains[m] = []
                        ret = False
                        merged_any = True
                        continue
                    if P.cy[chains[m][-1]] < P.cy[chains[n][0]] and \
                            abs(P.cx[chains[m][-1]] - P.cx[chains[n][0]]) < size:
                        P.subtype[chains[n][0]] |= SUBTYPE_SPACE | SUBTYPE_TAB_SPLIT
                        chains[m].extend(chains[n])
                        chains[n] = []
                        ret = False
                        merged_any = True
                        continue
        return merged_any

    for edges in (chain_next, chain_prev):
        if any(len(e) > 1 for e in edges):
            for i in range(len(edges)):
                if len(edges[i]) <= 1:
                    continue
                agg = [i]
                tmp = list(edges[i])
                while tmp:
                    j = tmp.pop()
                    if j not in agg:
                        agg.append(j)
                        tmp.extend(edges[j])
                agg = sorted(set(agg))
                _try_merge(agg)
        if not ret:
            return ret
    return ret


def block_chain_search(id_max: int, chain_next: list[list[int]],
                       chain_prev: list[list[int]]) -> list[list[int]]:
    """J7 block grouping: DFS over next-line edges from the root lines
    (no prev edge) -> connected components = blocks
    (block_chain_search make_block.cpp:207-253)."""
    block_chain: list[list[int]] = []
    roots = [c for c in range(id_max) if not chain_prev[c]]
    done: set[int] = set()
    for root in roots:
        stack = [root]
        tmp: list[int] = []
        while stack:
            j = stack.pop()
            if j in done or j in tmp:
                continue
            tmp.append(j)
            for nxt in chain_next[j]:
                if nxt not in stack:
                    stack.append(nxt)
        tmp = sorted(set(tmp))
        done.update(tmp)
        block_chain.append(tmp)
    return block_chain


def lines_of(P: Page, boxes: np.ndarray, id_max: int) -> list[list[int]]:
    """``boxes`` grouped by line id (``P.idx``), each line in
    (subidx, box id) order."""
    if not id_max:
        return []
    boxes = boxes[np.lexsort((boxes, P.subidx[boxes], P.idx[boxes]))]
    cuts = np.cumsum(np.bincount(P.idx[boxes], minlength=id_max))[:-1]
    return [part.tolist() for part in np.split(boxes, cuts)]


class _BlockParam:
    __slots__ = ("d", "p", "sec", "count", "size",
                 "x_min", "x_max", "y_min", "y_max")


def block_lines(P: Page, id_max: int
                ) -> tuple[list[list[int]], list[_LineParam]]:
    """Each line's plain boxes (no ruby, no alone ruby) in (subidx, box)
    order, and its parameters for the next-line scan: size, count,
    direction (2 horizontal, 1 vertical, from the line's last box; 0 for
    a single box) and warichu run count (make_block.cpp:1378-1443)."""
    plain, count, size, _ext, last = _plain_line_stats(P, id_max)
    chains = lines_of(P, plain, id_max)
    lineparams = [_LineParam() for _ in range(id_max)]
    dl = P.double_line.tolist()
    for cid, lp in enumerate(lineparams):
        lp.size = float(size[cid])
        lp.count = int(count[cid])
        if lp.count:
            vertical = (P.subtype[last[cid]] & SUBTYPE_VERTICAL) != 0
            lp.d = (1 if vertical else 2) if lp.count > 1 else 0
        # warichu (double-line) runs
        runs = count1 = count2 = 0
        for b in chains[cid]:
            if dl[b] == 0:
                if count1 > 1 or count2 > 1:
                    runs += 1
                count1 = count2 = 0
            elif dl[b] == 1:
                count1 += 1
            elif dl[b] == 2:
                count2 += 1
        if count1 > 1 or count2 > 1:
            runs += 1
        lp.doubleline = runs
    return chains, lineparams


def block_params(P: Page, blocks: list[list[int]], id_max: int
                 ) -> list[_BlockParam]:
    """A8 block bbox + stats (make_block.cpp:1489-1540) over the blocks'
    boxes (alone rubies excluded); direction and section come from the
    block's last box."""
    block_of_chain = np.full(id_max + 1, -1, dtype=np.int64)
    for bi, chains_in in enumerate(blocks):
        block_of_chain[chains_in] = bi
    # block of every box (the extra slot catches idx < 0)
    box_block = np.where(P.idx >= 0, block_of_chain[P.idx], -1)
    box_block[(P.subtype & SUBTYPE_ALONE_RUBY) != 0] = -1
    ids = np.nonzero(box_block >= 0)[0]
    bid = box_block[ids]
    nb = len(blocks)
    count = np.bincount(bid, minlength=nb)
    size = np.zeros(nb)
    np.maximum.at(size, bid, np.maximum(P.w[ids], P.h[ids]))
    ext = []
    for v, init, fold in ((P.cx[ids] - P.w[ids] / 2, P.W * SCALE, np.minimum),
                          (P.cy[ids] - P.h[ids] / 2, P.H * SCALE, np.minimum),
                          (P.cx[ids] + P.w[ids] / 2, 0.0, np.maximum),
                          (P.cy[ids] + P.h[ids] / 2, 0.0, np.maximum)):
        e = np.full(nb, float(init))
        fold.at(e, bid, v)
        ext.append(e.tolist())
    last = np.full(nb, -1, dtype=np.int64)
    last[bid] = ids  # ascending box ids: the last write is the max
    bparams: list[_BlockParam] = []
    for bi in range(nb):
        bp = _BlockParam()
        bp.p = 0
        bp.count = int(count[bi])
        bp.size = float(size[bi])
        bp.x_min, bp.y_min, bp.x_max, bp.y_max = (e[bi] for e in ext)
        if bp.count:
            i = last[bi]
            bp.d = 0 if (P.subtype[i] & SUBTYPE_VERTICAL) == 0 else 1
            bp.sec = int(P.section[i])
        else:
            bp.d = bp.sec = 0
        if bp.x_min > bp.x_max:
            bp.x_min, bp.x_max = bp.x_max, bp.x_min
        if bp.y_min > bp.y_max:
            bp.y_min, bp.y_max = bp.y_max, bp.y_min
        bparams.append(bp)
    return bparams


def number_blocks(P: Page, blocks: list[list[int]], block_idx: list[int],
                  bparams: list[_BlockParam], id_max: int) -> None:
    """Assign block numbers in reading order (make_block.cpp:1696-1715),
    then renumber each block's lines densely (A14, :1717-1737): a line's
    new idx is its rank among its block's distinct line ids."""
    chain_remap = np.full(id_max, -1, dtype=np.int64)
    chain_page = np.zeros(id_max, dtype=np.int64)
    for renum, bi in enumerate(block_idx):
        chain_remap[blocks[bi]] = renum
        chain_page[blocks[bi]] = bparams[bi].p
    live = np.nonzero(P.idx >= 0)[0]
    P.block[live] = chain_remap[P.idx[live]]
    P.page[live] = chain_page[P.idx[live]]
    live = live[P.block[live] >= 0]
    pairs = np.unique(np.stack([P.block[live], P.idx[live]], axis=1),
                      axis=0)
    if len(pairs):
        head = np.searchsorted(pairs[:, 0], pairs[:, 0])
        rank = np.arange(len(pairs)) - head
        pos = np.searchsorted(pairs[:, 0] * (id_max + 1) + pairs[:, 1],
                              P.block[live] * (id_max + 1) + P.idx[live])
        P.idx[live] = rank[pos]


def make_block(P: Page) -> None:
    """Block formation + reading order (make_block make_block.cpp:1364-1843):
    fixpoint of (renumber, section assign, next-line edges, tab-rejoin),
    then DFS blocks, A8 block bbox/stats, A9 orientation vote, W3 block
    order (section, then overlap-partitioned geometry sort), dense
    renumber, W5 warichu reorder, W2 final sort."""
    while True:
        id_max = renumber_chain(P)
        id_max = renumber_id(P, id_max)

        chains, lineparams = block_lines(P, id_max)
        cmap = create_chainid_map(P, chains, 1.0, 0)
        chain_next, chain_prev = process_line(P, id_max, chains,
                                              lineparams, cmap)

        full_chains = lines_of(P, np.nonzero(P.idx >= 0)[0], id_max)

        if rechain_search(P, full_chains, chain_next, chain_prev):
            break

        full_chains = [c for c in full_chains if c]
        for chainid, chain in enumerate(full_chains):
            for bidx, b in enumerate(chain):
                P.idx[b] = chainid
                P.subidx[b] = bidx

    blocks = block_chain_search(id_max, chain_next, chain_prev)

    bparams = block_params(P, blocks, id_max)

    # A9 orientation vote (make_block.cpp:1543-1553)
    orientation = 0.0
    for bp in bparams:
        area = (bp.x_max - bp.x_min) * (bp.y_max - bp.y_min)
        orientation += area if bp.d == 0 else -area

    # W3 block reading order (make_block.cpp:1633-1694): page, section,
    # then overlap-partitioned geometry sort
    block_idx = sorted(range(len(blocks)),
                       key=lambda b: (bparams[b].p, bparams[b].sec))
    st = 0
    while st < len(block_idx):
        ed = st
        while ed < len(block_idx) and \
                bparams[block_idx[ed]].p == bparams[block_idx[st]].p and \
                bparams[block_idx[ed]].sec == bparams[block_idx[st]].sec:
            ed += 1
        group = block_idx[st:ed]
        if orientation < 0:
            group.sort(key=lambda b: (-bparams[b].x_max, b))
            i1 = 0
            while i1 < len(group):
                x_min = bparams[group[i1]].x_min
                x_max = bparams[group[i1]].x_max
                over = [b for b in group[i1:]
                        if _overlap(x_min, x_max,
                                    bparams[b].x_min, bparams[b].x_max)]
                rest = [b for b in group[i1:] if b not in over]
                over.sort(key=lambda b: (bparams[b].y_min, b))
                group[i1:] = over + rest
                i1 += len(over)
        else:
            group.sort(key=lambda b: (bparams[b].y_min, b))
            i1 = 0
            while i1 < len(group):
                y_min = bparams[group[i1]].y_min
                y_max = bparams[group[i1]].y_max
                over = [b for b in group[i1:]
                        if _overlap(y_min, y_max,
                                    bparams[b].y_min, bparams[b].y_max)]
                rest = [b for b in group[i1:] if b not in over]
                over.sort(key=lambda b: (bparams[b].x_min, b))
                group[i1:] = over + rest
                i1 += len(over)
        block_idx[st:ed] = group
        st = ed

    number_blocks(P, blocks, block_idx, bparams, id_max)


def warichu_reorder(P: Page, order: list[int]) -> None:
    """W5 warichu reorder (make_block.cpp:1764-1826): within a same-line
    run of >2 double_line boxes, reassign the run's subidx set so all
    first-row (double_line=1) boxes precede second-row (=2), each row in
    axis order."""
    runs: list[list[int]] = []
    tmp: list[int] = []
    prev_key = None
    for i in order:
        key = (int(P.block[i]), int(P.idx[i]))
        if prev_key != key:
            if len(tmp) > 2:
                runs.append(tmp)
            tmp = []
        prev_key = key
        if P.double_line[i] > 0:
            tmp.append(i)
        else:
            if len(tmp) > 2:
                runs.append(tmp)
            tmp = []
    if len(tmp) > 2:
        runs.append(tmp)
    for run in runs:
        if (P.subtype[run[0]] & SUBTYPE_VERTICAL) == 0:
            sortidx = sorted(range(len(run)),
                             key=lambda a: (P.double_line[run[a]],
                                            P.cx[run[a]], run[a]))
        else:
            sortidx = sorted(range(len(run)),
                             key=lambda a: (P.double_line[run[a]],
                                            P.cy[run[a]], run[a]))
        subidx = sorted(int(P.subidx[i]) for i in run)
        for j, k in enumerate(sortidx):
            P.subidx[run[k]] = subidx[j]


# ---------------------------------------------------------------- space_check

def remove_dupspace(P: Page, order: list[int]) -> None:
    """W6 duplicate-space removal (remove_dupspace space_check.cpp:40-73):
    of consecutive space-flagged boxes (in reading order) that overlap at
    all (IoU > 0), only the first keeps the flag."""
    sp = [i for i in order if (P.subtype[i] & SUBTYPE_SPACE) == SUBTYPE_SPACE]
    for a, b in zip(sp, sp[1:]):
        if (P.subtype[a] & SUBTYPE_SPACE) != SUBTYPE_SPACE:
            continue
        ix = min(P.cx[a] + P.w[a] / 2, P.cx[b] + P.w[b] / 2) - \
            max(P.cx[a] - P.w[a] / 2, P.cx[b] - P.w[b] / 2)
        iy = min(P.cy[a] + P.h[a] / 2, P.cy[b] + P.h[b] / 2) - \
            max(P.cy[a] - P.h[a] / 2, P.cy[b] - P.h[b] / 2)
        inter = max(ix, 0.0) * max(iy, 0.0)
        union = P.w[a] * P.h[a] + P.w[b] * P.h[b] - inter
        iou = inter / union if union > 0 else 0.0
        if iou > 0:
            P.subtype[b] &= ~SUBTYPE_SPACE


def block_heads(P: Page, order: list[int]) -> dict[int, tuple]:
    """Per block (ascending), from its non-ruby boxes in reading order:
    the first three boxes of each line, the largest box size along the
    line axis, and whether the block's last such box is vertical
    (space_check.cpp:80-105)."""
    block_l, idx_l = P.block.tolist(), P.idx.tolist()
    ruby_l = ((P.subtype & 6) == 6).tolist()
    vert_l = ((P.subtype & SUBTYPE_VERTICAL) != 0).tolist()
    w_l, h_l = P.w.tolist(), P.h.tolist()
    heads: dict[int, tuple] = {}
    for i in order:
        b = block_l[i]
        if b < 0:
            continue
        lines, s0, vertical = heads.get(b, ({}, 0.0, False))
        if not ruby_l[i]:
            vertical = vert_l[i]
            s0 = max(s0, h_l[i] if vertical else w_l[i])
            lb = lines.setdefault(idx_l[i], [])
            if len(lb) < 3:
                lb.append(i)
        heads[b] = (lines, s0, vertical)
    return dict(sorted(heads.items()))


def find_lostspace(P: Page, order: list[int]) -> None:
    """W6 lost-space detection (find_lostspace space_check.cpp:76-673):
    per block, take each line's first <=3 non-ruby boxes, reject thin /
    deeply-indented lines; walk the lines with the amx running-margin
    estimate (EMA slope delta, space_check.cpp:254-301) deciding per head
    whether it sits AT the margin or one character IN (indent) — a head
    that matches neither expectation is skipped; then least-squares fit
    the margin curve over the trusted heads (the reference uses MINPACK
    lmdif with n=min(4,m) coefficients — np.polyfit(deg=n-1) is the same
    fit, space_check.cpp:638-643) using the indent-corrected edge points
    (sx[0] for indented heads, sx[1] otherwise, space_check.cpp:625-636);
    finally every line's head space flag is re-derived from
    cx_head > fitted margin (space_check.cpp:658-671).

    The walk is seeded at the line whose wide head (w >= 0.6*s0) starts
    furthest toward the margin (space_check.cpp:181-208) — NOT blindly at
    the first line, so header/ornament lines at the top of a block cannot
    mis-anchor the margin estimate. Seed in the top half: forward walk
    from the seed, then a reverse pass over the whole block; seed in the
    bottom half: backward walk, then a forward pass
    (space_check.cpp:209-600, incl. the per-pass threshold asymmetries
    0.85/0.75/1.0 of the reference)."""
    for lines, s0, vertical in block_heads(P, order).values():
        axis = P.cy if vertical else P.cx
        size = P.h if vertical else P.w
        cross = P.cx if vertical else P.cy

        # drop lines of only-thin chars (space_check.cpp:107-132)
        kept = [ln for ln in sorted(lines)
                if any(s0 - size[i] < s0 * 0.5 for i in lines[ln])]
        if len(kept) < 2:
            continue
        # drop deep indents (space_check.cpp:136-169)
        x0 = min(axis[lines[ln][0]] - size[lines[ln][0]] / 2 for ln in kept)
        kept = [ln for ln in kept
                if axis[lines[ln][0]] - size[lines[ln][0]] / 2 - x0 <= s0 * 2.5]
        if len(kept) < 2:
            continue
        n = len(kept)

        # current head flags, up front (space_check.cpp:172-177)
        head_indent = [
            (P.subtype[lines[ln][0]] & SUBTYPE_SPACE) == SUBTYPE_SPACE
            for ln in kept]
        head_skip = [False] * n
        amx = [0.0] * n

        def head_geom(pos: int) -> tuple[float, float] | None:
            lb = lines[kept[pos]]
            if len(lb) < 2:
                return None
            mx2 = (axis[lb[0]] + size[lb[0]] / 2 +
                   axis[lb[1]] - size[lb[1]] / 2) / 2
            mx2 = max(mx2, (axis[lb[0]] + axis[lb[1]]) / 2)
            return mx2, mx2 - s0

        def base_skip(pos: int, sizesum_th: float, span_hi_inner_only: bool,
                      span_lo_th: float = 1.0) -> bool:
            """Per-pass untrustworthy-head rejection
            (space_check.cpp:219-252 and the pass variants)."""
            lb = lines[kept[pos]]
            if axis[lb[1]] - axis[lb[0]] > s0 * 1.15:
                return True
            if size[lb[0]] + size[lb[1]] < s0 * sizesum_th:
                return True
            if len(lb) == 3:
                span = axis[lb[2]] - axis[lb[0]]
                if span < s0 * span_lo_th:
                    return True
                if span > s0 * 2.2 and \
                        (not span_hi_inner_only or 0 < pos < n - 1):
                    return True
            return False

        def classify(pos: int, fmx: float | None) -> None:
            """amx/flag update given the forecast margin (the shared body
            of every pass, space_check.cpp:260-301)."""
            geom = head_geom(pos)
            mx2, sx2 = geom
            if fmx is not None:
                if mx2 < fmx and abs(fmx - mx2) > s0 * 0.25:
                    head_skip[pos] = True
                elif abs(fmx - mx2) < s0 * 0.6:
                    head_indent[pos] = False
                elif abs(fmx - s0 - mx2) < s0 * 0.6:
                    head_indent[pos] = False
                elif abs(fmx - sx2) < s0 * 0.6:
                    head_indent[pos] = True
                else:
                    head_skip[pos] = True
            if not head_skip[pos]:
                amx[pos] = sx2 if head_indent[pos] else mx2

        def delta_fwd(lo: int, hi: int) -> float:
            d = 0.0
            for j in range(lo, hi):
                if amx[j] != 0 and amx[j - 1] != 0:
                    d = (amx[j] - amx[j - 1]) * 0.25 + d * 0.75
            return d

        def delta_bwd(hi: int, lo: int) -> float:
            d = 0.0
            for j in range(hi, lo, -1):
                if amx[j] != 0 and amx[j + 1] != 0:
                    d = (amx[j] - amx[j + 1]) * 0.25 + d * 0.75
            return d

        # seed: the line with a wide head (>= 0.6*s0) starting furthest
        # toward the margin (space_check.cpp:181-208)
        k = 0
        minx = math.inf
        for pos, ln in enumerate(kept):
            lb = lines[ln]
            if len(lb) < 2 or size[lb[0]] < s0 * 0.6:
                continue
            sx = axis[lb[0]] - size[lb[0]] / 2
            if sx < minx:
                minx = sx
                k = pos

        if k < n / 2:
            # forward walk from the seed (space_check.cpp:209-301)
            for i in range(k, n):
                if len(lines[kept[i]]) < 2:
                    continue
                if base_skip(i, 0.85, False):
                    head_skip[i] = True
                    if i > 0 and amx[i - 1] != 0:
                        amx[i] = amx[i - 1] + delta_fwd(k + 1, i)
                    continue
                d = delta_fwd(k + 1, i)
                fmx = amx[i - 1] + d if (i > 0 and amx[i - 1] != 0) else None
                classify(i, fmx)
                if head_skip[i] and i > 0 and amx[i - 1] != 0:
                    amx[i] = amx[i - 1] + d
            # reverse pass over the whole block (space_check.cpp:303-398)
            head_skip = [False] * n
            for i in range(n - 1, -1, -1):
                if len(lines[kept[i]]) < 2:
                    continue
                if base_skip(i, 0.85, True):
                    head_skip[i] = True
                    if i < n - 1 and amx[i + 1] != 0 and amx[i] == 0:
                        amx[i] = amx[i + 1] + delta_bwd(n - 2, i)
                    continue
                d = delta_bwd(n - 2, i)
                if i < n - 1 and amx[i + 1] != 0:
                    fmx = amx[i] if (amx[i] != 0 and d == 0) \
                        else amx[i + 1] + d
                else:
                    fmx = None
                classify(i, fmx)
                if head_skip[i] and i < n - 1 and amx[i + 1] != 0 \
                        and amx[i] == 0:
                    amx[i] = amx[i + 1] + d
        else:
            # backward walk from the seed (space_check.cpp:400-494)
            for i in range(k, -1, -1):
                if len(lines[kept[i]]) < 2:
                    continue
                if base_skip(i, 0.75, True):
                    head_skip[i] = True
                    if i < n - 1 and amx[i + 1] != 0:
                        amx[i] = amx[i + 1] + delta_bwd(k - 1, i)
                    continue
                d = delta_bwd(k - 1, i)
                fmx = amx[i + 1] + d if (i < n - 1 and amx[i + 1] != 0) \
                    else None
                classify(i, fmx)
                if head_skip[i] and i < n - 1 and amx[i + 1] != 0:
                    amx[i] = amx[i + 1] + d
            # forward pass over the whole block (space_check.cpp:496-600;
            # note the reference's vertical-family quirks: size-sum < s0
            # and 3-box span < 0.75*s0)
            head_skip = [False] * n
            for i in range(n):
                if len(lines[kept[i]]) < 2:
                    continue
                if vertical:
                    bs = base_skip(i, 1.0, False, span_lo_th=0.75)
                else:
                    bs = base_skip(i, 0.75, False)
                if bs:
                    head_skip[i] = True
                    if i > 0 and amx[i - 1] != 0 and amx[i] == 0:
                        amx[i] = amx[i - 1] + delta_fwd(1, i)
                    continue
                d = delta_fwd(1, i)
                if i > 0 and amx[i - 1] != 0:
                    fmx = amx[i] if (amx[i] != 0 and d == 0) \
                        else amx[i - 1] + d
                else:
                    fmx = None
                classify(i, fmx)
                if head_skip[i] and i > 0 and amx[i - 1] != 0 \
                        and amx[i] == 0:
                    amx[i] = amx[i - 1] + d

        # margin-curve fit over trusted heads (space_check.cpp:602-643):
        # left edge for indented heads, first box's right edge otherwise
        fit_pts: list[tuple[float, float]] = []
        for pos, ln in enumerate(kept):
            lb = lines[ln]
            if head_skip[pos]:
                continue
            edge = (axis[lb[0]] - size[lb[0]] / 2 if head_indent[pos]
                    else axis[lb[0]] + size[lb[0]] / 2)
            fit_pts.append((float(cross[lb[0]]), float(edge)))
        if len(fit_pts) < 2:
            continue
        xs_fit = np.array([p[0] for p in fit_pts])
        ys_fit = np.array([p[1] for p in fit_pts])
        deg = min(3, len(fit_pts) - 1)
        coeffs = np.polyfit(xs_fit, ys_fit, deg)

        for ln in kept:
            lb = lines[ln]
            lx = float(np.polyval(coeffs, float(cross[lb[0]])))
            if axis[lb[0]] > lx:
                P.subtype[lb[0]] |= SUBTYPE_SPACE
            else:
                P.subtype[lb[0]] &= ~SUBTYPE_SPACE


# ---------------------------------------------------------------- public API

def run_textline_detect(boxes: dict, line_runs: np.ndarray,
                        sep_runs: np.ndarray, sep_vals: np.ndarray):
    """Full group stage for one page (process.cpp:46-67 + main.cpp:156-161
    final sort). Returns ``(P, order)`` — the mutated :class:`Page` (whose
    block/idx/subidx/subtype/double_line/section arrays carry the per-box
    results) and ``order``, the final reading-order permutation of the
    input box indices (boxes the reference drops, block<0, are excluded)."""
    P = Page(boxes, line_runs, sep_runs, sep_vals)
    idimage, idimage_main = prepare_id_image(P)
    make_lineblocker(P)
    chains = linefind(P)
    search_loop(P, chains, idimage_main)

    # after_search (after_search.cpp:227-251)
    fix_shortchain(P, chains)
    register_chainid(P, chains)
    search_ruby(P, chains, idimage)
    id_max = renumber_chain(P)
    number_unbind(P, idimage, id_max)
    make_block(P)

    order = [i for i in range(P.n) if P.block[i] >= 0 and P.idx[i] >= 0]
    order.sort(key=lambda i: (P.block[i], P.idx[i], P.subidx[i],
                              P.subtype[i], i))
    warichu_reorder(P, order)
    order.sort(key=lambda i: (P.block[i], P.idx[i], P.subidx[i],
                              P.subtype[i], i))
    remove_dupspace(P, order)
    find_lostspace(P, order)
    return P, order
