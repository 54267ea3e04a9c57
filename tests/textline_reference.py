"""The scalar loops of the textline kernel, as the kernel ran them before
they were vectorized (``findtextcenternet_spark/operators/textline.py``).

They are the reference for ``test_textline_vectorized.py``, which requires
each vectorized form to return exactly what its loop returns. Function
bodies are kept as they were. A loop that became a function of its own in
the kernel (``merge_targets``, ``ruby_candidates``, ``section_params``,
``block_lines``, ``block_params``, ``number_blocks``, ``lines_of``,
``block_heads``) is the old loop under a function header, with the
return added. Helpers that did not change are imported from the kernel.
"""

from __future__ import annotations

import math

import numpy as np

from findtextcenternet_spark.config import (
    ALLOW_SIZEDIFF,
    ALLOWWIDTH_NEXT_BLOCK,
    LINE_VALUETH,
    SCALE,
    SEP_CLUSTERTH,
    SEP_VALUETH,
    SUBTYPE_ALONE_RUBY,
    SUBTYPE_VERTICAL,
)
from findtextcenternet_spark.operators.textline import (
    M_PI,
    M_PI_2,
    M_PI_4,
    Page,
    _BlockParam,
    _detect_line_fast,
    _interp_samples,
    _label_components_4,
    _LineParam,
)


def _runs_of_mask(mask: np.ndarray) -> list[tuple[int, int, int]]:
    """Row-major RLE of a boolean mask: (y, x1, x2) inclusive."""
    out = []
    for y in range(mask.shape[0]):
        row = mask[y]
        if not row.any():
            continue
        d = np.diff(row.astype(np.int8))
        starts = np.nonzero(d == 1)[0] + 1
        ends = np.nonzero(d == -1)[0]
        if row[0]:
            starts = np.concatenate([[0], starts])
        if row[-1]:
            ends = np.concatenate([ends, [len(row) - 1]])
        for s, e in zip(starts, ends):
            out.append((y, int(s), int(e)))
    return out


def prepare_id_image(P: Page) -> tuple[np.ndarray, np.ndarray]:
    """Box-id rasters (prepare.cpp:68-97): idimage stamps every box,
    idimage_main skips ruby glyphs; later box ids overwrite earlier."""
    idimage = np.full((P.H, P.W), -1, dtype=np.int32)
    idimage_main = np.full((P.H, P.W), -1, dtype=np.int32)
    for i in range(P.n):
        left = int((P.cx[i] - P.w[i] / 2) / SCALE)
        right = int((P.cx[i] + P.w[i] / 2) / SCALE) + 1
        top = int((P.cy[i] - P.h[i] / 2) / SCALE)
        bottom = int((P.cy[i] + P.h[i] / 2) / SCALE) + 1
        if left < 0 or right >= P.W:
            continue
        if top < 0 or bottom >= P.H:
            continue
        if not P.is_ruby(i):
            idimage_main[top:bottom, left:right] = i
        idimage[top:bottom, left:right] = i
    return idimage, idimage_main


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
    # 8-neighborhood stack walk down to 0.1 * seed value
    seeds = np.nonzero(blocker)
    sep = P.sepimage
    H, W = P.H, P.W
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
        near = np.zeros((H, W), dtype=bool)
        b = P.lineblocker
        for dy in (-2, -1, 0, 1, 2):
            ys_lo, ys_hi = max(0, dy), H + min(0, dy)
            yd_lo, yd_hi = max(0, -dy), H + min(0, -dy)
            for dx in (-2, -1, 0, 1, 2):
                xs_lo, xs_hi = max(0, dx), W + min(0, dx)
                xd_lo, xd_hi = max(0, -dx), W + min(0, -dx)
                near[yd_lo:yd_hi, xd_lo:xd_hi] |= b[ys_lo:ys_hi, xs_lo:xs_hi]
        clear = not (near & on_mask).any()
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
    new_count = 0
    for lid in range(lineid_count):
        ys, xs = np.nonzero(lineid_map == lid)
        if len(ys) == 0:
            continue
        if xs.max() - xs.min() < ys.max() - ys.min():
            # vertical: topmost -> bottommost
            k1 = np.lexsort((xs, ys))[0]
            k2 = np.lexsort((xs, -ys))[0]
            angle = math.atan2(float(ys[k2] - ys[k1]), float(xs[k2] - xs[k1]))
        else:
            # horizontal: leftmost -> rightmost
            k1 = np.lexsort((ys, xs))[0]
            k2 = np.lexsort((ys, -xs))[0]
            angle = math.atan2(float(ys[k2] - ys[k1]), float(xs[k2] - xs[k1]))
        angle_map[ys, xs] = angle
        new_map[ys, xs] = new_count
        new_count += 1
    return angle_map, new_map, new_count


def chain_boxes(P: Page, lineid_count: int, angle_map: np.ndarray,
                lineid_map: np.ndarray) -> list[list[int]]:
    """J1 box<->line spatial join (chain_boxes hough_linefind.cpp:13-121):
    march outward from each non-ruby box center (left, right, up, down at
    each radius, scale-px steps) until a textline cell is hit; attach the
    box to that line and inherit its direction."""
    chains: list[list[int]] = [[] for _ in range(lineid_count)]
    H, W = P.H, P.W
    for boxid in range(P.n):
        if P.is_ruby(boxid):
            continue
        cx, cy = P.cx[boxid], P.cy[boxid]
        found = False
        for di in range(0, int(max(P.w[boxid], P.h[boxid]) / 2) + 1, SCALE):
            for xi, yi in ((cx - di, cy), (cx + di, cy),
                           (cx, cy - di), (cx, cy + di)):
                x, y = int(xi / SCALE), int(yi / SCALE)
                if not (0 <= x < W and 0 <= y < H):
                    continue
                lineid = lineid_map.item(y, x)
                direction = angle_map.item(y, x)
                if lineid >= 0 and not math.isnan(direction):
                    chains[lineid].append(boxid)
                    P.direction[boxid] = direction
                    found = True
                    break
            if found:
                break
    return chains


def line_grow(P: Page, lineid_count: int, angle_map: np.ndarray,
              lineid_map: np.ndarray, chains: list[list[int]]) -> np.ndarray:
    """Thicken each line by its chained boxes' max size so a second
    chain_boxes pass catches boxes the thin skeleton missed
    (line_grow hough_linefind.cpp:123-198). Horizontal lines grow upward
    by max height; vertical grow sideways by max width/2."""
    line_width = np.zeros(lineid_count)
    for lid in range(lineid_count):
        mw = 0.0
        for boxid in chains[lid]:
            if abs(P.direction[boxid]) < M_PI_4:
                mw = max(mw, P.h[boxid])
            else:
                mw = max(mw, P.w[boxid], P.h[boxid])
        line_width[lid] = mw / SCALE
    H, W = P.H, P.W
    map2 = np.full((H, W), -1, dtype=np.int32)
    ys, xs = np.nonzero(lineid_map >= 0)
    for y, x in zip(ys.tolist(), xs.tolist()):
        if P.lineblocker[y, x]:
            continue
        lid = lineid_map.item(y, x)
        map2[y, x] = lid
        direction = angle_map.item(y, x)
        mw = int(line_width[lid])
        if abs(direction) < M_PI_4:
            for y2 in range(y, max(-1, y - mw - 1), -1):
                if P.lineblocker[y2, x]:
                    break
                if map2.item(y2, x) < 0:
                    map2[y2, x] = lid
                    angle_map[y2, x] = direction
        else:
            for x2 in range(x, max(-1, x - mw // 2 - 1), -1):
                if P.lineblocker[y, x2]:
                    break
                if map2.item(y, x2) < 0:
                    map2[y, x2] = lid
                    angle_map[y, x2] = direction
            for x2 in range(x, min(W, x + mw // 2 + 1)):
                if P.lineblocker[y, x2]:
                    break
                if map2.item(y, x2) < 0:
                    map2[y, x2] = lid
                    angle_map[y, x2] = direction
    return map2


def sort_chain(chain: list[int], P: Page) -> None:
    """W1 in-chain reading sort (sort_chain search_loop.cpp:12-65): sort by
    the line axis; runs of boxes overlapping the group head's span re-sort
    by the cross axis (e.g. stacked punctuation in horizontal text)."""
    if not chain:
        return
    if abs(P.direction[chain[0]]) < M_PI_4:
        chain.sort(key=lambda a: (P.cx[a], a))
        i = 0
        while i < len(chain):
            j = i + 1
            while j < len(chain) and \
                    P.cx[chain[i]] + P.w[chain[i]] / 2 > P.cx[chain[j]]:
                j += 1
            if j - i > 1:
                chain[i:j] = sorted(chain[i:j], key=lambda a: (P.cy[a], a))
            i = j
    else:
        chain.sort(key=lambda a: (P.cy[a], a))
        i = 0
        while i < len(chain):
            j = i + 1
            while j < len(chain) and \
                    P.cy[chain[i]] + P.h[chain[i]] / 2 > P.cy[chain[j]]:
                j += 1
            if j - i > 1:
                chain[i:j] = sorted(chain[i:j], key=lambda a: (P.cx[a], a))
            i = j


def search_chain(P: Page, chain: list[int]):
    """A5 weighted endpoint anchors (search_chain search_loop.cpp:87-177):
    start/end transverse anchor = positional-decay weighted mean of the
    non-ruby, non-warichu boxes; direction re-derived from the anchors."""
    nonruby = [i for i in chain
               if not P.is_ruby(i) and P.double_line[i] == 0]
    if not nonruby:
        return 0.0, 0.0, 0.0, -1.0, -1.0, -1.0, -1.0
    w = max(P.w[i] for i in nonruby)
    h = max(P.h[i] for i in nonruby)
    direction = P.direction[nonruby[0]]
    n = len(nonruby)
    if abs(direction) < M_PI_4:
        wt1 = np.array([P.w[i] * P.h[i] / (k + 1) for k, i in enumerate(nonruby)])
        wt2 = np.array([P.w[i] * P.h[i] / (n - k) for k, i in enumerate(nonruby)])
        cys = np.array([P.cy[i] for i in nonruby])
        start_cy = float((cys * wt1).sum() / wt1.sum())
        end_cy = float((cys * wt2).sum() / wt2.sum())
        start_cx = float(P.cx[nonruby[0]])
        end_cx = float(P.cx[nonruby[-1]])
        direction = math.atan2(end_cy - start_cy, end_cx - start_cx)
        if direction > M_PI_2:
            direction -= M_PI
    else:
        wt1 = np.array([P.w[i] * P.h[i] / (k + 1) for k, i in enumerate(nonruby)])
        wt2 = np.array([P.w[i] * P.h[i] / (n - k) for k, i in enumerate(nonruby)])
        cxs = np.array([P.cx[i] for i in nonruby])
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
    direction, w, h, s_cx, s_cy, e_cx, e_cy = search_chain(P, chains[chainid])
    sel: list[int] = []
    cand = [i for i in chains[chainid]
            if not P.is_ruby(i) and P.double_line[i] == 0
            and (max(P.w[i], P.h[i]) / max(w, h) >= 0.4 if max(w, h) > 0 else False)]
    if not cand:
        return sel, direction, w, h, s_cx, s_cy, e_cx, e_cy
    center_x = sum(P.cx[i] for i in cand) / len(cand)
    center_y = sum(P.cy[i] for i in cand) / len(cand)
    if abs(direction) < M_PI_4:
        for i in cand:
            yi = math.tan(direction) * (P.cx[i] - center_x) + center_y
            if abs(yi - P.cy[i]) < max(w, h) / 2:
                sel.append(i)
    else:
        for i in cand:
            xi = math.tan(M_PI_2 - direction) * (P.cy[i] - center_y) + center_x
            if abs(xi - P.cx[i]) < max(w, h) / 2:
                sel.append(i)
    return sel, direction, w, h, s_cx, s_cy, e_cx, e_cy


def make_track_line(P: Page, chains: list[list[int]], chainid: int,
                    extra_len: int = 0):
    """Center track polyline of a chain, sampled every SCALE px
    (make_track_line search_loop.cpp:239-449). Returns (xs, ys, direction,
    w, h) in pixel coords; extra_len extends past both ends (ruby probe)."""
    sel, direction, w, h, s_cx, s_cy, e_cx, e_cy = \
        find_linecenter_id(P, chains, chainid)
    sel_set = set(sel)
    xs: list[int] = []
    ys: list[int] = []
    if abs(direction) < M_PI_4:
        xi: list[float] = []
        yi: list[float] = []
        if sel:
            j = sel[0]
            track = P.cy[j]
            xi.append(P.cx[j] - P.w[j] / 2)
            yi.append(track)
        else:
            return xs, ys, direction, w, h
        for boxid in chains[chainid]:
            if P.is_ruby(boxid):
                continue
            if boxid in sel_set:
                track = (track + P.cy[boxid]) / 2
            xi.append(P.cx[boxid])
            yi.append(track)
        j = sel[-1]
        track = P.cy[j]
        xi.append(P.cx[j] + P.w[j] / 2)
        yi.append(track)

        if extra_len > 0 and len(xi) >= 2:
            x1, y1, x2, y2 = xi[0], yi[0], xi[1], yi[1]
            a = (y2 - y1) / (x2 - x1) if x2 != x1 else 0.0
            head_x: list[int] = []
            head_y: list[int] = []
            xp = int(x1)
            while xp > x1 - extra_len * w * 2:
                yp = int((xp - x1) * a + y1)
                xp1, yp1 = xp // SCALE, yp // SCALE
                if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
                    if P.lineblocker[yp1, xp1]:
                        break
                    head_x.append(xp)
                    head_y.append(yp)
                xp -= SCALE
            xs.extend(reversed(head_x))
            ys.extend(reversed(head_y))

        px, py = _interp_samples(xi[:-1], yi[:-1], xi[1:], yi[1:])
        xs.extend(px)
        ys.extend(py)

        if extra_len > 0 and len(xi) >= 2:
            x1, y1 = xi[-2], yi[-2]
            x2, y2 = xi[-1], yi[-1]
            a = (y2 - y1) / (x2 - x1) if x2 != x1 else 0.0
            xp = int(x2)
            while xp < x2 + extra_len * w * 2:
                yp = int((xp - x1) * a + y1)
                xp1, yp1 = xp // SCALE, yp // SCALE
                if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
                    if P.lineblocker[yp1, xp1]:
                        break
                    xs.append(xp)
                    ys.append(yp)
                xp += SCALE
    else:
        xi = []
        yi = []
        if sel:
            j = sel[0]
            track = P.cx[j]
            xi.append(track)
            yi.append(P.cy[j] - P.h[j] / 2)
        else:
            return xs, ys, direction, w, h
        for boxid in chains[chainid]:
            if P.is_ruby(boxid):
                continue
            if boxid in sel_set:
                track = (track + P.cx[boxid]) / 2
            xi.append(track)
            yi.append(P.cy[boxid])
        j = sel[-1]
        track = P.cx[j]
        xi.append(track)
        yi.append(P.cy[j] + P.h[j] / 2)

        if extra_len > 0 and len(yi) >= 2:
            x1, y1, x2, y2 = xi[0], yi[0], xi[1], yi[1]
            a = (x2 - x1) / (y2 - y1) if y2 != y1 else 0.0
            head_x = []
            head_y = []
            yp = int(y1)
            while yp > y1 - extra_len * h * 2:
                xp = int((yp - y1) * a + x1)
                xp1, yp1 = xp // SCALE, yp // SCALE
                if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
                    if P.lineblocker[yp1, xp1]:
                        break
                    head_x.append(xp)
                    head_y.append(yp)
                yp -= SCALE
            xs.extend(reversed(head_x))
            ys.extend(reversed(head_y))

        py, px = _interp_samples(yi[:-1], xi[:-1], yi[1:], xi[1:])
        xs.extend(px)
        ys.extend(py)

        if extra_len > 0 and len(yi) >= 2:
            x1, y1 = xi[-2], yi[-2]
            x2, y2 = xi[-1], yi[-1]
            a = (x2 - x1) / (y2 - y1) if y2 != y1 else 0.0
            yp = int(y2)
            while yp < y2 + extra_len * h * 2:
                xp = int((yp - y1) * a + x1)
                xp1, yp1 = xp // SCALE, yp // SCALE
                if 0 <= xp1 < P.W and 0 <= yp1 < P.H:
                    if P.lineblocker[yp1, xp1]:
                        break
                    xs.append(xp)
                    ys.append(yp)
                yp += SCALE
    return xs, ys, direction, w, h


def create_chainid_map(P: Page, chains: list[list[int]], ratio: float = 1.0,
                       extra_len: int = 0) -> np.ndarray:
    """Chain-id raster: the spatial index that turns every probe join into
    an O(1) lookup (create_chainid_map search_loop.cpp:451-522). Track
    lines are stamped with a transverse band of size/3*ratio, then each
    chained non-ruby box's rectangle is stamped."""
    cmap = np.full((P.H, P.W), -1, dtype=np.int32)
    for chainid, chain in enumerate(chains):
        if not chain:
            continue
        xs, ys, direction, w, h = make_track_line(P, chains, chainid,
                                                  extra_len)
        if not xs:
            continue
        s_s = max(w, h)
        band = int(s_s / 3 / SCALE * ratio)
        # vectorized band fill: one fancy assignment per band offset
        # (duplicate indices within one chain write the same value, so
        # last-wins fancy indexing is equivalent to the scalar loop)
        xa = np.asarray(xs, dtype=np.int64) // SCALE
        ya = np.asarray(ys, dtype=np.int64) // SCALE
        inb = (xa >= 0) & (xa < P.W) & (ya >= 0) & (ya < P.H)
        xa, ya = xa[inb], ya[inb]
        if abs(direction) < M_PI_4:
            for dy in range(-band, band):
                yy = ya + dy
                m = (yy >= 0) & (yy < P.H)
                sel_y, sel_x = yy[m], xa[m]
                free = cmap[sel_y, sel_x] < 0
                cmap[sel_y[free], sel_x[free]] = chainid
        else:
            for dx in range(-band, band):
                xx = xa + dx
                m = (xx >= 0) & (xx < P.W)
                sel_y, sel_x = ya[m], xx[m]
                free = cmap[sel_y, sel_x] < 0
                cmap[sel_y[free], sel_x[free]] = chainid
    # box-rect stamping: bounds computed vectorized over all chained
    # non-ruby boxes (the per-box slice write itself stays — rects vary)
    all_b: list[int] = []
    all_c: list[int] = []
    for chainid, chain in enumerate(chains):
        for boxid in chain:
            all_b.append(boxid)
            all_c.append(chainid)
    if all_b:
        bb = np.asarray(all_b, dtype=np.int64)
        cc_ids = np.asarray(all_c, dtype=np.int64)
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
        for li, ri, ti, bi, ci in zip(left.tolist(), right.tolist(),
                                      top.tolist(), bottom.tolist(),
                                      cc_ids.tolist()):
            if li >= ri or ti >= bi:
                continue
            view = cmap[ti:bi, li:ri]
            view[view < 0] = ci
    return cmap


def _chain_max_wh(P: Page, chain: list[int]) -> tuple[float, float]:
    """A4 per-chain extrema (transform_reduce search_loop.cpp:594-605)."""
    w = max((P.w[i] for i in chain), default=0.0)
    h = max((P.h[i] for i in chain), default=0.0)
    return w, h


def _ema_toward_front(P: Page, chain: list[int], axis: np.ndarray) -> float:
    """A6 EMA scan folded back-to-front: anchor for the chain start
    (combine_chains search_loop.cpp:607-613)."""
    v = float(axis[chain[-1]])
    for boxid in reversed(chain):
        v = 0.25 * v + 0.75 * float(axis[boxid])
    return v


def _ema_toward_back(P: Page, chain: list[int], axis: np.ndarray) -> float:
    """A6 EMA scan folded front-to-back: anchor for the chain end
    (combine_chains search_loop.cpp:615-619)."""
    v = float(axis[chain[0]])
    for boxid in chain:
        v = 0.25 * v + 0.75 * float(axis[boxid])
    return v


def _mean_gap(P: Page, chain: list[int], horizontal: bool) -> float:
    """A7 mean positive inter-box gap along the chain axis
    (combine_chains search_loop.cpp:621-632)."""
    total = 0.0
    for a, b in zip(chain, chain[1:]):
        if horizontal:
            g = (P.cx[b] - P.w[b] / 2) - (P.cx[a] + P.w[a] / 2)
        else:
            g = (P.cy[b] - P.h[b] / 2) - (P.cy[a] + P.h[a] / 2)
        if g > 0:
            total += g
    return max(0.0, total / (len(chain) - 1)) if len(chain) > 1 else 0.0


def merge_targets(P: Page, chains: list[list[int]], cmap: np.ndarray
                  ) -> list[int]:
    """One pass of the combine_chains fixpoint loop: the merge edge vector."""
    blocker = P.lineblocker
    H, W = P.H, P.W
    merge_chain = [-1] * len(chains)
    for chainid, chain in enumerate(chains):
        if not chain:
            continue
        boxid1 = chain[0]
        boxid2 = chain[-1]
        w, h = _chain_max_wh(P, chain)
        if abs(P.direction[boxid1]) < M_PI_4:
            start_cy0 = _ema_toward_front(P, chain, P.cy)
            end_cy0 = _ema_toward_back(P, chain, P.cy)
            space = _mean_gap(P, chain, True)

            # head: search left (search_loop.cpp:640-690)
            other1: list[int] = []
            done: list[int] = []
            blocked = False
            for xs in range(0, int((w + space) * 3.0), SCALE):
                x = int((P.cx[boxid1] - w / 2 - xs) / SCALE)
                if x < 0 or x >= W:
                    continue
                for yk in range(-5, 6):
                    y = int((start_cy0 + h / 8.0 * yk / 5) / SCALE)
                    if y < 0 or y >= H:
                        continue
                    if blocker[y, x]:
                        other1 = []
                        blocked = True
                        break
                    oc = cmap.item(y, x)
                    if oc >= 0 and oc != chainid and oc not in done \
                            and oc not in other1:
                        och = chains[oc]
                        if och and abs(P.direction[och[-1]]) < M_PI_4 \
                                and P.double_line[och[-1]] == P.double_line[boxid1]:
                            h1 = max(P.h[i] for i in och)
                            end_cy1 = _ema_toward_back(P, och, P.cy)
                            if abs(start_cy0 - end_cy1) < max(h, h1):
                                other1.append(oc)
                                continue
                        done.append(oc)
                if blocked or done:
                    break
            if len(other1) == 1:
                merge_chain[chainid] = other1[0]

            # tail: search right (search_loop.cpp:693-745)
            other2: list[int] = []
            blocked = False
            for xs in range(0, int((w + space) * 3.0), SCALE):
                x = int((P.cx[boxid2] + w / 2 + xs) / SCALE)
                if x < 0 or x >= W:
                    continue
                for yk in range(-5, 6):
                    y = int((end_cy0 + h / 8.0 * yk / 5) / SCALE)
                    if y < 0 or y >= H:
                        continue
                    if blocker[y, x]:
                        other2 = []
                        blocked = True
                        break
                    oc = cmap.item(y, x)
                    if oc >= 0 and oc != chainid and oc not in done \
                            and oc not in other2:
                        och = chains[oc]
                        if och and abs(P.direction[och[-1]]) < M_PI_4 \
                                and P.double_line[och[0]] == P.double_line[boxid2]:
                            h1 = max(P.h[i] for i in och)
                            start_cy1 = _ema_toward_front(P, och, P.cy)
                            if abs(end_cy0 - start_cy1) < max(h, h1):
                                other2.append(oc)
                        done.append(oc)
                if blocked or done:
                    break
            if len(other2) == 1:
                merge_chain[other2[0]] = chainid
        else:
            start_cx0 = _ema_toward_front(P, chain, P.cx)
            end_cx0 = _ema_toward_back(P, chain, P.cx)
            space = _mean_gap(P, chain, False)

            # head: search up (search_loop.cpp:779-828)
            other1 = []
            done = []
            blocked = False
            for ys in range(0, int((h + space) * 3.0), SCALE):
                y = int((P.cy[boxid1] - h / 2 - ys) / SCALE)
                if y < 0 or y >= H:
                    continue
                for xk in range(-5, 6):
                    x = int((start_cx0 + w / 8.0 * xk / 5) / SCALE)
                    if x < 0 or x >= W:
                        continue
                    if blocker[y, x]:
                        other1 = []
                        blocked = True
                        break
                    oc = cmap.item(y, x)
                    if oc >= 0 and oc != chainid and oc not in done \
                            and oc not in other1:
                        och = chains[oc]
                        if och and abs(P.direction[och[-1]]) > M_PI_4 \
                                and P.double_line[och[-1]] == P.double_line[boxid1]:
                            w1 = max(P.w[i] for i in och)
                            end_cx1 = _ema_toward_back(P, och, P.cx)
                            if abs(start_cx0 - end_cx1) < max(w, w1):
                                other1.append(oc)
                        done.append(oc)
                if blocked or done:
                    break
            if len(other1) == 1:
                merge_chain[chainid] = other1[0]

            # tail: search down (search_loop.cpp:831-875)
            other2 = []
            blocked = False
            for ys in range(0, int((h + space) * 3.0), SCALE):
                y = int((P.cy[boxid2] + h / 2 + ys) / SCALE)
                if y < 0 or y >= H:
                    continue
                for xk in range(-5, 6):
                    x = int((end_cx0 + w / 8.0 * xk / 5) / SCALE)
                    if x < 0 or x >= W:
                        continue
                    if blocker[y, x]:
                        other2 = []
                        blocked = True
                        break
                    oc = cmap.item(y, x)
                    if oc >= 0 and oc != chainid and oc not in done \
                            and oc not in other2:
                        och = chains[oc]
                        if och and abs(P.direction[och[-1]]) > M_PI_4 \
                                and P.double_line[och[0]] == P.double_line[boxid2]:
                            w1 = max(P.w[i] for i in och)
                            start_cx1 = _ema_toward_front(P, och, P.cx)
                            if abs(end_cx0 - start_cx1) < max(w, w1):
                                other2.append(oc)
                        done.append(oc)
                if blocked or done:
                    break
            if len(other2) == 1:
                merge_chain[other2[0]] = chainid
    return merge_chain


def ruby_candidates(P: Page, chainid: int, xs, ys, direction: float,
                    w: float, h: float, cmap: np.ndarray,
                    idimage: np.ndarray) -> list[int]:
    """The search_ruby band probe of one chain."""
    horizontal = abs(direction) < M_PI_4
    K = max(1, int((h if horizontal else w) * 1.25 / SCALE))
    xa = np.asarray(xs, dtype=np.int64) // SCALE
    ya = np.asarray(ys, dtype=np.int64) // SCALE
    inb = (xa >= 0) & (xa < P.W) & (ya >= 0) & (ya < P.H)
    xa, ya = xa[inb], ya[inb]
    ruby_boxid: list[int] = []
    if len(xa) and K > 1:
        alive = np.ones(len(xa), dtype=bool)
        cand: list[tuple[int, int, int]] = []  # (point, k, oid)
        for k in range(1, K):
            if horizontal:
                rq, cq = ya - k, xa
                ok = rq >= 0
            else:
                rq, cq = ya, xa + k
                ok = cq < P.W
            alive = alive & ok
            if not alive.any():
                break
            rr = np.where(alive, rq, 0)
            cc = np.where(alive, cq, 0)
            barrier = P.lineblocker[rr, cc]
            oc = cmap[rr, cc]
            barrier |= (oc >= 0) & (oc != chainid)
            alive = alive & ~barrier
            oid = idimage[rr, cc]
            hit = alive & (oid >= 0)
            if hit.any():
                ids = oid[hit].astype(np.int64)
                good = (((P.subtype[ids] & 6) == 6)
                        & (P.idx[ids] < 0))
                for pt, o in zip(np.nonzero(hit)[0][good].tolist(),
                                 ids[good].tolist()):
                    cand.append((pt, k, o))
        seen: set[int] = set()
        for _pt, _k, o in sorted(cand):
            if o not in seen:
                seen.add(o)
                ruby_boxid.append(o)
    return ruby_boxid


def renumber_chain(P: Page) -> int:
    """A14 dense renumber of surviving chain ids in first-appearance order
    then sorted (renumber_chain after_search.cpp:62-79)."""
    used = sorted({int(i) for i in P.idx if i >= 0})
    remap = {old: new for new, old in enumerate(used)}
    for i in range(P.n):
        if P.idx[i] >= 0:
            P.idx[i] = remap[int(P.idx[i])]
    return len(used)


def section_params(P: Page) -> dict[int, _LineParam]:
    """renumber_id's parameter loop; keyed by line id, ascending."""
    params: dict[int, _LineParam] = {}
    chain_ids: list[int] = []
    major_direction = 0
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        cid = int(P.idx[i])
        if cid not in params:
            params[cid] = _LineParam()
            chain_ids.append(cid)
        if P.is_ruby(i) or (P.subtype[i] & SUBTYPE_ALONE_RUBY):
            continue
        lp = params[cid]
        lp.d = 0 if (P.subtype[i] & SUBTYPE_VERTICAL) == 0 else 1
        major_direction += 1 if lp.d == 0 else -1
        lp.cx1 = min(lp.cx1, P.cx[i] - P.w[i] / 2)
        lp.cy1 = min(lp.cy1, P.cy[i] - P.h[i] / 2)
        lp.cx2 = max(lp.cx2, P.cx[i] + P.w[i] / 2)
        lp.cy2 = max(lp.cy2, P.cy[i] + P.h[i] / 2)
        lp.size = max(lp.size, P.w[i], P.h[i])
        lp.count += 1
    for lp in params.values():
        if lp.count <= 1:
            lp.d = 0 if major_direction >= 0 else 1
    return {c: params[c] for c in sorted(chain_ids)}


def process_line(P: Page, id_max: int, chains: list[list[int]],
                 lineparams: list[_LineParam],
                 cmap: np.ndarray) -> tuple[list[list[int]], list[list[int]]]:
    """J6 line -> next-line edges (process_line make_block.cpp:21-204):
    from each line's size-filtered baseline, scan forward and backward
    along the axis, probing (0.5+1.5)*size transverse for the next
    parallel line; separator pixels and a >ALLOW_SIZEDIFF size difference
    reject; a perpendicular line breaks the probe in BOTH orientations
    (the reference consults the blocker in both families —
    make_block.cpp:77,101,157,183)."""
    scanwidth = 0.5 + ALLOWWIDTH_NEXT_BLOCK
    chain_next: list[list[int]] = [[] for _ in range(id_max)]
    chain_prev: list[list[int]] = [[] for _ in range(id_max)]
    dvals = np.array([lp.d for lp in lineparams], dtype=np.int64)
    sizes = np.array([lp.size for lp in lineparams], dtype=np.float64)

    def _scan(chainid: int, steps: np.ndarray, a: float, c1: float,
              t1: float, horizontal: bool, K: int, lp_size: float) -> None:
        """One scan direction, vectorized: the transverse walk per outer
        cell is a prefix-alive pass over a (K, n) grid — barriers
        (blocker, perpendicular line) pre-compute; accept-candidates are
        then replayed scalar-side in exact (outer, depth) order, because
        whether an acceptance breaks the walk depends on the mutable
        dedup state (a seen chain lets the reference keep walking).
        Cell-stride note: the reference steps per PIXEL
        (make_block.cpp:67,91) but every probe is a cell lookup, so
        SCALE-strided steps visit the identical cell sequence."""
        if len(steps) == 0 or K <= 0:
            return
        t = a * (steps - c1) + t1
        if horizontal:
            xi = (steps / SCALE).astype(np.int64)
            yi = (t / SCALE).astype(np.int64)
        else:
            xi = (t / SCALE).astype(np.int64)
            yi = (steps / SCALE).astype(np.int64)
        inb = (xi >= 0) & (xi < P.W) & (yi >= 0) & (yi < P.H)
        xs_s = np.where(inb, xi, 0)
        ys_s = np.where(inb, yi, 0)
        blocked = inb & P.lineblocker[ys_s, xs_s]
        nz = np.nonzero(blocked)[0]
        cut = int(nz[0]) if len(nz) else len(steps)
        walk = inb[:cut]
        if not walk.any():
            return
        cols = xi[:cut][walk]
        rows = yi[:cut][walk]
        jidx = np.nonzero(walk)[0]
        perp_d = 1 if horizontal else 2
        alive = np.ones(len(cols), dtype=bool)
        events: list[tuple[int, int, int]] = []
        for k in range(K):
            if horizontal:
                rr, cc = rows + k, cols
                alive = alive & (rr < P.H)
            else:
                rr, cc = rows, cols - k
                alive = alive & (cc >= 0)
            if not alive.any():
                break
            rr_s = np.where(alive, rr, 0)
            cc_s = np.where(alive, cc, 0)
            blk = alive & P.lineblocker[rr_s, cc_s]
            oc = cmap[rr_s, cc_s]
            foreign = alive & ~blk & (oc >= 0) & (oc != chainid)
            if not foreign.any():
                alive = alive & ~blk
                continue
            fj = np.nonzero(foreign)[0]
            oc_f = oc[fj].astype(np.int64)
            perp_f = dvals[oc_f] == perp_d
            osz = sizes[oc_f]
            denom = (np.minimum(lp_size, osz) if horizontal
                     else np.maximum(lp_size, osz))
            ratio = np.where(denom > 0,
                             np.abs(osz - lp_size)
                             / np.where(denom > 0, denom, 1.0), np.inf)
            accept_f = ~perp_f & (ratio <= ALLOW_SIZEDIFF)
            alive = alive & ~blk
            if perp_f.any():
                alive[fj[perp_f]] = False
            for j, o in zip(fj[accept_f].tolist(),
                            oc_f[accept_f].tolist()):
                events.append((int(jidx[j]), k, int(o)))
            # an acceptance only ends the walk when the chain is NEW —
            # resolved below; deeper candidates stay collected
        done_depth: dict[int, int] = {}
        for j, k, oc_v in sorted(events):
            if j in done_depth and k > done_depth[j]:
                continue
            if oc_v not in chain_next[chainid]:
                chain_next[chainid].append(oc_v)
                chain_prev[oc_v].append(chainid)
                done_depth[j] = k

    for chainid in range(id_max):
        chain = chains[chainid]
        if not chain:
            continue
        lp = lineparams[chainid]
        if lp.d == 2:
            s_s = max(max(P.w[b], P.h[b]) for b in chain)
            cx1 = cy1 = cx2 = cy2 = -1.0
            for b in chain:
                s = max(P.w[b], P.h[b])
                if abs(s - s_s) / min(s, s_s) > 0.5:
                    continue
                if P.is_ruby(b) or P.double_line[b] > 0:
                    continue
                if cx1 < 0 and cy1 < 0:
                    cx1 = P.cx[b] - P.w[b] / 2
                    cy1 = P.cy[b]
                cx2 = P.cx[b] + P.w[b] / 2
                cy2 = P.cy[b]
            if cx2 - cx1 < SCALE:
                continue
            a = (cy2 - cy1) / (cx2 - cx1)
            K = int(s_s / SCALE * scanwidth)  # range(yi, int(yi+c)) length
            mid = int((cx1 + cx2) / 2)
            fwd = np.arange(mid, int(cx2 + s_s), SCALE, dtype=np.float64)
            bwd = np.arange(mid, int(cx1 - s_s), -SCALE, dtype=np.float64)
            _scan(chainid, fwd, a, cx1, cy1, True, K, lp.size)
            _scan(chainid, bwd, a, cx1, cy1, True, K, lp.size)
        elif lp.d == 1:
            s_s = max(max(P.w[b], P.h[b]) for b in chain)
            cx1 = cy1 = cx2 = cy2 = -1.0
            for b in chain:
                s = max(P.w[b], P.h[b])
                if abs(s - s_s) / min(s, s_s) > 0.5:
                    continue
                if P.is_ruby(b) or P.double_line[b] > 0:
                    continue
                if cx1 < 0 and cy1 < 0:
                    cx1 = P.cx[b]
                    cy1 = P.cy[b] - P.h[b] / 2
                cx2 = P.cx[b]
                cy2 = P.cy[b] + P.h[b] / 2
            if cy2 - cy1 < SCALE:
                continue
            a = (cx2 - cx1) / (cy2 - cy1)
            # range(xi, int(xi-c), -1) spans ceil(c) cells (int() truncates
            # toward zero; out-of-page cells are masked dead in _scan)
            c = s_s / SCALE * scanwidth
            K = int(math.ceil(c))
            mid = int((cy1 + cy2) / 2)
            fwd = np.arange(mid, int(cy2 + s_s), SCALE, dtype=np.float64)
            bwd = np.arange(mid, int(cy1 - s_s), -SCALE, dtype=np.float64)
            _scan(chainid, fwd, a, cy1, cx1, False, K, lp.size)
            _scan(chainid, bwd, a, cy1, cx1, False, K, lp.size)
    return chain_next, chain_prev


def block_lines(P: Page, id_max: int
                ) -> tuple[list[list[int]], list[_LineParam]]:
    """make_block's line and line-parameter loops."""
    chains: list[list[int]] = [[] for _ in range(id_max)]
    lineparams = [_LineParam() for _ in range(id_max)]
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        if P.is_ruby(i) or (P.subtype[i] & SUBTYPE_ALONE_RUBY):
            continue
        cid = int(P.idx[i])
        chains[cid].append(i)
        lp = lineparams[cid]
        lp.size = max(lp.size, P.w[i], P.h[i])
        lp.count += 1
        if (P.subtype[i] & SUBTYPE_VERTICAL) == 0:
            lp.d = 2 if len(chains[cid]) > 1 else 0
        else:
            lp.d = 1 if len(chains[cid]) > 1 else 0
    for chain in chains:
        chain.sort(key=lambda b: (P.subidx[b], b))

    # warichu (double-line) run count per line (make_block.cpp:1417-1443)
    for chain in chains:
        if not chain:
            continue
        count = count1 = count2 = 0
        cid = -1
        for b in chain:
            cid = int(P.idx[b])
            if P.double_line[b] == 0:
                if count1 > 1 or count2 > 1:
                    count += 1
                count1 = count2 = 0
            elif P.double_line[b] == 1:
                count1 += 1
            elif P.double_line[b] == 2:
                count2 += 1
        if count1 > 1 or count2 > 1:
            count += 1
        if cid >= 0:
            lineparams[cid].doubleline = count
    return chains, lineparams


def lines_of(P: Page, boxes, id_max: int) -> list[list[int]]:
    """make_block's per-line box lists (over ``boxes``)."""
    boxes = set(boxes.tolist())
    full_chains: list[list[int]] = [[] for _ in range(id_max)]
    for i in range(P.n):
        if P.idx[i] < 0 or i not in boxes:
            continue
        full_chains[int(P.idx[i])].append(i)
    for chain in full_chains:
        chain.sort(key=lambda b: (P.subidx[b], b))
    return full_chains


def block_params(P: Page, blocks: list[list[int]], id_max: int
                 ) -> list[_BlockParam]:
    """make_block's A8 block bbox + stats loop."""
    bparams: list[_BlockParam] = []
    for _ in blocks:
        bp = _BlockParam()
        bp.d = 0
        bp.p = 0
        bp.sec = 0
        bp.count = 0
        bp.size = 0.0
        bp.x_min = P.W * SCALE
        bp.y_min = P.H * SCALE
        bp.x_max = 0.0
        bp.y_max = 0.0
        bparams.append(bp)
    block_of_chain = [-1] * id_max
    for bi, chains_in in enumerate(blocks):
        for c in chains_in:
            block_of_chain[c] = bi
    for i in range(P.n):
        if P.idx[i] < 0 or (P.subtype[i] & SUBTYPE_ALONE_RUBY):
            continue
        bi = block_of_chain[int(P.idx[i])]
        if bi < 0:
            continue
        bp = bparams[bi]
        bp.d = 0 if (P.subtype[i] & SUBTYPE_VERTICAL) == 0 else 1
        bp.count += 1
        bp.size = max(bp.size, P.w[i], P.h[i])
        bp.sec = int(P.section[i])
        bp.x_min = min(bp.x_min, P.cx[i] - P.w[i] / 2)
        bp.y_min = min(bp.y_min, P.cy[i] - P.h[i] / 2)
        bp.x_max = max(bp.x_max, P.cx[i] + P.w[i] / 2)
        bp.y_max = max(bp.y_max, P.cy[i] + P.h[i] / 2)
    for bp in bparams:
        if bp.x_min > bp.x_max:
            bp.x_min, bp.x_max = bp.x_max, bp.x_min
        if bp.y_min > bp.y_max:
            bp.y_min, bp.y_max = bp.y_max, bp.y_min
    return bparams


def number_blocks(P: Page, blocks: list[list[int]], block_idx: list[int],
                  bparams: list[_BlockParam], id_max: int) -> None:
    """make_block's block numbering and per-block line renumber loops."""
    chain_remap = [-1] * id_max
    chain_page = [0] * id_max
    for renum, bi in enumerate(block_idx):
        for c in blocks[bi]:
            chain_remap[c] = renum
            chain_page[c] = bparams[bi].p
    for i in range(P.n):
        if P.idx[i] < 0:
            continue
        P.block[i] = chain_remap[int(P.idx[i])]
        P.page[i] = chain_page[int(P.idx[i])]

    # A14 dense per-block line renumber (make_block.cpp:1717-1737)
    idx_in_block: dict[int, list[int]] = {}
    for i in range(P.n):
        if P.idx[i] < 0 or P.block[i] < 0:
            continue
        idx_in_block.setdefault(int(P.block[i]), []).append(int(P.idx[i]))
    for bi in idx_in_block:
        idx_in_block[bi] = sorted(set(idx_in_block[bi]))
    for i in range(P.n):
        if P.idx[i] < 0 or P.block[i] < 0:
            continue
        P.idx[i] = idx_in_block[int(P.block[i])].index(int(P.idx[i]))


def block_heads(P: Page, order: list[int]) -> dict[int, tuple]:
    """find_lostspace's per-block line-head collection."""
    heads: dict[int, tuple] = {}
    blocks = sorted({int(P.block[i]) for i in order if P.block[i] >= 0})
    for b in blocks:
        lines: dict[int, list[int]] = {}
        s0 = 0.0
        vertical = False
        for i in order:
            if P.block[i] != b or P.is_ruby(i):
                continue
            vertical = (P.subtype[i] & SUBTYPE_VERTICAL) != 0
            s0 = max(s0, P.h[i] if vertical else P.w[i])
            lines.setdefault(int(P.idx[i]), [])
            if len(lines[int(P.idx[i])]) < 3:
                lines[int(P.idx[i])].append(i)
        heads[b] = (lines, s0, vertical)
    return heads
