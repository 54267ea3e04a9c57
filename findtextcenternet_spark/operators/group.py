"""Group stage (SURVEY.md §2 J1-J7, A4-A14, W1-W3, W5-W6, P8-P9; §3.1
step 4): the page-local reading-order engine.

The real machinery lives in ``operators/textline.py`` — a faithful NumPy
re-expression of the reference's 6.4k-LoC ``textline_detect`` C++ program
(textline_detect/src/process.cpp:46-67 pipeline order): lineblocker
cluster-prune + hysteresis, textline CC, box→line spatial attach,
chain-merge fixpoint, unbound-box directional attach, warichu split,
space chains, ruby band attach + interleave, next-line edges, block DFS,
section (multi-column) reading order, warichu reorder, and the
duplicate/lost space checks. This module is the DataFrame adapter: it runs
on one page at a time inside the extraction kernel, so pages never cross
executors and the stage scales linearly with page count regardless of
cluster size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .textline import run_textline_detect

OUT_COLS = ["box_id", "p", "cx", "cy", "w", "h", "feature",
            "block", "idx", "subidx", "subtype"]


def group_page(boxes: pd.DataFrame, runs: pd.DataFrame) -> pd.DataFrame:
    """Order one page's boxes into (block, idx, subidx, subtype).

    Input: boxes (box_id, p, cx, cy, w, h, code1..code8, feature), runs
    (channel 'line'|'sep', y, x1, x2[, v]) in heatmap cells. Returns the
    carried box columns plus block/idx/subidx/subtype, sorted in final
    reading order (W2: block, idx, subidx — main.cpp:156-161). Boxes the
    reference drops (unreachable chains, block < 0) are excluded, exactly
    like the reference output filter (make_block.cpp:1739-1745)."""
    if boxes.empty:
        return pd.DataFrame(columns=OUT_COLS)
    b = boxes.reset_index(drop=True)

    channel = runs["channel"].to_numpy()
    is_line = channel == "line"
    is_sep = channel == "sep"
    yxx = runs[["y", "x1", "x2"]].to_numpy(dtype=np.int64)
    line_runs = yxx[is_line]
    sep_runs = yxx[is_sep]
    if "v" in runs.columns and len(sep_runs):
        sep_vals = runs["v"].to_numpy()[is_sep].astype(np.float64)
    else:
        sep_vals = np.full(len(sep_runs), 0.982)

    P, order = run_textline_detect(
        {"cx": b["cx"].to_numpy(), "cy": b["cy"].to_numpy(),
         "w": b["w"].to_numpy(), "h": b["h"].to_numpy(),
         "code1": b["code1"].to_numpy(), "code2": b["code2"].to_numpy(),
         "code4": b["code4"].to_numpy(), "code8": b["code8"].to_numpy()},
        line_runs, sep_runs, sep_vals)

    box_id = b["box_id"].to_numpy()
    p_a = b["p"].to_numpy()
    feat = b["feature"].tolist()
    rows = [(int(box_id[i]), float(p_a[i]),
             float(P.cx[i]), float(P.cy[i]), float(P.w[i]), float(P.h[i]),
             feat[i],
             int(P.block[i]), int(P.idx[i]), int(P.subidx[i]),
             int(P.subtype[i]))
            for i in order]
    return pd.DataFrame(rows, columns=OUT_COLS)
