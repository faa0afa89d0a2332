"""Run-based 8-connected component labeling, pure numpy.

This is the engine's replacement for `cv2.findContours` in the detection
postprocess (reference
`doctr/models/detection/differentiable_binarization/base.py:95-140` finds
contours of the binarized probability map and scores each one). We label
components over horizontal runs: runs are extracted with one vectorized pass,
then runs in adjacent rows are joined when they overlap or touch
diagonally. Cost is O(runs) with tiny constants — ink on synthetic pages is
sparse, so this is far cheaper than pixel-level labeling.

The join is a forest plus a merge-edge union. Each run's parent is its
first touching run in the row above, so most of a component (glyph
strokes, marker bars: long vertical chains of runs) is one tree, resolved
to its root by pointer jumping in O(log height) gathers. Only the extra
upper neighbours of runs that touch more than one (where two strokes
merge) become edges between roots, and min-label propagation runs over
those few edges alone instead of over every adjacency.
"""

from __future__ import annotations

import numpy as np


def _min_label_components(n: int, pi: np.ndarray, pj: np.ndarray) -> np.ndarray:
    """Connected components over edge list (pi, pj): iterative min-label
    propagation with pointer jumping — fully vectorized, converges in
    O(log diameter) passes."""
    labels = np.arange(n, dtype=np.int64)
    while True:
        nxt = labels.copy()
        np.minimum.at(nxt, pi, labels[pj])
        np.minimum.at(nxt, pj, labels[pi])
        nxt = nxt[nxt]  # pointer jump
        if np.array_equal(nxt, labels):
            return labels
        labels = nxt


def label_runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Extract horizontal runs of True pixels.

    Returns (rows, starts, ends, labels) where ends are exclusive and each
    run's label is the minimum run index of its 8-connected component.

    Adjacency is computed without any per-row loop: runs are globally sorted
    row-major, so shifting coordinates by row*(w+2) turns "overlapping or
    diagonally touching run in the previous row" into a single pair of
    searchsorted range queries over the whole run list at once.
    """
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    diff = np.diff(padded.view(np.int8), axis=1)
    # flatnonzero + divmod instead of two argwhere passes: same row-major
    # coordinates, one boolean scan per sign and no (n, 2) index arrays
    flat = diff.reshape(-1)
    start_flat = np.flatnonzero(flat == 1)  # row-major order
    end_flat = np.flatnonzero(flat == -1)
    rows, starts = np.divmod(start_flat, w + 1)
    ends = end_flat - rows * (w + 1)  # exclusive

    n = rows.shape[0]
    if n == 0:
        return rows, starts, ends, np.empty(0, dtype=np.int64)

    # 8-connectivity with exclusive ends: run j (row r-1) touches run i
    # (row r) iff s_j <= e_i and e_j >= s_i
    stride = w + 2
    key_s = rows * stride + starts  # globally ascending
    key_e = rows * stride + ends  # globally ascending
    q_lo = (rows - 1) * stride + starts
    q_hi = (rows - 1) * stride + ends
    j_lo = np.searchsorted(key_e, q_lo, side="left")
    j_hi = np.searchsorted(key_s, q_hi, side="right")
    counts = np.maximum(j_hi - j_lo, 0)
    # forest: parent = first upper neighbour (a lower run index), pointer
    # jumped to the chain roots
    idx = np.arange(n, dtype=np.int64)
    root = np.where(counts > 0, j_lo, idx)
    while True:
        nxt = root[root]
        if np.array_equal(nxt, root):
            break
        root = nxt
    # merge edges: a run's further upper neighbours, between roots
    extra = np.maximum(counts - 1, 0)
    total = int(extra.sum())
    if total:
        pi = np.repeat(idx, extra)
        cum = np.concatenate(([0], np.cumsum(extra)))
        pj = np.arange(total, dtype=np.int64) - np.repeat(cum[:-1], extra) + np.repeat(j_lo + 1, extra)
        ri, rj = root[pi], root[pj]
        cross = ri != rj
        root = _min_label_components(n, ri[cross], rj[cross])[root]
    # every label is its component's minimum run index: that run has no
    # upper neighbour, so it is a root and the minimum over the roots
    return rows, starts, ends, root


def _run_sums(values: np.ndarray, rows: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Sum ``values`` over each run [start, end) — one reduceat pass over the
    flattened image (cheaper in memory traffic than a full-page cumsum)."""
    h, w = values.shape
    flat = values.reshape(-1)
    # reduceat accumulates in-dtype: widen integer pages in the ufunc, not
    # with a whole-page copy (the sums are integers either way)
    dtype = np.int64 if flat.dtype.kind in "ui" else None
    lo = rows * w + starts
    hi = rows * w + ends
    idx = np.empty(lo.shape[0] * 2, dtype=np.int64)
    idx[0::2] = lo
    idx[1::2] = hi
    trailing_end = idx[-1] == flat.shape[0]
    if trailing_end:
        idx = idx[:-1]
    sums = np.add.reduceat(flat, idx, dtype=dtype)
    return sums[0::2].astype(np.float64)


def component_boxes(prob: np.ndarray, bin_thresh: float) -> tuple[np.ndarray, np.ndarray]:
    """Binarize a probability map and return per-component (boxes, scores).

    boxes: (N, 4) int64 abs pixel coords (xmin, ymin, xmax, ymax), max
    exclusive; scores: (N,) mean probability over the component's ink pixels
    (the reference scores the contour region the same way,
    `detection/core.py:36-58`). ``prob`` may be any numeric dtype scaled so
    that dividing by ``prob_scale`` yields probabilities — detection passes
    the uint8 page directly with scale 255 to avoid a float page copy.
    """
    mask = prob >= bin_thresh
    rows, starts, ends, labels = label_runs(mask)
    if rows.shape[0] == 0:
        return np.empty((0, 4), dtype=np.int64), np.empty(0, dtype=np.float64)

    run_sum = _run_sums(prob, rows, starts, ends)
    run_px = (ends - starts).astype(np.int64)

    roots, inv = np.unique(labels, return_inverse=True)
    k = roots.shape[0]
    xmin = np.full(k, np.iinfo(np.int64).max)
    xmax = np.zeros(k, dtype=np.int64)
    ymin = np.full(k, np.iinfo(np.int64).max)
    ymax = np.zeros(k, dtype=np.int64)
    np.minimum.at(xmin, inv, starts)
    np.maximum.at(xmax, inv, ends)
    np.minimum.at(ymin, inv, rows)
    np.maximum.at(ymax, inv, rows + 1)
    psum = np.zeros(k, dtype=np.float64)
    pcnt = np.zeros(k, dtype=np.int64)
    np.add.at(psum, inv, run_sum)
    np.add.at(pcnt, inv, run_px)

    boxes = np.stack([xmin, ymin, xmax, ymax], axis=1)
    scores = psum / pcnt
    # deterministic output order: top-to-bottom, left-to-right
    order = np.lexsort((boxes[:, 0], boxes[:, 1]))
    return boxes[order], scores[order]
