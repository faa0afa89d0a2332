"""Detection postprocess: probability map -> word boxes + objectness scores.

Reimplements the semantics of the reference DB/FAST postprocessors
(`doctr/models/detection/differentiable_binarization/base.py:21-154`,
`doctr/models/detection/fast/base.py:22-140`): binarize the probability map,
find connected regions, score each region by its mean probability, drop
regions below `box_thresh` or smaller than 2 px a side, emit boxes in
page-relative [0, 1] coordinates with detached scores
(`doctr/utils/geometry.py:108-125, 480-502`).

The "model forward" here is the identity: the synthetic page raster *is* the
probability map (ink intensity / 255), which is exactly what a perfectly
trained segmentation head would output on these pages. No unclip expansion
is applied (ink covers the full word box, matching FAST's unclip ratio 1.0).
"""

from __future__ import annotations

import numpy as np

from ..config import BIN_THRESH, BOX_THRESH, MIN_BOX_SIZE
from .cc import component_boxes

# Architecture threshold presets, (bin_thresh, box_thresh). Reference
# defaults: DBNet binarizes at 0.3 (differentiable_binarization/base.py:36-37),
# FAST and LinkNet at 0.1 (fast/base.py:33-34, linknet/base.py:33-34) — the
# only inference-time difference between the postprocessors once the unclip
# ratio is 1.0 (see module docstring).
DET_PRESETS: dict[str, tuple[float, float]] = {
    "db_like": (BIN_THRESH, BOX_THRESH),
    "fast_like": (0.1, 0.1),
    "linknet_like": (0.1, 0.1),
}


def detect_words(
    page: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    min_size: int = MIN_BOX_SIZE,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """uint8 (H, W) page -> (abs_boxes (N,4) int64, rel_boxes (N,4) float64, scores (N,)).

    abs boxes are (xmin, ymin, xmax, ymax) with exclusive max — the exact
    pixel slice for crop extraction; rel boxes are the same normalized by
    (W, H, W, H).
    """
    # binarize/score directly on the uint8 page (prob = ink/255): avoids a
    # full-page float copy per page, which matters for memory bandwidth when
    # every core is running detection
    boxes, scores = component_boxes(page, bin_thresh * 255.0)
    scores = scores / 255.0
    if boxes.shape[0]:
        keep = (
            (scores >= box_thresh)
            & ((boxes[:, 2] - boxes[:, 0]) >= min_size)
            & ((boxes[:, 3] - boxes[:, 1]) >= min_size)
        )
        boxes, scores = boxes[keep], scores[keep]
    h, w = page.shape
    rel = boxes.astype(np.float64) / np.array([w, h, w, h], dtype=np.float64)
    return boxes, rel, scores


def snap_boxes(
    rel_boxes: np.ndarray, page_shape: tuple[int, int]
) -> tuple[np.ndarray, np.ndarray]:
    """Relative (N, 4) boxes -> (abs_boxes, rel_boxes) on the page's pixel
    grid: rounded, clipped to the page with at least one pixel per side,
    and the relative boxes re-derived from those pixels so every consumer
    sees the `detect_words` geometry contract (rel == abs / (W, H, W, H))."""
    h, w = page_shape
    scale = np.array([w, h, w, h], dtype=np.float64)
    abs_boxes = np.rint(np.asarray(rel_boxes, dtype=np.float64) * scale).astype(np.int64)
    abs_boxes[:, 0] = np.clip(abs_boxes[:, 0], 0, w - 1)
    abs_boxes[:, 1] = np.clip(abs_boxes[:, 1], 0, h - 1)
    abs_boxes[:, 2] = np.clip(abs_boxes[:, 2], abs_boxes[:, 0] + 1, w)
    abs_boxes[:, 3] = np.clip(abs_boxes[:, 3], abs_boxes[:, 1] + 1, h)
    return abs_boxes, abs_boxes.astype(np.float64) / scale


def mask_regions(page: np.ndarray, rel_boxes: np.ndarray) -> np.ndarray:
    """Blank out page regions before detection (reference `mask_boxes` /
    ignore_regions, `doctr/models/_utils.py:221-258`,
    `doctr/models/predictor/base.py:110-128`): ink inside the given
    relative boxes is erased so the detector never sees it."""
    if rel_boxes.shape[0] == 0:
        return page
    h, w = page.shape
    out = page.copy()
    for x0, y0, x1, y1 in rel_boxes:
        out[int(round(y0 * h)) : int(round(y1 * h)), int(round(x0 * w)) : int(round(x1 * w))] = 0
    return out


def extract_crops(page: np.ndarray, abs_boxes: np.ndarray) -> list[np.ndarray]:
    """Slice word crops out of the page (reference
    `doctr/utils/geometry.py:505-531` extract_crops, straight-box path).

    Zero-area boxes are the caller's responsibility to filter (the reference
    filters them in `predictor/base.py:179-196`); detection's min-size filter
    already guarantees non-empty crops here.
    """
    return [page[y0:y1, x0:x1] for x0, y0, x1, y1 in abs_boxes]
