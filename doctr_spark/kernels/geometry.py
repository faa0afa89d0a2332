"""Geometry kernels (reference `/root/reference/doctr/utils/geometry.py`).

Pure numpy reimplementations of the coordinate utilities the reference
pipeline uses around detection and the builder. Straight-box variants are
also expressible as native Spark column arithmetic (see
operators/relational.bbox_aggregate for the aggregation form); the polygon
paths live here for the rotated-page option.
"""

from __future__ import annotations

import numpy as np


def bbox_to_polygon(box: np.ndarray) -> np.ndarray:
    """(xmin, ymin, xmax, ymax) -> 4x2 polygon TL, TR, BR, BL
    (`geometry.py:58-73`)."""
    x0, y0, x1, y1 = box
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)


def order_points(pts: np.ndarray) -> np.ndarray:
    """Order 4 points TL, TR, BR, BL by the sum/diff heuristic
    (`geometry.py:33-55`)."""
    s = pts.sum(axis=1)
    d = np.diff(pts, axis=1).ravel()
    tl = pts[np.argmin(s)]
    br = pts[np.argmax(s)]
    tr = pts[np.argmin(d)]
    bl = pts[np.argmax(d)]
    return np.stack([tl, tr, br, bl])


def rotate_boxes(
    boxes: np.ndarray, angle_deg: float, orig_shape: tuple[int, int], min_angle: float = 1.0
) -> np.ndarray:
    """Rotate relative boxes around the page center by ``angle_deg``
    (`geometry.py:171-238` semantics: no-op below min_angle; aspect-aware
    rotation in absolute space). Input (N, 4) straight or (N, 4, 2)
    polygons; output (N, 4, 2) polygons (straight boxes pass through
    unchanged below min_angle as (N, 4))."""
    if abs(angle_deg) < min_angle:
        return boxes
    h, w = orig_shape
    polys = np.stack([bbox_to_polygon(b) for b in boxes]) if boxes.ndim == 2 else boxes.astype(float)
    abs_pts = polys * np.array([w, h], dtype=float)
    center = np.array([w / 2.0, h / 2.0])
    theta = np.deg2rad(angle_deg)
    rot = np.array([[np.cos(theta), -np.sin(theta)], [np.sin(theta), np.cos(theta)]])
    # image y-axis points down: rotate in math coords by flipping y
    shifted = abs_pts - center
    shifted[..., 1] *= -1
    rotated = shifted @ rot.T
    rotated[..., 1] *= -1
    out = (rotated + center) / np.array([w, h], dtype=float)
    return np.clip(out, 0.0, 1.0)


def estimate_page_angle(polys: np.ndarray) -> float:
    """Median skew angle over polygon top edges in degrees
    (`geometry.py:463-477`): angle of the TL->TR edge, y down."""
    if polys.shape[0] == 0:
        return 0.0
    edges = polys[:, 1] - polys[:, 0]  # TR - TL
    angles = np.rad2deg(np.arctan2(-edges[:, 1], edges[:, 0]))
    return float(np.median(angles))


def box_iou(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise IoU matrix between straight-box sets (N, 4) x (M, 4)
    (`doctr/utils/metrics.py:126-151`)."""
    if a.shape[0] == 0 or b.shape[0] == 0:
        return np.zeros((a.shape[0], b.shape[0]))
    lt = np.maximum(a[:, None, :2], b[None, :, :2])
    rb = np.minimum(a[:, None, 2:], b[None, :, 2:])
    wh = np.clip(rb - lt, 0, None)
    inter = wh[..., 0] * wh[..., 1]
    area_a = (a[:, 2] - a[:, 0]) * (a[:, 3] - a[:, 1])
    area_b = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    union = area_a[:, None] + area_b[None, :] - inter
    return np.where(union > 0, inter / np.where(union > 0, union, 1.0), 0.0)


def polygon_area(poly: np.ndarray) -> float:
    """Shoelace area of a (K, 2) polygon (vertices in order)."""
    if poly.shape[0] < 3:
        return 0.0
    x, y = poly[:, 0], poly[:, 1]
    return 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


def clip_polygon(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman clip of ``subject`` against CONVEX ``clip``
    (both (K, 2), any consistent winding). Returns the (possibly empty)
    intersection polygon — the from-scratch stand-in for the shapely
    ``intersection`` the reference's rotated-box metrics lean on
    (`doctr/utils/metrics.py:154-181`)."""
    clip = np.asarray(clip, dtype=np.float64)
    area2 = float(np.dot(clip[:, 0], np.roll(clip[:, 1], -1)) - np.dot(clip[:, 1], np.roll(clip[:, 0], -1)))
    # A clip whose area is rounding noise relative to its extent (point or
    # subnormal-width sliver) cannot contain anything: its zero-length
    # edges define no half-plane and would pass the whole subject through.
    # Its true intersection area is bounded by its own ~0 area, so the
    # empty polygon is the numerically honest result.
    extent = float(np.max(np.ptp(clip, axis=0), initial=0.0))
    if extent == 0.0 or abs(area2) <= 1e-12 * extent * extent:
        return np.zeros((0, 2))
    # force counter-clockwise so "inside" is a fixed half-plane sign
    if area2 < 0:
        clip = clip[::-1]
    out = np.asarray(subject, dtype=np.float64)
    for i in range(clip.shape[0]):
        if out.shape[0] == 0:
            break
        a, b = clip[i], clip[(i + 1) % clip.shape[0]]
        edge = b - a
        side = (out[:, 0] - a[0]) * edge[1] - (out[:, 1] - a[1]) * edge[0]
        inside = side <= 1e-12
        nxt: list[np.ndarray] = []
        for j in range(out.shape[0]):
            k = (j + 1) % out.shape[0]
            if inside[j]:
                nxt.append(out[j])
            if inside[j] != inside[k]:
                t = side[j] / (side[j] - side[k])
                nxt.append(out[j] + t * (out[k] - out[j]))
        out = np.asarray(nxt).reshape(-1, 2)
    if out.shape[0]:
        # The exact intersection lies inside BOTH input bounding boxes, so
        # clamping is a no-op for healthy geometry — but when the clip is
        # orders of magnitude smaller than the subject, the half-plane side
        # values are ill-conditioned and intersection points can extrapolate
        # far outside the clip; the clamp bounds that error by construction.
        subject = np.asarray(subject, dtype=np.float64).reshape(-1, 2)
        lo = np.maximum(subject.min(axis=0), clip.min(axis=0))
        hi = np.minimum(subject.max(axis=0), clip.max(axis=0))
        out = np.clip(out, lo, hi)
    return out


def polygon_iou(polys_1: np.ndarray, polys_2: np.ndarray) -> np.ndarray:
    """Pairwise IoU matrix between rotated-box sets (N, 4, 2) x (M, 4, 2)
    (reference `polygon_iou`, `doctr/utils/metrics.py:154-181`). The
    reference prunes candidate pairs with a shapely STRtree; here the same
    pruning is a vectorized bounding-box overlap pre-check, then each
    surviving pair runs the exact convex clip + shoelace area."""
    polys_1 = np.asarray(polys_1, dtype=np.float64).reshape(-1, 4, 2)
    polys_2 = np.asarray(polys_2, dtype=np.float64).reshape(-1, 4, 2)
    n, m = polys_1.shape[0], polys_2.shape[0]
    iou = np.zeros((n, m), dtype=np.float64)
    if n == 0 or m == 0:
        return iou
    bb1 = np.concatenate((polys_1.min(axis=1), polys_1.max(axis=1)), axis=-1)
    bb2 = np.concatenate((polys_2.min(axis=1), polys_2.max(axis=1)), axis=-1)
    lt = np.maximum(bb1[:, None, :2], bb2[None, :, :2])
    rb = np.minimum(bb1[:, None, 2:], bb2[None, :, 2:])
    cand_i, cand_j = np.nonzero(((rb - lt) > 0).all(axis=-1))
    a1 = np.array([polygon_area(p) for p in polys_1])
    a2 = np.array([polygon_area(p) for p in polys_2])
    # a polygon whose area is below float resolution at its own extent is a
    # zero-area sliver: its IoU is 0 BY POLICY, decided per polygon (not per
    # clip direction) so the matrix stays symmetric — the sliver-vs-sliver
    # ratio would otherwise be ill-conditioned noise
    deg1 = 2 * a1 <= 1e-12 * np.square(bb1[:, 2:] - bb1[:, :2]).max(axis=-1)
    deg2 = 2 * a2 <= 1e-12 * np.square(bb2[:, 2:] - bb2[:, :2]).max(axis=-1)
    for i, j in zip(cand_i, cand_j):
        if deg1[i] or deg2[j]:
            continue
        # Clip in BOTH directions and keep the larger area: the exact
        # intersection is one set, each float clip can only lose it (a
        # hairline subject survives clipping by a big box, but a big
        # subject clipped by a hairline can collapse to nothing), and the
        # max makes the matrix symmetric by construction. The min-clamp
        # bounds the opposite failure (float clips of sliver pairs can
        # overshoot either input's area, sending IoU >> 1).
        inter = min(
            max(
                polygon_area(clip_polygon(polys_1[i], polys_2[j])),
                polygon_area(clip_polygon(polys_2[j], polys_1[i])),
            ),
            a1[i],
            a2[j],
        )
        union = a1[i] + a2[j] - inter
        if union > 0:
            iou[i, j] = inter / union
    return iou


def rotate_polygon(poly: np.ndarray, angle_deg: float, center: tuple[float, float]) -> np.ndarray:
    """Rotate (K, 2) points by ``angle_deg`` CCW around ``center``."""
    theta = np.deg2rad(angle_deg)
    rot = np.array([[np.cos(theta), -np.sin(theta)], [np.sin(theta), np.cos(theta)]])
    c = np.asarray(center, dtype=np.float64)
    return (np.asarray(poly, dtype=np.float64) - c) @ rot.T + c
