"""Document reconstruction: word boxes + texts -> Line/Block nesting + render.

Reimplements the reference DocumentBuilder semantics
(`/root/reference/doctr/models/builder.py`):

* `sort_boxes`       <- `DocumentBuilder._sort_boxes` (builder.py:68-108):
  reading-order key ``x0 + 2*y1/median_height`` (straight-box path; rotated
  polygons are fitted to straight boxes by min/max like
  ``export_as_straight_boxes``).
* `resolve_sub_lines` <- `_resolve_sub_lines` (builder.py:110-149): sort a
  visual row by x0 and split where the inter-word gap reaches break_dist.
* `resolve_lines`    <- `_resolve_lines` (builder.py:151-218): group sorted
  words into visual rows with a running-mean y-center within
  median_height/2, derive an adaptive break distance from the positive gap
  distribution, then split rows into sub-lines.
* `resolve_blocks`   <- `_resolve_blocks` (builder.py:220-285): cluster line
  boxes on 6 geometric features with single-linkage distance threshold 0.1.
  scipy's ``fclusterdata(..., criterion="distance", method="single")`` at
  threshold t is exactly connected components of the <=t pairwise-distance
  graph, which is what we compute (no scipy in this container).
* `build_page` / render string folds <- `doctr/io/elements.py:314-512`
  (line geometry = enclosing bbox of words, objectness = mean of word
  scores; words joined by " ", lines by "\\n", blocks by "\\n\\n").
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..config import BLOCK_CLUSTER_T, PARAGRAPH_BREAK

PAGE_BREAK = "\n\n\n\n"  # doctr/io/exporters.py:1187-1197 (pages join)
BLOCK_BREAK = "\n\n"  # doctr/io/elements.py render (blocks join)


def straighten(boxes: np.ndarray, shape: tuple[int, int] | None = None) -> np.ndarray:
    """(N, 4) passthrough; (N, 4, 2) polygons -> straight boxes fitted to
    the de-skewed page.

    Rotated-page semantics per `_sort_boxes` (builder.py:68-107): estimate
    the page angle from the polygon top edges, counter-rotate every polygon
    around the page center, and keep axis-aligned outliers (boxes whose own
    angle is less than half the page angle carry no rotation to remove —
    they are translated to their de-skewed center instead of rotated).
    """
    if boxes.ndim != 3:
        return boxes
    from .geometry import estimate_page_angle, rotate_boxes

    height, width = shape if shape is not None else (1024, 1024)
    scale = np.array([width, height], dtype=float)
    angle = estimate_page_angle(boxes * scale)
    rotated = rotate_boxes(boxes, -angle, (height, width), min_angle=1.0)
    if rotated.ndim == 2:  # below min_angle: rotate_boxes passed through
        rotated = boxes
    if abs(angle) >= 1.0:
        edges = (boxes[:, 1] - boxes[:, 0]) * scale
        own_angle = np.rad2deg(np.arctan2(-edges[:, 1], edges[:, 0]))
        keep = np.abs(own_angle) < abs(angle) / 2
        if keep.any():
            centers = boxes.mean(axis=1, keepdims=True)
            new_centers = rotated.mean(axis=1, keepdims=True)
            rotated = rotated.copy()
            rotated[keep] = boxes[keep] - centers[keep] + new_centers[keep]
    return np.concatenate((rotated.min(1), rotated.max(1)), axis=-1)


def sort_boxes(boxes: np.ndarray, shape: tuple[int, int] | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Return (reading-order indices, straight boxes)."""
    boxes = straighten(boxes, shape)
    med_h = float(np.median(boxes[:, 3] - boxes[:, 1])) if boxes.shape[0] else 1.0
    if not np.isfinite(med_h) or med_h <= 0:
        med_h = 1.0
    key = boxes[:, 0] + 2.0 * boxes[:, 3] / med_h
    return np.argsort(key, kind="stable"), boxes


def resolve_sub_lines(boxes: np.ndarray, row: list[int], break_dist: float) -> list[list[int]]:
    """Split one visual row into sub-lines at horizontal gaps >= break_dist."""
    order = np.argsort(boxes[row, 0], kind="stable")
    row = [row[i] for i in order]
    if len(row) < 2:
        return [row]
    out: list[list[int]] = []
    cur = [row[0]]
    for idx in row[1:]:
        gap = boxes[idx, 0] - boxes[cur[-1], 2]
        if gap >= break_dist:
            out.append(cur)
            cur = []
        cur.append(idx)
    out.append(cur)
    return out


def _adaptive_break_dist(
    boxes: np.ndarray,
    rows: list[list[int]],
    y_med: float,
    shape: tuple[int, int] | None,
    paragraph_break: float,
) -> float:
    """Derive the sub-line break distance from the page's gap statistics,
    mirroring the reference's adaptive rule (builder.py:192-213)."""
    gaps = []
    n_pairs = 0
    for row in rows:
        if len(row) < 2:
            continue
        idcs = np.asarray(row)
        idcs = idcs[np.argsort(boxes[idcs, 0], kind="stable")]
        n_pairs += idcs.shape[0] - 1
        gaps.append(boxes[idcs[1:], 0] - boxes[idcs[:-1], 2])
    all_gaps = np.concatenate(gaps) if gaps else np.empty(0)
    pos = all_gaps[all_gaps > 0]
    aspect = (shape[0] / shape[1]) if shape is not None else 1.0
    floor = float(y_med) * aspect
    if pos.shape[0] >= 5 and pos.shape[0] >= 0.5 * n_pairs:
        return min(paragraph_break, max(3.0 * float(np.median(pos)), floor))
    if n_pairs >= 5:
        return min(paragraph_break, floor)
    return paragraph_break


def resolve_lines(
    boxes: np.ndarray,
    shape: tuple[int, int] | None = None,
    paragraph_break: float = PARAGRAPH_BREAK,
) -> list[list[int]]:
    """Group word boxes into lines; returns lists of word indices."""
    if boxes.shape[0] == 0:
        return []
    idxs, boxes = sort_boxes(boxes, shape)
    y_med = float(np.median(boxes[:, 3] - boxes[:, 1]))

    # visual rows: running-mean y-center clustering over the sorted sequence
    rows: list[list[int]] = []
    cur: list[int] = [int(idxs[0])]
    centers = (boxes[:, 1] + boxes[:, 3]) / 2.0
    run_sum = float(centers[idxs[0]])
    for idx in idxs[1:]:
        idx = int(idx)
        if abs(centers[idx] - run_sum / len(cur)) >= y_med / 2.0:
            rows.append(cur)
            cur, run_sum = [], 0.0
        cur.append(idx)
        run_sum += float(centers[idx])
    if cur:
        rows.append(cur)

    break_dist = _adaptive_break_dist(boxes, rows, y_med, shape, paragraph_break)
    lines: list[list[int]] = []
    for row in rows:
        lines.extend(resolve_sub_lines(boxes, row, break_dist))
    return lines


def enclosing_bbox(boxes: np.ndarray) -> np.ndarray:
    """Min/max fold over (N, 4) boxes (`doctr/utils/geometry.py:128-147`)."""
    return np.concatenate([boxes[:, :2].min(axis=0), boxes[:, 2:].max(axis=0)])


def resolve_blocks(boxes: np.ndarray, lines: list[list[int]], t: float = BLOCK_CLUSTER_T) -> list[list[list[int]]]:
    """Cluster lines into blocks; returns blocks -> lines -> word indices."""
    if len(lines) <= 1:
        return [lines] if lines else []
    line_boxes = np.stack([enclosing_bbox(boxes[np.asarray(line)]) for line in lines])
    x0, y0, x1, y1 = line_boxes.T
    feats = np.stack(
        ((x0 + y1) / 2, (y0 + x1) / 2, (x0 + x1) / 2, (y0 + y1) / 2, x0, y0),
        axis=-1,
    )
    # single-linkage flat clusters at threshold t == connected components of
    # the pairwise-distance graph thresholded at t
    d2 = ((feats[:, None, :] - feats[None, :, :]) ** 2).sum(-1)
    adj = d2 <= t * t
    n = len(lines)
    labels = np.full(n, -1, dtype=np.int64)
    n_blocks = 0
    for i in range(n):
        if labels[i] >= 0:
            continue
        stack = [i]
        labels[i] = n_blocks
        while stack:
            j = stack.pop()
            for k in np.nonzero(adj[j] & (labels < 0))[0]:
                labels[k] = n_blocks
                stack.append(int(k))
        n_blocks += 1
    # blocks ordered by first line occurrence (reference dict-insertion order)
    blocks: list[list[list[int]]] = [[] for _ in range(n_blocks)]
    for line_idx, b in enumerate(labels):
        blocks[b].append(lines[line_idx])
    return blocks


def build_page(
    boxes: np.ndarray,
    scores: np.ndarray,
    values: list[str],
    confidences: list[float],
    dimensions: tuple[int, int],
    page_idx: int = 0,
    do_resolve_lines: bool = True,
    do_resolve_blocks: bool = False,
    paragraph_break: float = PARAGRAPH_BREAK,
    crop_orientations: list[tuple[int, float]] | None = None,
    tables: list[dict[str, Any]] | None = None,
    keep_reading_order: bool = False,
    detect_language: bool = False,
    text_direction: str | None = None,
    layout_regions: dict[str, Any] | None = None,
    include_furniture: bool = True,
) -> dict[str, Any]:
    """Assemble one page dict (the Spark-row analogue of `Page.export()`,
    `doctr/io/elements.py:424-512`) plus its rendered text.

    boxes: (N, 4) relative straight boxes (words already consumed by a
    table must be filtered out by the caller, builder.py:780-787); scores:
    (N,) objectness; values/confidences: recognition output aligned with
    boxes; tables: pre-built table export dicts (kernels/tables.py) —
    rendered as TSV after the blocks, the way the text exporter linearizes
    tables (`doctr/io/exporters.py:416-433`).
    """
    n = boxes.shape[0]
    if n:
        if do_resolve_lines:
            lines = resolve_lines(boxes, dimensions, paragraph_break)
        else:
            order, boxes_s = sort_boxes(boxes)
            boxes = boxes_s
            lines = [[int(i) for i in order]]
        if keep_reading_order and len(lines) > 1:
            # order lines with the column-aware topological sort and group
            # consecutive ones into paragraph segments
            # (`DocumentBuilder._apply_reading_order`, builder.py:660-691 +
            # `resolve_reading_segments`, reading_order/base.py:460-531);
            # direction inferred from the recognized text. Segments become
            # the page's blocks, the way the reference exporters emit one
            # paragraph per segment (io/exporters.py:114-216). When the
            # layout predictor's regions are supplied (the page processor's
            # carry_layout output), each line takes the label of the
            # region covering >= 50% of it and the sort becomes role-aware:
            # headers first, footnotes + footers last, captions spliced next
            # to their float (reading_order/base.py:283-315, 382-460).
            from .reading_order import detect_text_direction, group_reading_items

            line_boxes = np.stack([enclosing_bbox(boxes[np.asarray(line)]) for line in lines])
            direction = detect_text_direction([values[i] for line in lines for i in line])
            labels = None
            region_boxes = None
            if layout_regions is not None and layout_regions.get("class_names"):
                from .layout import assign_layout_labels

                region_boxes = np.asarray(layout_regions["boxes"], dtype=float).reshape(-1, 4)
                labels = assign_layout_labels(
                    line_boxes, region_boxes, list(layout_regions["class_names"])
                )
            # group_reading_items = reading segments + list-item grouping
            # (consecutive list lines covered by the SAME list region — a
            # wrapped bullet — stay one item; a new region starts a new
            # item). With labels=None it reduces to plain segmentation.
            segments = group_reading_items(
                line_boxes,
                direction=direction,
                labels=labels,
                region_geoms=region_boxes if labels is not None else None,
            )
            blocks_idx = [[lines[i] for i in seg] for seg in segments]
            block_labels = [
                (labels[seg[0]] if labels is not None else None) for seg in segments
            ]
        else:
            blocks_idx = resolve_blocks(boxes, lines) if do_resolve_blocks else ([lines] if lines else [])
            block_labels = [None] * len(blocks_idx)
        if text_direction is not None:
            # per-direction word order within each line (reference
            # ordered_line_words, io/exporters.py:219-250): "auto" detects
            # each line's base direction from its own text; explicit
            # ltr/rtl/ttb-* applies uniformly
            from .reading_order import ordered_line_words

            auto = text_direction == "auto"
            blocks_idx = [
                [
                    [
                        line[j]
                        for j in ordered_line_words(
                            boxes[np.asarray(line)],
                            [values[i] for i in line],
                            direction="ltr" if auto else text_direction,
                            auto=auto,
                        )
                    ]
                    for line in block
                ]
                for block in blocks_idx
            ]
    else:
        blocks_idx = []
        block_labels = []

    blocks = []
    block_texts = []
    for block, block_label in zip(blocks_idx, block_labels):
        lines_out = []
        line_texts = []
        for line in block:
            words = [
                {
                    "value": values[i],
                    "confidence": float(confidences[i]),
                    "geometry": [float(v) for v in boxes[i]],
                    "objectness_score": float(scores[i]),
                    "crop_orientation": (
                        {"value": int(crop_orientations[i][0]), "confidence": float(crop_orientations[i][1])}
                        if crop_orientations is not None
                        else {"value": 0, "confidence": 1.0}
                    ),
                }
                for i in line
            ]
            geom = enclosing_bbox(boxes[np.asarray(line)])
            lines_out.append(
                {
                    "geometry": [float(v) for v in geom],
                    "objectness_score": float(np.mean([scores[i] for i in line])),
                    "words": words,
                }
            )
            line_texts.append(" ".join(values[i] for i in line))
        flat = [i for line in block for i in line]
        geom = enclosing_bbox(boxes[np.asarray(flat)])
        blocks.append(
            {
                "geometry": [float(v) for v in geom],
                "objectness_score": float(np.mean([scores[i] for i in flat])),
                "lines": lines_out,
                "layout_label": block_label,
            }
        )
        block_texts.append("\n".join(line_texts))

    from .tables import render_table

    if not include_furniture:
        # drop page header / footer / footnote blocks from the RENDER only
        # — the JSON export keeps every block, exactly like the reference
        # (`doctr/io/exporters.py:346-347`; roles reading_order/base.py)
        from .reading_order import _ROLE_BY_LABEL

        block_texts = [
            t
            for t, lbl in zip(block_texts, block_labels)
            if _ROLE_BY_LABEL.get((lbl or "").lower(), "body")
            not in ("header", "footer", "footnote")
        ]

    text_parts = [t for t in [BLOCK_BREAK.join(block_texts)] if t]
    text_parts += [render_table(t) for t in (tables or [])]
    text = BLOCK_BREAK.join(text_parts)
    if detect_language:
        from .language import get_language

        lang, lang_conf = get_language(text)
        language = {"value": lang, "confidence": round(lang_conf, 6)}
    else:
        language = {"value": "", "confidence": 0.0}
    return {
        "page_idx": int(page_idx),
        "dimensions": [int(dimensions[0]), int(dimensions[1])],
        "orientation": {"value": 0, "confidence": 1.0},
        "language": language,
        "blocks": blocks,
        "tables": tables or [],
        "text": text,
    }


def render_document(page_texts: list[str]) -> str:
    """Join page renders (`doctr/io/exporters.py:1187-1197`)."""
    return PAGE_BREAK.join(page_texts)
