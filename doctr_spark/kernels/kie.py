"""KIE (key-information extraction) builder variant.

Reference semantics (`/root/reference/doctr/models/builder.py:814-970`,
KIEDocumentBuilder): detection runs multi-class; per class the words become
a flat, reading-order-sorted list of `Prediction`s — no line/block nesting
— exported as `KIEPage.predictions: dict[class, list]`
(`doctr/io/elements.py:515-597`).

The reference gets classes from a multi-class segmentation head; this
engine's deterministic stand-in classifies recognized tokens by content
shape (number / alpha / mixed), which exercises the same span-grouping,
per-class pivot (`invert_data_structure`, `doctr/models/_utils.py:261-278`)
and map-typed export path.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from .builder import sort_boxes


def classify_token(value: str) -> str:
    if value.isdigit():
        return "number"
    if value.isalpha():
        return "alpha"
    return "mixed"


def kie_build_page(
    boxes: np.ndarray,
    scores: np.ndarray,
    values: list[str],
    confidences: list[float],
    dimensions: tuple[int, int],
    page_idx: int = 0,
) -> dict[str, Any]:
    """Per-class reading-order-sorted prediction lists (flat, no nesting)."""
    predictions: dict[str, list[dict[str, Any]]] = {}
    if boxes.shape[0]:
        order, boxes = sort_boxes(boxes)
        for i in order:
            i = int(i)
            cls = classify_token(values[i])
            predictions.setdefault(cls, []).append(
                {
                    "value": values[i],
                    "confidence": float(confidences[i]),
                    "geometry": [float(v) for v in boxes[i]],
                    "objectness_score": float(scores[i]),
                }
            )
    return {
        "page_idx": int(page_idx),
        "dimensions": [int(dimensions[0]), int(dimensions[1])],
        "predictions": predictions,
    }


def render_kie_page(page: dict[str, Any]) -> str:
    """Per-class linearization: "class: v1 v2 ..." lines, classes sorted
    (the exporters' KIE rendering unions per-class predictions,
    `doctr/io/exporters.py:374-394`)."""
    parts = []
    for cls in sorted(page["predictions"]):
        preds = page["predictions"][cls]
        parts.append(f"{cls}: " + " ".join(p["value"] for p in preds))
    return "\n".join(parts)
