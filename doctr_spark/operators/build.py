"""Document reconstruction: one page's recognized words -> built page.

The `DocumentBuilder` step (`doctr/models/builder.py`) for one page, run
inside the extraction kernel (`operators.pipeline`); document assembly —
pages in order, joined with the reference's "\\n\\n\\n\\n" page separator —
is the kernel's document sink.
"""

from __future__ import annotations

import json

from ..kernels.builder import build_page


def build_page_record(
    boxes,
    scores,
    values,
    confs,
    orientations,
    dims,
    page_idx,
    raw_tables,
    layout_regions,
    page_orientation,
    *,
    resolve_lines: bool,
    resolve_blocks: bool,
    paragraph_break: float,
    keep_reading_order: bool = False,
    text_direction: str | None = None,
    include_furniture: bool = True,
) -> tuple[int, str, str]:
    """One page's build: parallel word arrays -> (n_words, page_text,
    page_json): empty-word filter, table consumption, then the
    DocumentBuilder kernel's sort -> lines -> blocks -> nested export +
    render. The document and page sinks of the extraction kernel
    (`operators.pipeline`) call it per page."""
    import numpy as np

    from ..kernels.tables import build_tables

    # unreadable detections (photos/artefacts/noise recognize as empty)
    # carry no text and are dropped here, the builder-entry analogue of
    # the reference's zero-size/garbage crop filtering (only non-empty
    # strings survive)
    keep_mask = np.asarray([isinstance(v, str) and v != "" for v in values], dtype=bool)
    if not keep_mask.all():
        boxes = boxes[keep_mask]
        scores = scores[keep_mask]
        values = [v for v, k in zip(values, keep_mask) if k]
        confs = [c for c, k in zip(confs, keep_mask) if k]
        if orientations is not None:
            orientations = [o for o, k in zip(orientations, keep_mask) if k]

    # table assignment consumes words out of the blocks (anti-join,
    # reference builder.py:780-787)
    tables, consumed = build_tables(boxes, values, confs, raw_tables)
    if consumed.any():
        keep = ~consumed
        boxes = boxes[keep]
        scores = scores[keep]
        values = [v for v, k in zip(values, keep) if k]
        confs = [c for c, k in zip(confs, keep) if k]
        if orientations is not None:
            orientations = [o for o, k in zip(orientations, keep) if k]

    page = build_page(
        boxes,
        scores,
        values,
        confs,
        dims,
        page_idx=page_idx,
        do_resolve_lines=resolve_lines,
        do_resolve_blocks=resolve_blocks,
        paragraph_break=paragraph_break,
        crop_orientations=orientations,
        tables=tables,
        keep_reading_order=keep_reading_order,
        text_direction=text_direction,
        layout_regions=layout_regions,
        include_furniture=include_furniture,
    )
    if page_orientation is not None:
        page["orientation"] = page_orientation
    text = page.pop("text")
    n_words = int(boxes.shape[0]) + int(consumed.sum())
    return n_words, text, json.dumps(page)
