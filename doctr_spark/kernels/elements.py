"""Element-tree re-import: the reference ``*.from_dict`` family re-expressed
over the engine's exported page dicts.

The reference rebuilds its nested ``Document -> Page -> Block -> Line ->
Word`` object tree from a previously exported dict, validating each level's
``_exported_keys`` (`doctr/io/elements.py:115-118` for the generic element,
`:503-512` for ``Page.from_dict`` which also re-imports blocks, layout
regions and tables). Here the "objects" ARE dicts — the builder's page dict
is what every exporter consumes — so re-import means: validate the exported
keys level by level, coerce the value types back to the builder's canonical
shapes (floats for geometry, ints for indices), and drop anything that is
not part of the export contract. A page that re-imports cleanly re-renders
to exactly the text the original pipeline produced, which is what the
``export_roundtrip`` oracle asserts corpus-wide.

100 TB design note: re-import is a pure per-row transformation (one turn's
``pages_json`` in, one rebuilt document out) — it runs as an Arrow-batched
``mapInPandas`` with no shuffle, so a second-pass re-export/re-metric job
over an exported corpus scales linearly with input splits.
"""

from __future__ import annotations

import json
from typing import Any

from .builder import BLOCK_BREAK, render_document
from .tables import render_table

# the reference's _exported_keys per element level (doctr/io/elements.py)
WORD_KEYS = ("value", "confidence", "geometry", "objectness_score", "crop_orientation")
LINE_KEYS = ("geometry", "objectness_score", "words")
BLOCK_KEYS = ("geometry", "objectness_score", "lines")
PAGE_KEYS = ("page_idx", "dimensions", "orientation", "language", "blocks")


def _require(d: dict[str, Any], keys: tuple[str, ...], level: str) -> None:
    missing = [k for k in keys if k not in d]
    if missing:
        raise KeyError(f"{level}.from_dict: missing exported keys {missing}")


def word_from_dict(d: dict[str, Any]) -> dict[str, Any]:
    _require(d, WORD_KEYS, "Word")
    return {
        "value": str(d["value"]),
        "confidence": float(d["confidence"]),
        "geometry": [float(v) for v in d["geometry"]],
        "objectness_score": float(d["objectness_score"]),
        "crop_orientation": {
            "value": int(d["crop_orientation"]["value"]),
            "confidence": float(d["crop_orientation"]["confidence"]),
        },
    }


def line_from_dict(d: dict[str, Any]) -> dict[str, Any]:
    _require(d, LINE_KEYS, "Line")
    return {
        "geometry": [float(v) for v in d["geometry"]],
        "objectness_score": float(d["objectness_score"]),
        "words": [word_from_dict(w) for w in d["words"]],
    }


def block_from_dict(d: dict[str, Any]) -> dict[str, Any]:
    _require(d, BLOCK_KEYS, "Block")
    out = {
        "geometry": [float(v) for v in d["geometry"]],
        "objectness_score": float(d["objectness_score"]),
        "lines": [line_from_dict(ln) for ln in d["lines"]],
    }
    # layout label is part of the export when the layout-aware builder ran;
    # keep it so include_furniture re-renders stay faithful
    if "layout_label" in d:
        out["layout_label"] = d["layout_label"]
    return out


def table_from_dict(d: dict[str, Any]) -> dict[str, Any]:
    _require(d, ("cells", "num_rows", "num_cols"), "Table")
    return {
        "num_rows": int(d["num_rows"]),
        "num_cols": int(d["num_cols"]),
        "cells": [dict(c) for c in d["cells"]],
    }


def page_from_dict(d: dict[str, Any]) -> dict[str, Any]:
    """Rebuild one page dict from its export (`Page.from_dict`,
    `doctr/io/elements.py:503-512`); ``tables`` and ``orientation`` are
    optional exactly like the reference's ``save_dict.get`` branches."""
    _require(d, PAGE_KEYS, "Page")
    return {
        "page_idx": int(d["page_idx"]),
        "dimensions": [int(v) for v in d["dimensions"]],
        "orientation": {
            "value": int(d["orientation"]["value"]),
            "confidence": float(d["orientation"]["confidence"]),
        },
        "language": {
            "value": str(d["language"]["value"]),
            "confidence": float(d["language"]["confidence"]),
        },
        "blocks": [block_from_dict(b) for b in d["blocks"]],
        "tables": [table_from_dict(t) for t in d.get("tables", [])],
    }


def render_page_dict(page: dict[str, Any], include_furniture: bool = True) -> str:
    """Re-render a (re-imported) page dict to its text — the same block
    fold + trailing table TSVs the builder produced (`build_page`), so a
    lossless round trip reproduces the original ``extracted_text``."""
    from .exporters import _content_blocks

    block_texts = [
        "\n".join(" ".join(w["value"] for w in line["words"]) for line in block["lines"])
        for block in _content_blocks(page, include_furniture)
    ]
    parts = [t for t in [BLOCK_BREAK.join(block_texts)] if t]
    parts += [render_table(t) for t in page.get("tables", [])]
    return BLOCK_BREAK.join(parts)


def document_from_json_pages(pages_json: list[str]) -> dict[str, Any]:
    """``Document.from_dict`` analogue over the engine's per-turn export
    (`doctr/io/elements.py:115-118`): parse + rebuild every page, ordered by
    ``page_idx``, and re-render the document fold."""
    pages = sorted(
        (page_from_dict(json.loads(pj)) for pj in pages_json),
        key=lambda p: p["page_idx"],
    )
    return {
        "pages": pages,
        "text": render_document([render_page_dict(p) for p in pages]),
    }
