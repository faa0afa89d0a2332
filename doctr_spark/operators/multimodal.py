"""Multimodal surface: page-level operators over decoded payload pages.

The page operators (media metadata + features, artefacts, layout
regions) are page functions on the extraction kernel's own source and
decode loop (`pipeline.map_pages`): each payload is decoded once, inside
the task that consumes its pages, and no page crosses a stage boundary.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..kernels.features import media_meta_row
from .pipeline import map_pages

# `feature_json` instead of array<double>: a canonical rounded-JSON string
# keeps the column hashable/sortable by any engine (correctness harness,
# DuckDB oracle) while staying a lossless 6dp rendering of the band means.
MEDIA_META_SCHEMA = (
    "conv_id string, turn_idx int, page_idx int, media_kind string, "
    "height int, width int, n_bytes long, ink_ratio double, feature_json string"
)


def _media_rows(img: np.ndarray) -> list[tuple]:
    return [("page", *media_meta_row(img))]


def media_metadata(transcripts: DataFrame) -> DataFrame:
    """Payload turns -> typed metadata + features, one row per page."""
    return map_pages(transcripts, lambda: _media_rows, MEDIA_META_SCHEMA)


ARTEFACT_SCHEMA = (
    "conv_id string, turn_idx int, page_idx int, label string, "
    "xmin int, ymin int, xmax int, ymax int"
)


def artefact_rows(transcripts: DataFrame) -> DataFrame:
    """Side artefact predictor over decoded pages (the `ArtefactDetector`
    contrib surface, `doctr/contrib/artefacts.py:17-129`, at its 0.5
    confidence threshold): one row per detected bar code / QR code / logo /
    photo with absolute pixel box."""

    def make_page_fn():
        from ..kernels.artefacts import detect_artefacts

        return lambda img: [(r["label"], *r["box"]) for r in detect_artefacts(img, 0.5)]

    return map_pages(transcripts, make_page_fn, ARTEFACT_SCHEMA)


def layout_region_rows(transcripts: DataFrame) -> DataFrame:
    """Layout predictor surface over decoded pages (LW-DETR stand-in,
    `kernels.layout.detect_layout_regions`): one row per detected region
    with its DocLayNet-style class and absolute pixel box."""

    def make_page_fn():
        from ..kernels.layout import detect_layout_regions

        def page_rows(img):
            h, w = img.shape
            regions = detect_layout_regions(img)
            return [
                (name, int(round(box[0] * w)), int(round(box[1] * h)),
                 int(round(box[2] * w)), int(round(box[3] * h)))
                for box, name in zip(regions["boxes"], regions["class_names"])
            ]  # fmt: skip

        return page_rows

    return map_pages(transcripts, make_page_fn, ARTEFACT_SCHEMA)
