"""Multimodal surface: page-level operators and the media codec dispatch.

The page operators (media metadata + features, artefacts, layout
regions) are page functions on the extraction kernel's own source and
decode loop (`pipeline.map_pages`): each payload is decoded once, inside
the task that consumes its pages, and no page crosses a stage boundary.
`decode_media` maps an opaque media blob to an array. The page-image codec
is real (it is the engine's own payload packing format), as are PNG
(`kernels.png`, pure-stdlib), baseline + progressive JPEG (`kernels.jpeg`,
from-scratch T.81 incl. Annex G), JPEG 2000 (`kernels.jpx`, from-scratch
T.800 — JP2 or raw codestream), and WAV PCM audio (`kernels.wav`,
from-scratch RIFF walk + frame RMS/ZCR features). Remaining media kinds
(compressed audio, video) stay STUBBED behind `NotImplementedError` — the
container has no AV libraries — so the codec swap-in is a one-function
change.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..kernels.features import media_meta_row
from ..kernels.imgcodec import decode_page
from .pipeline import map_pages

# `feature_json` instead of array<double>: a canonical rounded-JSON string
# keeps the column hashable/sortable by any engine (correctness harness,
# DuckDB oracle) while staying a lossless 6dp rendering of the band means.
MEDIA_META_SCHEMA = (
    "conv_id string, turn_idx int, page_idx int, media_kind string, "
    "height int, width int, n_bytes long, ink_ratio double, feature_json string"
)


def decode_media(blob: bytes, kind: str) -> np.ndarray:
    """Decode an opaque media blob to a dense array.

    The engine's own page raster and real PNG streams (pure-stdlib codec,
    `kernels.png`) are implemented; other codecs plug in here
    (cv2.imdecode / soundfile / pyav) when available.
    """
    if kind == "page":
        return decode_page(blob)  # sniffs and handles PNG-packed pages too
    if kind in ("png", "image/png"):
        from ..kernels.png import decode_png

        return decode_png(blob)
    if kind in ("jpeg", "jpg", "image/jpeg"):
        from ..kernels.jpeg import decode_jpeg

        return decode_jpeg(blob)
    if kind in ("jp2", "j2k", "jpeg2000", "image/jp2"):
        from ..kernels.jpx import decode_jpx

        return decode_jpx(blob)
    if kind in ("wav", "audio/wav", "audio/x-wav"):
        from ..kernels.wav import decode_wav

        samples, _rate = decode_wav(blob)
        return samples
    raise NotImplementedError(
        f"media kind {kind!r}: no codec in this container (stub per SURVEY.md §2.1)"
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
