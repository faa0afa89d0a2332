"""Detection: the per-page detection kernel and a box-only detect stage.

`make_page_processor` is the reference's detection forward/postprocess
(`doctr/models/detection/...`) with its page-level companions (straighten,
layout regions, ignore-region masking, table structure) as one per-page
function; the extraction kernel (`operators.pipeline`) crops and recognizes
its boxes. `detect_boxes` runs the same processor on the kernel's source
and decode loop (`pipeline.map_pages`) for the queries that read
detections only (localization and table-cell metrics).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..kernels.detection import detect_words

BOXES_SCHEMA = (
    "conv_id string, turn_idx int, page_idx int, page_h int, page_w int, "
    "word_idx int, xmin double, ymin double, xmax double, ymax double, aux string"
)


def make_page_processor(
    mask_region_labels: tuple[str, ...] | None,
    straighten_pages: bool = False,
    det_arch: str = "db_like",
    carry_layout: bool = False,
    det_input_size: tuple[int, int] | None = None,
    det_preserve_aspect_ratio: bool = True,
    det_symmetric_pad: bool = True,
):
    """Per-page detection kernel shared by the extraction kernel
    (`operators.pipeline`) and :func:`detect_boxes`: straighten -> layout
    regions -> masking -> detect -> table structure. ``carry_layout`` runs
    the layout predictor even without masking, for the layout-aware
    reading-order builder (`reading_order/base.py:534-578`). Returns
    ``process_page(img) -> (img, orient, orient_conf, regions, tables,
    abs_boxes, rel_boxes, scores)`` where ``img`` is the (possibly
    straightened/masked) page the crops must be sliced from."""
    import numpy as np

    from ..kernels.detection import DET_PRESETS, mask_regions, snap_boxes
    from ..kernels.preprocessor import letterbox, unletterbox_boxes
    from ..kernels.rgeometry import (
        estimate_skew_angle,
        is_resampled,
        unrotate_image_resampled,
        unrotate_image_shear,
    )

    bin_thresh, box_thresh = DET_PRESETS[det_arch]
    from ..kernels.layout import detect_layout_regions
    from ..kernels.orientation import estimate_page_orientation, straighten_page
    from ..kernels.tables import detect_table_structure

    def _detect(img: np.ndarray):
        """Detection with the optional PreProcessor letterbox: resize the
        page to the model input size (aspect preserved, symmetric pad),
        detect there, and map the relative boxes exactly back to the page
        (`preprocessor.unletterbox_boxes`) — crops are always taken from
        the ORIGINAL page pixels."""
        if det_input_size is None:
            return detect_words(img, bin_thresh=bin_thresh, box_thresh=box_thresh)
        lb, lb_meta = letterbox(
            img, det_input_size, det_preserve_aspect_ratio, det_symmetric_pad
        )
        _, rel_lb, scores = detect_words(lb, bin_thresh=bin_thresh, box_thresh=box_thresh)
        rel = unletterbox_boxes(rel_lb, lb_meta, det_input_size)
        abs_boxes, rel = snap_boxes(rel, img.shape[:2])
        return abs_boxes, rel, scores

    def process_page(img: np.ndarray):
        orient, orient_conf = 0, 1.0
        pre_detect = None
        if straighten_pages:
            # fractional skew first (projection profile is readable
            # at any right-angle orientation), then the 0/90/180/270
            # classifier on the deskewed page — mirrors the
            # reference straighten loop (predictor/pytorch.py:110-142)
            # with estimate_orientation (models/_utils.py:42-160).
            skew = estimate_skew_angle(img)
            if skew:
                # crisp synthetic ink inverts losslessly by shears;
                # scanner-resampled ink takes the interpolating
                # inverse (matching how it was rotated)
                unrot = (
                    unrotate_image_resampled if is_resampled(img) else unrotate_image_shear
                )
                img = unrot(img, skew)
            # the stage detects this page anyway: when the preset
            # matches the orientation scorer's default thresholds
            # (and no masking will alter the page), detect once and
            # share the pass with the k=0 candidate
            if (bin_thresh, box_thresh) == DET_PRESETS["db_like"] and not mask_region_labels:
                pre_detect = _detect(img)
                orient, orient_conf = estimate_page_orientation(
                    img, upright_boxes=pre_detect[0]
                )
            else:
                orient, orient_conf = estimate_page_orientation(img)
            if orient:
                img = straighten_page(img, orient)
                pre_detect = None
        regions = None
        if mask_region_labels or carry_layout:
            # one layout forward serves both consumers: region
            # masking (ignore_regions) and the reading-order builder
            regions = detect_layout_regions(img)
        if mask_region_labels:
            drop = np.asarray(
                [b for b, n in zip(regions["boxes"], regions["class_names"])
                 if n in mask_region_labels]
            ).reshape(-1, 4)  # fmt: skip
            img = mask_regions(img, drop)
        abs_boxes, rel_boxes, scores = (
            pre_detect if pre_detect is not None else _detect(img)
        )
        tables = detect_table_structure(img)
        return img, orient, orient_conf, regions, tables, abs_boxes, rel_boxes, scores

    return process_page


def detect_boxes(
    transcripts: DataFrame, mask_region_labels: tuple[str, ...] | None = None
) -> DataFrame:
    """Payload turns -> detection rows: one per word box (``word_idx >=
    0``, page-relative ``xmin..ymax``) and, on pages with ruled tables, one
    ``word_idx = -2`` row carrying the table-structure prediction as JSON
    in ``aux``. ``mask_region_labels`` blanks those layout regions before
    detection."""
    from .pipeline import map_pages

    def make_page_fn():
        process_page = make_page_processor(mask_region_labels)

        def page_rows(img):
            img, _, _, _, tables, _, rel_boxes, _ = process_page(img)
            dims = (int(img.shape[0]), int(img.shape[1]))
            rows = [(*dims, -2, 0.0, 0.0, 0.0, 0.0, json.dumps(tables))] if tables else []
            rows.extend((*dims, i, *(float(v) for v in rel), None) for i, rel in enumerate(rel_boxes))
            return rows

        return page_rows

    return map_pages(transcripts, make_page_fn, BOXES_SCHEMA)
