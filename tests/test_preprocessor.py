"""PreProcessor letterbox geometry (kernels/preprocessor.py): resize,
symmetric pad, forward/inverse box remapping, reference-parity unpad, and
the letterboxed detection path end to end."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctr_spark.kernels.preprocessor import (
    batch_inputs,
    letterbox,
    normalize_batch,
    remove_padding_boxes,
    resize_bilinear,
    resize_target,
    unletterbox_boxes,
)


def test_resize_bilinear_identity_and_ramp():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 255, (37, 53), dtype=np.uint8)
    assert np.array_equal(resize_bilinear(img, 37, 53), img)
    # a linear ramp stays a linear ramp under bilinear resampling
    ramp = np.tile(np.arange(0, 200, 2, dtype=np.uint8), (10, 1))
    up = resize_bilinear(ramp, 10, 200)
    diffs = np.diff(up[0].astype(int))
    assert abs(up[0, 0] - ramp[0, 0]) <= 1 and abs(int(up[0, -1]) - int(ramp[0, -1])) <= 1
    assert (np.abs(diffs - 1) <= 1).all()


def test_letterbox_geometry_and_ceil_leading_pad():
    img = np.full((30, 60), 200, dtype=np.uint8)
    out, meta = letterbox(img, (64, 64))
    assert out.shape == (64, 64)
    # content scales to width 64, height 32; pad 32 split ceil-first
    assert meta["content_hw"] == (32, 64)
    assert meta["offset_xy"] == (0, 16)
    assert (out[16:48] == 200).all()
    assert (out[:16] == 0).all() and (out[48:] == 0).all()
    # odd pad: leading side takes the ceil (reference pytorch.py:163-166)
    out2, meta2 = letterbox(np.full((30, 60), 200, dtype=np.uint8), (63, 64))
    assert meta2["offset_xy"] == (0, 16)  # ceil(31 / 2)


def test_letterbox_no_aspect_is_plain_resize():
    img = np.full((30, 60), 90, dtype=np.uint8)
    out, meta = letterbox(img, (64, 64), preserve_aspect_ratio=False)
    assert out.shape == (64, 64) and (out == 90).all()
    assert meta["offset_xy"] == (0, 0) and meta["content_hw"] == (64, 64)


@pytest.mark.parametrize("poly", [False, True])
def test_resize_target_roundtrip_through_unletterbox(poly):
    rng = np.random.default_rng(3)
    boxes = np.sort(rng.uniform(0.05, 0.95, (12, 4)), axis=-1)[:, [0, 2, 1, 3]]
    boxes = boxes[:, [0, 2, 1, 3]]  # (x0, y0, x1, y1) with x0<x1, y0<y1
    img = np.zeros((40, 90), dtype=np.uint8)
    out, meta = letterbox(img, (128, 128))
    ch, cw = meta["content_hw"]
    off = (meta["offset_xy"][0] / 128, meta["offset_xy"][1] / 128)
    target = boxes
    if poly:
        target = np.stack(
            [boxes[:, [0, 1]], boxes[:, [2, 1]], boxes[:, [2, 3]], boxes[:, [0, 3]]], axis=1
        )
    fwd = resize_target(target, (ch, cw), (128, 128), symmetric_pad=True, offset=off)
    if poly:
        fwd = np.concatenate([fwd[:, 0], fwd[:, 2]], axis=-1)
    back = unletterbox_boxes(fwd, meta, (128, 128))
    assert np.abs(back - boxes).max() < 1e-12


def test_remove_padding_matches_reference_square_case():
    """For a SQUARE target, the exact inverse must agree with the
    reference's published h/w dilation formula (_remove_padding,
    detection/_utils/base.py:40-76)."""
    for h, w in ((120, 80), (80, 120)):
        img = np.zeros((h, w), dtype=np.uint8)
        out, meta = letterbox(img, (256, 256))
        rng = np.random.default_rng(7)
        raw = np.sort(rng.uniform(0.0, 1.0, (20, 4)), axis=-1)[:, [0, 2, 1, 3]][:, [0, 2, 1, 3]]
        ch, cw = meta["content_hw"]
        off = (meta["offset_xy"][0] / 256, meta["offset_xy"][1] / 256)
        on_square = resize_target(raw, (ch, cw), (256, 256), symmetric_pad=True, offset=off)
        exact = unletterbox_boxes(on_square, meta, (256, 256))
        ref = remove_padding_boxes(on_square, (h, w), symmetric_pad=True)
        # the reference formula assumes ideal (non-integer) content extents;
        # rounding of tmp_size introduces sub-pixel differences only
        assert np.abs(exact - ref).max() < 5e-3
        assert np.abs(exact - raw).max() < 5e-3


def test_batch_inputs_and_normalize():
    samples = [np.full((4, 4), i, dtype=np.uint8) for i in range(10)]
    batches = batch_inputs(samples, 4)
    assert [b.shape[0] for b in batches] == [4, 4, 2]
    assert batch_inputs([], 4) == []
    n = normalize_batch(batches[0], mean=(0.5, 0.5, 0.5), std=(1.0, 1.0, 1.0))
    assert n.min() >= -0.5 and n.max() <= 0.5
    assert np.allclose(n[1], 1 / 255.0 - 0.5)


def test_extraction_with_letterbox_pad_only_is_bit_exact(spark):
    """A pad-only letterbox (target width == page width) must leave the
    full pipeline bit-exact: detection runs on the padded frame, the
    inverse restores exact page geometry, crops come from original
    pixels."""
    from doctr_spark.fixtures.transcripts import generate_transcripts
    from doctr_spark.operators.pipeline import extract_documents

    tdf, gdf = generate_transcripts(spark, 8, with_gt=True)
    from doctr_spark.config import PAGE_W

    docs = extract_documents(tdf, det_input_size=(640, PAGE_W))
    j = docs.join(gdf, ["conv_id", "turn_idx"]).select(
        (F.col("extracted_text") == F.col("gt_text")).alias("ok")
    ).collect()
    assert len(j) >= 8
    assert all(r.ok for r in j)


def test_extraction_with_downscale_letterbox_stays_exact(spark):
    """A genuine 0.75x downscale letterbox exercises the full path — real
    bilinear resize, padded detection, exact inverse scaling — and the
    pipeline still extracts every page exactly: crops come from original
    pixels, and the recognizer's ink re-trim absorbs the sub-pixel box
    error the resized detection introduces."""
    from doctr_spark.fixtures.transcripts import generate_transcripts
    from doctr_spark.operators.pipeline import extract_documents

    tdf, gdf = generate_transcripts(spark, 12, with_gt=True)
    docs = extract_documents(tdf, det_input_size=(480, 384))
    j = docs.join(gdf, ["conv_id", "turn_idx"]).select(
        (F.col("extracted_text") == F.col("gt_text")).alias("ok")
    ).collect()
    assert len(j) >= 12
    assert all(r.ok for r in j)
