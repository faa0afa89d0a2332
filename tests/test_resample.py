"""Resampled (bilinear-rotated, 4x-scanned) page robustness."""

import numpy as np
from pyspark.sql import functions as F

from doctr_spark.fixtures.layout import layout_paragraphs
from doctr_spark.fixtures.resample import SCAN_SCALE, generate_resampled_transcripts
from doctr_spark.kernels.glyphs import normalize_crop_height
from doctr_spark.kernels.rgeometry import (
    estimate_skew_angle,
    is_resampled,
    rotate_image_bilinear,
    rotate_image_shear,
    unrotate_image_resampled,
)
from doctr_spark.operators.pipeline import extract_documents


def test_is_resampled_separates_crisp_from_bilinear():
    page = layout_paragraphs([["hello", "world", "alpha", "beta"]])[0].canvas
    assert not is_resampled(page)
    assert not is_resampled(rotate_image_shear(page, 7.0))  # shears stay crisp
    assert is_resampled(rotate_image_bilinear(page, 7.0))


def test_bilinear_skew_estimated_within_grid():
    page = layout_paragraphs([["hello", "world", "alpha"], ["beta", "gamma"]])[0].canvas
    big = np.kron(page, np.ones((SCAN_SCALE, SCAN_SCALE), dtype=np.uint8))
    for angle in (3.0, -8.5, 12.0):
        est = estimate_skew_angle(rotate_image_bilinear(big, angle))
        assert abs(est - angle) <= 0.5, (angle, est)


def test_unrotate_resampled_keeps_words_separable():
    from doctr_spark.kernels.detection import detect_words

    page = layout_paragraphs([["hello", "world", "alpha", "beta"]])[0].canvas
    big = np.kron(page, np.ones((SCAN_SCALE, SCAN_SCALE), dtype=np.uint8))
    rot = rotate_image_bilinear(big, -6.5)
    est = estimate_skew_angle(rot)
    boxes, _, _ = detect_words(unrotate_image_resampled(rot, est))
    assert boxes.shape[0] == 4


def test_normalize_crop_height_scales():
    from doctr_spark.config import GLYPH_H, INK
    from doctr_spark.kernels.glyphs import _word_raster, read_codes

    crisp = _word_raster("abc")
    assert normalize_crop_height(crisp) is crisp  # exact path untouched
    ref_codes = read_codes(crisp)
    for s in (2, 4):
        big = np.kron(crisp, np.ones((s, s), dtype=np.uint8))
        pooled = normalize_crop_height(big)
        assert pooled.shape == crisp.shape
        assert (read_codes(pooled) == ref_codes).all()
    assert normalize_crop_height(np.zeros((45, 10), dtype=np.uint8)) is None
    # text-likeness gate: solid/striped non-text ink at 2x line height must
    # be rejected, not decoded into garbage characters
    solid = np.full((2 * GLYPH_H, 16), INK, dtype=np.uint8)
    assert normalize_crop_height(solid) is None
    stripes = np.zeros((2 * GLYPH_H, 64), dtype=np.uint8)
    stripes[:, ::3] = INK  # barcode-like vertical bars
    assert normalize_crop_height(stripes) is None


def test_resampled_extraction_meets_tolerance(spark):
    tdf, gdf = generate_resampled_transcripts(spark, 5, with_gt=True)
    docs = extract_documents(tdf, straighten_pages=True)
    gt = gdf.select(
        "conv_id",
        "turn_idx",
        F.col("n_words").alias("gt_n_words"),
        F.array_distinct(F.split("gt_text", r"\s+")).alias("gt_toks"),
    )
    j = docs.join(gt, ["conv_id", "turn_idx"], "right")
    pred = F.array_distinct(F.split(F.coalesce("extracted_text", F.lit("")), r"\s+"))
    recall = F.size(F.array_intersect(pred, F.col("gt_toks"))) / F.size("gt_toks")
    row = j.select(
        F.count("*").alias("n"),
        F.sum((recall >= 0.9).cast("int")).alias("ok"),
        F.round(F.avg(recall), 3).alias("mean_recall"),
    ).first()
    assert row["n"] > 0 and row["ok"] == row["n"], row
