"""Arbitrary-angle rotated-page geometry: lossless shear rotation, skew
estimation, reference-parity polygon kernels, and the end-to-end skewed
extraction path (reference grid: tests/pytorch/test_models_zoo_pt.py:32-120)."""

import numpy as np
import pytest

from doctr_spark.fixtures.layout import layout_paragraphs
from doctr_spark.kernels.rgeometry import (
    compute_expanded_shape,
    crop_to_ink,
    estimate_skew_angle,
    extract_rcrops,
    remap_boxes,
    resolve_enclosing_rbbox,
    rotate_abs_geoms,
    rotate_image_shear,
    rotate_points_shear,
    unrotate_image_shear,
)


@pytest.mark.parametrize("theta", [7.0, -3.5, 12.5, 0.5, -14.5])
def test_shear_rotation_roundtrip_bit_exact(theta):
    rng = np.random.default_rng(0)
    img = (rng.random((100, 200)) < 0.1).astype(np.uint8) * 200
    back = unrotate_image_shear(rotate_image_shear(img, theta), theta)
    assert back.shape == img.shape
    assert (back == img).all()


@pytest.mark.parametrize("theta", [2.0, 7.0, -5.5, 11.5, -13.0, 0.0])
def test_estimate_skew_angle_recovers_grid(theta):
    page = layout_paragraphs(
        [["hello", "world", "alpha", "beta", "gamma"], ["one", "two", "three", "four"]]
    )[0].canvas
    assert estimate_skew_angle(rotate_image_shear(page, theta)) == theta


def _line_page() -> np.ndarray:
    # line-shaped ink (the regime the contour mechanism assumes: the
    # reference dilates words toward line blobs before fitting rects)
    page = np.zeros((400, 600), np.uint8)
    rng = np.random.RandomState(0)
    for i in range(12):
        y = 30 + i * 30
        for k in range(5):
            x0 = 40 + k * 110 + rng.randint(0, 10)
            page[y : y + 12, x0 : x0 + 80] = 200
    return page


@pytest.mark.parametrize("theta", [5.0, -7.5, 12.0, 0.0])
def test_estimate_orientation_contours_median(theta):
    from doctr_spark.kernels.rgeometry import estimate_orientation_contours

    est = estimate_orientation_contours(rotate_image_shear(_line_page(), theta))
    assert abs(est - theta) < 1.0


def test_estimate_orientation_composed_facade():
    from doctr_spark.kernels.rgeometry import estimate_orientation

    page = _line_page()
    # residual skew alone
    assert estimate_orientation(rotate_image_shear(page, 7.0)) == 7
    # confident right-angle base composes with the residual and wraps
    for base, want in ((90, 95), (180, -175), (-90, -85)):
        rot = np.rot90(rotate_image_shear(page, 5.0), (base % 360) // 90)
        assert estimate_orientation(rot, (base, 0.9)) == want
    # an unconfident base is ignored (reference min_confidence gate)
    assert estimate_orientation(rotate_image_shear(page, 7.0), (90, 0.1)) == 7


def test_estimate_orientation_contours_abstains_on_squarish_words():
    from doctr_spark.kernels.rgeometry import estimate_orientation_contours

    # glyph-rendered short words are nearly square blobs: no line-like
    # contours survive the ratio filter, so the mechanism abstains and the
    # projection-profile search keeps sole authority (the two mechanisms
    # are arbitrated by the exact re-score inside estimate_skew_angle)
    page = layout_paragraphs(
        [["hello", "world", "alpha", "beta", "gamma"], ["one", "two", "three", "four"]]
    )[0].canvas
    assert estimate_orientation_contours(rotate_image_shear(page, 5.0)) == 0.0


def test_estimate_orientation_contours_edge_cases():
    from doctr_spark.kernels.rgeometry import estimate_orientation_contours

    # blank page abstains
    assert estimate_orientation_contours(np.zeros((100, 200), np.uint8)) == 0.0
    # squarish blobs (no line-like contours) abstain
    blobs = np.zeros((200, 200), np.uint8)
    blobs[20:60, 20:60] = 200
    blobs[120:160, 120:160] = 200
    assert estimate_orientation_contours(blobs) == 0.0
    # vertical lines median to +/-90 -> abstain like the reference
    vert = np.zeros((300, 300), np.uint8)
    for x in (40, 120, 200):
        vert[30:270, x : x + 8] = 200
    assert estimate_orientation_contours(vert) == 0.0


def test_estimate_skew_abstains():
    assert estimate_skew_angle(np.zeros((100, 200), np.uint8)) == 0.0
    page = layout_paragraphs([["hello", "world", "abc"], ["x1", "y2"]])[0].canvas
    assert estimate_skew_angle(page) == 0.0  # upright stays upright
    assert estimate_skew_angle(np.rot90(page)) == 0.0  # right angles are not skew


def test_rotate_points_shear_tracks_pixels():
    img = np.zeros((100, 200), np.uint8)
    marks = [(30, 20), (150, 80), (77, 55)]
    for i, (x, y) in enumerate(marks):
        img[y, x] = 100 + i
    for theta in (7.0, -4.5, 13.5):
        rot = rotate_image_shear(img, theta)
        mapped = rotate_points_shear(np.array(marks, float), theta, img.shape)
        for i, (mx, my) in enumerate(mapped):
            assert rot[int(my), int(mx)] == 100 + i


def test_crop_to_ink():
    img = np.zeros((50, 60), np.uint8)
    img[10:20, 15:40] = 7
    assert crop_to_ink(img).shape == (10, 25)
    assert crop_to_ink(img, margin=2).shape == (14, 29)
    blank = np.zeros((5, 5), np.uint8)
    assert crop_to_ink(blank).shape == (5, 5)


def test_resolve_enclosing_rbbox():
    rect = np.array([[[0, 0], [4, 0], [4, 2], [0, 2]]], float)
    assert np.allclose(resolve_enclosing_rbbox([rect]), rect[0])
    diamond = np.array([[[2, 0], [4, 2], [2, 4], [0, 2]]], float)
    assert np.allclose(resolve_enclosing_rbbox([diamond]), diamond[0])
    # two separated boxes -> min-area rect covers both corners
    two = [
        np.array([[[0, 0], [1, 0], [1, 1], [0, 1]]], float),
        np.array([[[3, 2], [5, 2], [5, 3], [3, 3]]], float),
    ]
    out = resolve_enclosing_rbbox(two)
    assert out.shape == (4, 2)
    # every input corner is inside (or on) the rect: area check
    v1, v2 = out[1] - out[0], out[3] - out[0]
    area = abs(np.cross(v1, v2))
    assert area >= 5 * 3 - 6  # at least the diagonal spread


def test_rotate_abs_geoms_right_angle():
    # a (N, 4) straight box rotated 90deg CCW about the center, expanded
    boxes = np.array([[10.0, 20.0, 30.0, 40.0]])
    polys = rotate_abs_geoms(boxes, 90.0, (100, 200), expand=True)
    assert polys.shape == (1, 4, 2)
    xs, ys = polys[0, :, 0], polys[0, :, 1]
    # 90deg swaps spans: 20px wide x 20px tall stays 20x20, but the
    # x-extent now comes from the old y-extent
    assert np.isclose(xs.max() - xs.min(), 20.0)
    assert np.isclose(ys.max() - ys.min(), 20.0)


def test_remap_boxes_centered_pad():
    polys = np.array([[[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75]]])
    out = remap_boxes(polys, orig_shape=(100, 100), dest_shape=(200, 200))
    # centered pad to 2x: the box shrinks to half-size around the center
    assert np.allclose(out[0, 0], [0.375, 0.375])
    assert np.allclose(out[0, 2], [0.625, 0.625])


def test_extract_rcrops_recovers_rotated_patch():
    canvas = np.zeros((120, 240), np.uint8)
    patch = (np.arange(20)[:, None] * 10 + np.arange(60)[None, :]).astype(np.uint8) + 30
    canvas[50:70, 80:140] = patch
    theta = 6.0
    rot = rotate_image_shear(canvas, theta)
    rh, rw = rot.shape
    corners = np.array([[80, 50], [139, 50], [139, 69], [80, 69]], float)
    poly = rotate_points_shear(corners, theta, canvas.shape).astype(float)
    poly[:, 0] /= rw
    poly[:, 1] /= rh
    crop = extract_rcrops(rot, poly[None, ...])[0]
    hh, ww = min(crop.shape[0], 20), min(crop.shape[1], 60)
    assert hh >= 19 and ww >= 59
    # NN warp through the integer-shear raster: most pixels land exactly
    assert (crop[:hh, :ww] == patch[:hh, :ww]).mean() > 0.5
    assert abs(crop[:hh, :ww].astype(int) - patch[:hh, :ww].astype(int)).mean() < 20


def test_compute_expanded_shape():
    h, w = compute_expanded_shape((100, 200), 90.0)
    assert (h, w) == (200, 100)


def test_skewed_extraction_bit_exact(spark):
    from pyspark.sql import functions as F

    from doctr_spark.fixtures.skew import generate_skewed_transcripts
    from doctr_spark.operators.pipeline import extract_documents

    tdf, gdf = generate_skewed_transcripts(spark, 10, with_gt=True)
    docs = extract_documents(tdf, straighten_pages=True)
    j = docs.join(gdf, ["conv_id", "turn_idx"], "full")
    n, match = j.select(
        F.count("*"), F.sum((F.col("extracted_text") == F.col("gt_text")).cast("int"))
    ).first()
    assert n > 0 and match == n


def test_composed_skew_rot90_round_trip_bit_exact():
    """Fractional skew composed with every right angle must straighten
    bit-for-bit: unshear first (two-axis profile), then the classifier."""
    from doctr_spark.fixtures.layout import layout_paragraphs
    from doctr_spark.kernels.orientation import estimate_page_orientation, straighten_page
    from doctr_spark.kernels.rgeometry import (
        crop_to_ink,
        estimate_skew_angle,
        rotate_image_shear,
        unrotate_image_shear,
    )

    page = layout_paragraphs([["bonjour", "monde", "salut", "test"], ["gamma", "delta"]])[0].canvas
    for k in (0, 1, 2, 3):
        for angle in (2.5, -7.0, 11.5, 14.0):
            fwd = rotate_image_shear(np.rot90(page, k), angle)
            est = estimate_skew_angle(fwd)
            img = unrotate_image_shear(fwd, est) if est else fwd
            orient, _ = estimate_page_orientation(img)
            if orient:
                img = straighten_page(img, orient)
            assert np.array_equal(crop_to_ink(img), crop_to_ink(page)), (k, angle, est, orient)
