import numpy as np

from doctr_spark.config import GLYPH_H
from doctr_spark.kernels.glyphs import draw_word, word_width
from doctr_spark.kernels.orientation import estimate_crop_orientation, rectify_crop
from doctr_spark.kernels.recognition import recognize_crop


def _crop(text):
    canvas = np.zeros((GLYPH_H, word_width(text)), dtype=np.uint8)
    draw_word(canvas, 0, 0, text)
    return canvas


def test_upright_reports_zero():
    angle, conf = estimate_crop_orientation(_crop("hello"))
    assert angle == 0 and conf == 1.0


def test_rot180_detected_and_rectified():
    crop = np.rot90(_crop("spark42"), 2)
    angle, conf = estimate_crop_orientation(crop)
    assert angle == 180 and conf == 1.0
    assert recognize_crop(rectify_crop(crop, angle))[0] == "spark42"


def test_rot90_270_detected():
    base = _crop("abcdef")
    for k, expected in ((1, 90), (3, 270)):
        rot = np.rot90(base, k)
        angle, conf = estimate_crop_orientation(rot)
        assert angle == expected, (k, angle)
        assert recognize_crop(rectify_crop(rot, angle))[0] == "abcdef"


def test_square_word_no_false_positive():
    # 4-char word is 16x16: the 90/270 candidates are shape-valid but must
    # score below the true orientation
    crop = np.rot90(_crop("abcd"), 2)
    angle, conf = estimate_crop_orientation(crop)
    assert angle == 180


def test_estimate_page_orientation_kernel():
    from doctr_spark.fixtures.layout import layout_paragraphs
    from doctr_spark.kernels.orientation import estimate_page_orientation, straighten_page

    page = layout_paragraphs([["hello", "world"], ["again", "there"]])[0]
    assert estimate_page_orientation(page.canvas) == (0, 1.0)
    for k, expected in ((1, 90), (2, 180), (3, 270)):
        rotated = np.rot90(page.canvas, k)
        angle, conf = estimate_page_orientation(rotated)
        assert angle == expected and conf == 1.0
        assert (straighten_page(rotated, angle) == page.canvas).all()
    blank = np.zeros((64, 64), dtype=np.uint8)
    assert estimate_page_orientation(blank) == (0, 0.0)


def test_straighten_pages_pipeline(spark):
    from pyspark.sql import functions as F

    from doctr_spark.fixtures.layout import layout_paragraphs
    from doctr_spark.fixtures.payloads import make_img_payload
    from doctr_spark.operators.pipeline import extract_documents

    page = layout_paragraphs([["rotated", "page", "text"]])[0]
    rotated = np.ascontiguousarray(np.rot90(page.canvas, 2))
    t = spark.createDataFrame(
        [("c1", 0, "user", make_img_payload(rotated), None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    r = extract_documents(t, straighten_pages=True).first()
    assert r.extracted_text == page.gt_text
    import json
    assert json.loads(r.pages_json[0])["orientation"] == {"value": 180, "confidence": 1.0}
    # without straightening the rotated page is unreadable
    r2 = extract_documents(t).first()
    assert r2.extracted_text != page.gt_text
