import numpy as np

from doctr_spark.fixtures.layout import layout_paragraphs
from doctr_spark.fixtures.tables import render_table_page
from doctr_spark.kernels.builder import sort_boxes, straighten
from doctr_spark.kernels.geometry import bbox_to_polygon, rotate_boxes
from doctr_spark.kernels.layout import assign_layout_labels, detect_layout_regions, intersection_over_area


def test_straighten_passthrough_straight():
    boxes = np.array([[0.1, 0.1, 0.3, 0.2]])
    assert straighten(boxes) is boxes


def test_straighten_deskews_rotated_page():
    # three word boxes on a row, page rotated by 8 degrees: after
    # straighten, the boxes realign on a common baseline
    base = np.array([
        [0.1, 0.50, 0.2, 0.55],
        [0.3, 0.50, 0.4, 0.55],
        [0.5, 0.50, 0.6, 0.55],
    ])
    polys = np.stack([bbox_to_polygon(b) for b in base])
    skewed = rotate_boxes(polys, 8.0, (512, 512), min_angle=0.0)
    out = straighten(skewed, shape=(512, 512))
    assert out.shape == (3, 4)
    assert np.ptp(out[:, 1]) < 0.01  # y0 realigned within 1% of page height
    order, _ = sort_boxes(skewed, shape=(512, 512))
    assert order.tolist() == [0, 1, 2]


def test_intersection_over_area_and_labels():
    elements = np.array([
        [0.1, 0.1, 0.2, 0.2],   # fully inside region 0
        [0.45, 0.1, 0.55, 0.2], # straddles: 50/50 -> below 0.5+eps of either? exactly 0.5 each
        [0.8, 0.8, 0.9, 0.9],   # uncovered
    ])  # fmt: skip
    regions = np.array([[0.0, 0.0, 0.5, 0.5], [0.5, 0.0, 1.0, 0.5]])
    cov = intersection_over_area(elements, regions)
    assert np.allclose(cov[0], [1.0, 0.0])
    assert np.allclose(cov[1], [0.5, 0.5])
    labels = assign_layout_labels(elements, regions, ["left", "right"])
    assert labels[0] == "left" and labels[2] is None
    assert labels[1] in ("left", "right")  # exact 50/50 straddle: fp tie


def test_detect_layout_regions_bands():
    pages = layout_paragraphs([["top", "band"], ["second", "paragraph", "words"]])
    reg = detect_layout_regions(pages[0].canvas)
    assert len(reg["class_names"]) >= 2
    assert all(n in ("text", "page_header", "page_footer", "table") for n in reg["class_names"])
    # a ruled table page is labeled as a table region
    tp = render_table_page([[["a"], ["b"]]])
    reg2 = detect_layout_regions(tp.canvas)
    assert "table" in reg2["class_names"]


def test_detect_layout_regions_empty():
    reg = detect_layout_regions(np.zeros((64, 64), dtype=np.uint8))
    assert reg["boxes"].shape == (0, 4) and reg["class_names"] == []


def test_mask_regions_kernel():
    from doctr_spark.kernels.detection import detect_words, mask_regions
    from doctr_spark.kernels.glyphs import draw_word

    img = np.zeros((256, 512), dtype=np.uint8)
    draw_word(img, 20, 8, "headerline")   # top margin
    draw_word(img, 20, 120, "bodyword")
    masked = mask_regions(img, np.array([[0.0, 0.0, 1.0, 0.12]]))
    boxes, _, _ = detect_words(masked)
    assert boxes.shape[0] == 1
    assert boxes[0][1] == 120
    # original untouched
    assert detect_words(img)[0].shape[0] == 2


def test_detect_stage_mask_region_labels(spark):
    from pyspark.sql import functions as F

    from doctr_spark.fixtures.payloads import make_img_payload
    from doctr_spark.kernels.glyphs import draw_word
    from doctr_spark.operators.detect import detect_boxes

    img = np.zeros((256, 512), dtype=np.uint8)
    draw_word(img, 20, 8, "chrome")     # lands in the page_header band
    draw_word(img, 20, 120, "content")
    t = spark.createDataFrame(
        [("c1", 0, "user", make_img_payload(img), None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    all_words = detect_boxes(t).where("word_idx >= 0").count()
    kept = detect_boxes(t, mask_region_labels=("page_header", "page_footer")).where(
        "word_idx >= 0"
    ).count()
    assert (all_words, kept) == (2, 1)


def test_layout_labels_picture_regions():
    import numpy as np

    from doctr_spark.config import PAGE_H, PAGE_W
    from doctr_spark.kernels.artefacts import draw_artefact
    from doctr_spark.kernels.glyphs import draw_word
    from doctr_spark.kernels.layout import detect_layout_regions

    canvas = np.zeros((PAGE_H, PAGE_W), np.uint8)
    draw_word(canvas, 32, 32, "hello")
    draw_artefact(canvas, "photo", 100, 100, 80, 60)
    r = detect_layout_regions(canvas)
    assert r["class_names"] == ["text", "picture"]


def test_mask_picture_regions_in_pipeline(spark):
    """ignore_regions with the picture label: the photo is blanked before
    detection, so only the real text is ever detected or recognized."""
    import datetime as dt

    import numpy as np

    from doctr_spark.config import PAGE_H, PAGE_W
    from doctr_spark.fixtures.payloads import make_img_payload
    from doctr_spark.kernels.artefacts import draw_artefact
    from doctr_spark.kernels.glyphs import draw_word
    from doctr_spark.operators.detect import detect_boxes
    from doctr_spark.operators.pipeline import extract_documents

    canvas = np.zeros((PAGE_H, PAGE_W), np.uint8)
    draw_word(canvas, 32, 32, "hello")
    draw_artefact(canvas, "photo", 100, 100, 80, 60)
    tdf = spark.createDataFrame(
        [("c0", 0, "user", f"see {make_img_payload(canvas)}", None, dt.datetime(2024, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    boxes = detect_boxes(tdf, mask_region_labels=("picture",))
    assert boxes.where("word_idx >= 0").count() == 1  # only the word detected
    row = extract_documents(tdf, mask_region_labels=("picture",)).first()
    assert row["extracted_text"] == "hello" and row["n_words"] == 1


def test_ruled_band_labels():
    import numpy as np

    from doctr_spark.config import PAGE_H, PAGE_W, RULING_INK
    from doctr_spark.kernels.glyphs import draw_word
    from doctr_spark.kernels.layout import detect_layout_regions

    canvas = np.zeros((PAGE_H, PAGE_W), dtype=np.uint8)
    # section header: text + touching underline
    draw_word(canvas, 24, 40, "intro")
    canvas[56:58, 24:60] = RULING_INK
    # list item: left gutter bar + text
    canvas[100:116, 20:22] = RULING_INK
    draw_word(canvas, 30, 100, "bullet")
    # table: bordered box with a word inside
    canvas[130:132, 24:224] = RULING_INK
    canvas[166:168, 24:224] = RULING_INK
    canvas[130:168, 24:26] = RULING_INK
    canvas[130:168, 222:224] = RULING_INK
    draw_word(canvas, 40, 142, "cell")
    regions = detect_layout_regions(canvas)
    assert regions["class_names"] == ["section_header", "list_item", "table"]


def test_formula_vs_section_header():
    import numpy as np

    from doctr_spark.config import PAGE_H, PAGE_W, RULING_INK
    from doctr_spark.kernels.glyphs import draw_word
    from doctr_spark.kernels.layout import detect_layout_regions

    canvas = np.zeros((PAGE_H, PAGE_W), dtype=np.uint8)
    # formula: numerator over a fraction bar over a denominator — ONE rule
    # with ink on both sides stays one contiguous band
    draw_word(canvas, 204, 40, "ab")
    canvas[56:59, 200:240] = RULING_INK
    draw_word(canvas, 204, 59, "cd")
    # section header further down: same single rule but text only above
    draw_word(canvas, 24, 120, "intro")
    canvas[136:138, 24:60] = RULING_INK
    regions = detect_layout_regions(canvas)
    assert regions["class_names"] == ["formula", "section_header"]


def test_reading_segments_break_on_section_header():
    from doctr_spark.kernels.reading_order import resolve_reading_segments

    # same column, close rows: identical labels would merge, the header's
    # label change forces its own segment
    geoms = [[0.1, 0.10, 0.9, 0.14], [0.1, 0.16, 0.9, 0.20], [0.1, 0.22, 0.9, 0.26]]
    labels = ["section_header", "text", "text"]
    segs = resolve_reading_segments(geoms, labels=labels)
    assert segs == [[0], [1, 2]]


def test_list_items_group_by_region():
    from doctr_spark.kernels.reading_order import group_reading_items

    # two bullets, the first wrapped over two visual lines
    geoms = [
        [0.1, 0.10, 0.9, 0.14],
        [0.1, 0.16, 0.9, 0.20],
        [0.1, 0.26, 0.9, 0.30],
    ]
    labels = ["list_item", "list_item", "list_item"]
    regions = [[0.05, 0.08, 0.95, 0.22], [0.05, 0.24, 0.95, 0.32]]
    items = group_reading_items(geoms, labels=labels, region_geoms=regions)
    assert items == [[0, 1], [2]]
