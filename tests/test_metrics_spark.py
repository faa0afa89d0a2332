import pytest

from doctr_spark.operators.metrics import iou_expr, localization_confusion, text_match


def test_text_match_rates(spark):
    df = spark.createDataFrame(
        [("abc", "abc"), ("ABC", "abc"), ("xyz", "abc"), ("Mixed", "mixed"), ("élan", "elan")],
        "pred string, gt string",
    )
    row = text_match(df).first()
    assert row["n"] == 5
    assert row["raw"] == 0.2
    assert row["caseless"] == 0.6  # recovers ABC, Mixed but not élan
    assert row["anyascii"] == 0.4  # élan folds to elan; case still differs for ABC/Mixed
    assert row["unicase"] == 0.8  # fold + case fold recovers ABC, Mixed, élan


def test_iou_expr_native(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0, 1.0, 1.0], [0.5, 0.0, 1.5, 1.0])],
        "a array<double>, b array<double>",
    )
    val = df.select(iou_expr("a", "b").alias("iou")).first()["iou"]
    assert abs(val - 0.5 / 1.5) < 1e-9


def test_localization_confusion(spark):
    # page 1: both boxes matched exactly; page 2: one gt missed, one spurious pred
    rows = [
        ("p1", [[0.1, 0.1, 0.2, 0.2], [0.3, 0.3, 0.4, 0.4]], [[0.1, 0.1, 0.2, 0.2], [0.3, 0.3, 0.4, 0.4]]),
        ("p2", [[0.1, 0.1, 0.2, 0.2]], [[0.7, 0.7, 0.8, 0.8]]),
    ]
    df = spark.createDataFrame(
        rows, "page_key string, gt_boxes array<array<double>>, pred_boxes array<array<double>>"
    )
    m = localization_confusion(df).first()
    assert m["n_gt"] == 3 and m["n_pred"] == 3
    assert m["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert m["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert m["mean_iou"] == pytest.approx(1.0, abs=1e-6)


def test_hungarian_assignment_kernel():
    import numpy as np

    from doctr_spark.kernels.assignment import linear_sum_assignment

    # classic competing case: greedy takes 0.8 and strands row 1
    iou = np.array([[0.8, 0.6], [0.7, 0.0]])
    r, c = linear_sum_assignment(-iou)
    assert iou[r, c].sum() == pytest.approx(1.3)  # 0.6 + 0.7, not 0.8 + 0.0
    # rectangular + empty
    r, c = linear_sum_assignment(np.array([[1.0, 0.2, 0.5]]))
    assert list(r) == [0] and list(c) == [1]
    r, c = linear_sum_assignment(np.zeros((0, 3)))
    assert len(r) == 0


def test_localization_confusion_competing_overlaps(spark):
    """Fixture where greedy matching provably differs from the optimal
    assignment: greedy pairs gtA with predP (IoU .8), leaving gtB only the
    sub-threshold predR (.3) -> 1 match; the Hungarian optimum pairs
    gtA-predR (.6) and gtB-predP (.7) -> 2 matches (the reference's
    linear_sum_assignment behavior, metrics.py:268-290)."""
    gt = [[0.0, 0.0, 10.0, 1.0], [2.876, 0.0, 12.876, 1.0]]
    pred = [[1.111, 0.0, 11.111, 1.0], [-2.5, 0.0, 7.5, 1.0]]
    df = spark.createDataFrame(
        [("p", gt, pred)],
        "page_key string, gt_boxes array<array<double>>, pred_boxes array<array<double>>",
    )
    m = localization_confusion(df).first()
    assert m["recall"] == pytest.approx(1.0, abs=1e-6)  # greedy would give 0.5
    assert m["precision"] == pytest.approx(1.0, abs=1e-6)
    assert m["mean_iou"] == pytest.approx((0.6 + 0.7) / 2, abs=1e-2)


def test_kie_pipeline_spark(spark):
    from doctr_spark.fixtures.transcripts import generate_transcripts
    from doctr_spark.operators.kie import kie_class_counts, kie_extract

    tdf = generate_transcripts(spark, 8)
    pages = kie_extract(tdf)
    counts = kie_class_counts(pages).collect()
    assert len(counts) > 0
    assert all(r["n_number"] + r["n_alpha"] + r["n_mixed"] > 0 for r in counts)


def test_export_formats_spark(spark):
    from doctr_spark.fixtures.transcripts import generate_transcripts
    from doctr_spark.operators.kie import export_documents
    from doctr_spark.operators.pipeline import extract_pages

    tdf = generate_transcripts(spark, 6)
    built = extract_pages(tdf)
    html = export_documents(built, "html").collect()
    assert len(html) > 0
    assert any("<p>" in r["content"] for r in html if r["content"])
    hocr = export_documents(built, "hocr").collect()
    assert any("ocrx_word" in r["content"] for r in hocr if r["content"])


def test_metric_localization_query(spark):
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    df = e.metric_localization(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    # faint words are deterministic misses: precision/meanIoU exactly 1,
    # recall = detectable/total per page
    assert all(r["precision"] == 1.0 and r["mean_iou"] == 1.0 for r in rows)
    assert any(r["recall"] < 1.0 for r in rows)
    assert all(r["n_pred"] <= r["n_gt"] for r in rows)


def test_polygon_iou_kernel_known_values():
    import numpy as np

    from doctr_spark.kernels.geometry import (
        box_iou,
        clip_polygon,
        polygon_area,
        polygon_iou,
        rotate_polygon,
    )

    sq = np.array([[0.0, 0], [1, 0], [1, 1], [0, 1]])
    # unit square vs itself rotated 45 deg about its center: regular octagon
    diamond = rotate_polygon(sq, 45, (0.5, 0.5))
    inter = polygon_area(clip_polygon(sq, diamond))
    assert abs(inter - 2 * (np.sqrt(2) - 1)) < 1e-12
    # rigid rotation of a pair preserves IoU exactly
    a = np.array([[0.1, 0.2], [0.5, 0.2], [0.5, 0.4], [0.1, 0.4]])
    b = np.array([[0.3, 0.3], [0.7, 0.3], [0.7, 0.6], [0.3, 0.6]])
    base = box_iou(np.array([[0.1, 0.2, 0.5, 0.4]]), np.array([[0.3, 0.3, 0.7, 0.6]]))[0, 0]
    for ang in (0, 15, 30, 77.5):
        ra, rb = rotate_polygon(a, ang, (0.5, 0.5)), rotate_polygon(b, ang, (0.5, 0.5))
        assert abs(polygon_iou(ra[None], rb[None])[0, 0] - base) < 1e-12
    # disjoint polygons short-circuit through the bbox precheck
    assert polygon_iou(a[None], (a + 5)[None])[0, 0] == 0.0


def test_localization_use_polygons(spark):
    import numpy as np

    from doctr_spark.kernels.geometry import rotate_polygon
    from doctr_spark.operators.metrics import localization_per_page

    gt_box = np.array([[0.2, 0.2], [0.6, 0.2], [0.6, 0.4], [0.2, 0.4]])
    rows = []
    for ang, exact in ((30.0, True), (30.0, False)):
        g = rotate_polygon(gt_box, ang, (0.5, 0.5)).ravel().tolist()
        p = (
            g
            if exact
            else rotate_polygon(gt_box + 0.3, ang, (0.5, 0.5)).ravel().tolist()
        )
        rows.append((f"p{int(exact)}", [g], [p]))
    df = spark.createDataFrame(
        rows, "page_key string, gt_boxes array<array<double>>, pred_boxes array<array<double>>"
    )
    got = {
        r.page_key: r
        for r in localization_per_page(df, use_polygons=True).collect()
    }
    assert got["p1"].n_matched == 1 and abs(got["p1"].sum_iou - 1.0) < 1e-9
    assert got["p0"].n_matched == 0


def test_object_detection_map_matches_reference_semantics(spark):
    """The distributed mAP must reproduce the reference algorithm on a
    hand-computable case: one class, 2 images, 3 GT, detections = 2 TPs
    (scores .9/.8) + 1 FP between them (score .85).
    Global order: TP(.9) -> FP(.85) -> TP(.8):
    precision 1, 1/2, 2/3 at recall 1/3, 1/3, 2/3; interp = [1, 2/3, 2/3].
    AP = (34*1 + 33*(2/3)) / 101 (levels 0-.33 -> 1; .34-.66 -> 2/3)."""
    from doctr_spark.operators.metrics import object_detection_map

    b = [0.1, 0.1, 0.3, 0.3]
    far = [0.7, 0.7, 0.9, 0.9]
    rows = [
        # image 1: one GT, one exact TP (0.9) and one FP (0.85)
        ([b, far], [0, 0], [b, [0.45, 0.45, 0.6, 0.6]], [0, 0], [0.9, 0.85]),
        # image 2: one GT, one exact TP (0.8)
        ([b], [0], [b], [0], [0.8]),
    ]
    pairs = spark.createDataFrame(
        rows,
        "gt_boxes array<array<double>>, gt_labels array<bigint>, "
        "pred_boxes array<array<double>>, pred_labels array<bigint>, pred_scores array<double>",
    )
    out = {r.iou_thresh: r.mean_ap for r in object_detection_map(pairs).collect()}
    assert len(out) == 10
    expected = round((34 * 1.0 + 33 * (2 / 3)) / 101, 6)
    for t, ap in out.items():
        assert ap == expected, (t, ap)
