"""Evaluation metrics as Spark aggregations.

Reference: `doctr/utils/metrics.py` — TextMatch (`:46-124`) accumulates
raw/caseless/unicase exact-match counters; LocalizationConfusion /
OCRMetric (`:222-313, 398-525`) match predicted to ground-truth boxes at
IoU >= 0.5 and report recall/precision/meanIoU. Here the counters are
`groupBy().agg()` folds (distributed, map-side partial) and the IoU match
runs vectorized per page inside a grouped kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.geometry import box_iou
from ..session import local_frame


def text_match(df: DataFrame, pred: str = "pred", gt: str = "gt") -> DataFrame:
    """Corpus-level TextMatch: raw / caseless / anyascii / unicase match
    rates (reference `doctr/utils/metrics.py:46-124`; the anyascii fold is
    the NFD diacritic strip, `kernels.vocab.ascii_fold_pairs`)."""
    from ..kernels.vocab import ascii_fold_pairs

    src, dst = ascii_fold_pairs()
    p, g = F.col(pred), F.col(gt)
    fp, fg = F.translate(p, src, dst), F.translate(g, src, dst)
    return df.agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg((p == g).cast("int")), 6).alias("raw"),
        F.round(F.avg((F.lower(p) == F.lower(g)).cast("int")), 6).alias("caseless"),
        F.round(F.avg((fp == fg).cast("int")), 6).alias("anyascii"),
        F.round(F.avg((F.lower(fp) == F.lower(fg)).cast("int")), 6).alias("unicase"),
    )


def iou_expr(a: str, b: str) -> Column:
    """Straight-box IoU as a native column expression over two
    array<double>(4) columns — stays in whole-stage codegen."""
    ax0, ay0, ax1, ay1 = (F.element_at(F.col(a), i) for i in (1, 2, 3, 4))
    bx0, by0, bx1, by1 = (F.element_at(F.col(b), i) for i in (1, 2, 3, 4))
    iw = F.greatest(F.least(ax1, bx1) - F.greatest(ax0, bx0), F.lit(0.0))
    ih = F.greatest(F.least(ay1, by1) - F.greatest(ay0, by0), F.lit(0.0))
    inter = iw * ih
    union = (ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def box_iou_events(spark, sf_dir: str) -> DataFrame:
    """Native-column IoU over deterministic box pairs derived from events —
    the SQL-checkable demonstration of the metrics-suite IoU primitive."""
    from ..io.sources import scan_parallel

    ev = scan_parallel(spark.read.parquet(f"{sf_dir}/events.parquet"))
    a_x0 = (F.col("event_id") * 13 % 100) / 100.0
    a_y0 = (F.col("event_id") * 29 % 100) / 100.0
    b_x0 = (F.col("event_id") * 17 % 100) / 100.0
    b_y0 = (F.col("event_id") * 31 % 100) / 100.0
    boxed = ev.select(
        "event_id",
        F.array(a_x0, a_y0, a_x0 + 0.2, a_y0 + 0.1).alias("box_a"),
        F.array(b_x0, b_y0, b_x0 + 0.15, b_y0 + 0.12).alias("box_b"),
    )
    return boxed.select(
        "event_id", F.round(iou_expr("box_a", "box_b"), 6).alias("iou")
    ).where(F.col("iou") > 0)


BOX_IOU_ORACLE = """
WITH b AS (
    SELECT event_id,
           (event_id * 13 % 100) / 100.0 AS ax0, (event_id * 29 % 100) / 100.0 AS ay0,
           (event_id * 17 % 100) / 100.0 AS bx0, (event_id * 31 % 100) / 100.0 AS by0
    FROM events
), i AS (
    SELECT event_id,
           greatest(least(ax0 + 0.2, bx0 + 0.15) - greatest(ax0, bx0), 0)
         * greatest(least(ay0 + 0.1, by0 + 0.12) - greatest(ay0, by0), 0) AS inter
    FROM b
)
SELECT event_id,
       round(inter / (0.2 * 0.1 + 0.15 * 0.12 - inter), 6) AS iou
FROM i WHERE round(inter / (0.2 * 0.1 + 0.15 * 0.12 - inter), 6) > 0
"""


LOC_SCHEMA = "page_key string, n_gt long, n_pred long, n_matched long, sum_iou double"


def localization_per_page(
    pairs: DataFrame,
    page_key: str = "page_key",
    iou_thresh: float = 0.5,
    use_polygons: bool = False,
) -> DataFrame:
    """Per-page optimal IoU matching (Hungarian assignment on the negated
    IoU matrix, exactly the reference's `linear_sum_assignment` design,
    `doctr/utils/metrics.py:268-290`): one row per page with the matched
    counters. Matches below ``iou_thresh`` are discarded after assignment,
    like the reference. ``pairs`` holds one row per page with array columns
    ``gt_boxes`` and ``pred_boxes`` — each element a 4-value straight box,
    or with ``use_polygons`` an 8-value flattened (4, 2) rotated box scored
    by the Sutherland-Hodgman clip (reference
    ``LocalizationConfusion(use_polygons=True)``,
    `doctr/utils/metrics.py:154-181, 268-290`)."""
    from ..kernels.assignment import linear_sum_assignment

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernels.geometry import polygon_iou

        width = 8 if use_polygons else 4
        out = []
        for key, gt, pred in zip(pdf[page_key], pdf["gt_boxes"], pdf["pred_boxes"]):
            g = np.array([list(b) for b in gt], dtype=float) if len(gt) else np.zeros((0, width))
            p = np.array([list(b) for b in pred], dtype=float) if len(pred) else np.zeros((0, width))
            iou = polygon_iou(g, p) if use_polygons else box_iou(g, p)
            matched, sum_iou = 0, 0.0
            if iou.size:
                gi, pi = linear_sum_assignment(-iou)
                kept = iou[gi, pi] >= iou_thresh
                matched = int(kept.sum())
                sum_iou = float(iou[gi[kept], pi[kept]].sum())
            out.append((key, len(g), len(p), matched, sum_iou))
        return pd.DataFrame(out, columns=["page_key", "n_gt", "n_pred", "n_matched", "sum_iou"])

    return pairs.groupBy(page_key).applyInPandas(fn, LOC_SCHEMA)


def localization_confusion(
    pairs: DataFrame,
    page_key: str = "page_key",
    iou_thresh: float = 0.5,
) -> DataFrame:
    """Global recall/precision/meanIoU over the per-page Hungarian match
    (see :func:`localization_per_page`)."""
    per_page = localization_per_page(pairs, page_key, iou_thresh)
    return per_page.agg(
        F.sum("n_gt").cast("long").alias("n_gt"),
        F.sum("n_pred").cast("long").alias("n_pred"),
        F.round(F.sum("n_matched") / F.sum("n_gt"), 6).alias("recall"),
        F.round(F.sum("n_matched") / F.sum("n_pred"), 6).alias("precision"),
        F.round(F.sum("sum_iou") / F.sum("n_matched"), 6).alias("mean_iou"),
    )


TABLE_CELL_SCHEMA = "page_key string, n_gt long, n_pred long, n_matched long, n_struct long"


def table_cells_per_page(
    pairs: DataFrame, page_key: str = "page_key", iou_thresh: float = 0.5
) -> DataFrame:
    """Reference ``TableCellMetric`` per page (`doctr/utils/metrics.py:
    315-397`): Hungarian IoU assignment between ground-truth and predicted
    table cells; a pair counts as matched at IoU >= ``iou_thresh``, and as
    a STRUCTURE match when its logical coordinates
    [col_start, col_end, row_start, row_end] are exactly equal. ``pairs``
    holds one row per page with parallel array columns ``gt_cells`` /
    ``gt_logic`` and ``pred_cells`` / ``pred_logic`` (4-value boxes and
    4-value logic tuples). Same bounded-group applyInPandas shape as
    :func:`localization_per_page` — cells per page are dozens, so this
    cannot skew at corpus scale."""
    from ..kernels.assignment import linear_sum_assignment

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for key, gc, gl, pc, pl in zip(
            pdf[page_key], pdf["gt_cells"], pdf["gt_logic"], pdf["pred_cells"], pdf["pred_logic"]
        ):
            g = np.array([list(b) for b in gc], dtype=float) if len(gc) else np.zeros((0, 4))
            p = np.array([list(b) for b in pc], dtype=float) if len(pc) else np.zeros((0, 4))
            matched = struct = 0
            if len(g) and len(p):
                iou = box_iou(g, p)
                gi, pi = linear_sum_assignment(-iou)
                for a, b in zip(gi, pi):
                    if iou[a, b] >= iou_thresh:
                        matched += 1
                        if list(gl[a]) == list(pl[b]):
                            struct += 1
            out.append((key, len(g), len(p), matched, struct))
        return pd.DataFrame(out, columns=["page_key", "n_gt", "n_pred", "n_matched", "n_struct"])

    return pairs.groupBy(page_key).applyInPandas(fn, TABLE_CELL_SCHEMA)


DET_METRIC_SCHEMA = (
    "page_key string, n_gt long, n_pred long, n_matched long, sum_best_iou double"
)


def detection_metric_per_page(
    pairs: DataFrame, page_key: str = "page_key", iou_thresh: float = 0.5
) -> DataFrame:
    """Reference ``DetectionMetric`` per page (`doctr/utils/metrics.py:
    527-637`): Hungarian IoU assignment between ground-truth and predicted
    boxes where a match additionally requires CLASS equality, plus the
    per-prediction best-IoU sum (the reference's ``tot_iou`` is
    ``iou_mat.max(axis=0).sum()``, not the assignment IoU). ``pairs`` holds
    one row per page with parallel arrays ``gt_boxes``/``gt_labels`` and
    ``pred_boxes``/``pred_labels``."""
    from ..kernels.assignment import linear_sum_assignment

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for key, gb, gl, pb, pl in zip(
            pdf[page_key], pdf["gt_boxes"], pdf["gt_labels"], pdf["pred_boxes"], pdf["pred_labels"]
        ):
            g = np.array([list(b) for b in gb], dtype=float) if len(gb) else np.zeros((0, 4))
            p = np.array([list(b) for b in pb], dtype=float) if len(pb) else np.zeros((0, 4))
            matched, best_sum = 0, 0.0
            if len(g) and len(p):
                iou = box_iou(g, p)
                best_sum = float(iou.max(axis=0).sum())
                gi, pi = linear_sum_assignment(-iou)
                for a, b in zip(gi, pi):
                    if iou[a, b] >= iou_thresh and gl[a] == pl[b]:
                        matched += 1
            out.append((key, len(g), len(p), matched, best_sum))
        return pd.DataFrame(
            out, columns=["page_key", "n_gt", "n_pred", "n_matched", "sum_best_iou"]
        )

    return pairs.groupBy(page_key).applyInPandas(fn, DET_METRIC_SCHEMA)


_MAP_DET_SCHEMA = "cls long, thresh double, score double, tp int"


def object_detection_map(
    pairs: DataFrame,
    iou_thresholds: list[float] | None = None,
    use_polygons: bool = False,
) -> DataFrame:
    """Reference ``ObjectDetectionMetric`` (COCO-style mAP@[.5:.95],
    `doctr/utils/metrics.py:638-884`) re-expressed Spark-first.

    The reference sorts ALL detections of a class globally by confidence
    and greedily matches each against its image's unmatched ground truth.
    The matching state is PER IMAGE, so the greedy pass distributes: stage
    1 runs per image inside an Arrow batch (each image's detections sorted
    by descending score, argmax-IoU against that image's GT with matched
    flags, per threshold — bit-compatible with the reference's global
    iteration order because images share no state), emitting one
    ``(class, threshold, score, tp)`` row per detection. Stage 2 is the
    global part — exactly what Spark distributes well: a window cumsum
    over the score-descending sort per (class, threshold) builds the PR
    curve, a reverse running max interpolates precision, and the COCO
    101-point AP folds via each point's covered recall levels
    (``floor(r*100) - floor(prev_r*100)``). Classes present in the ground
    truth but never detected contribute AP = 0, like the reference.

    ``pairs`` holds one row per image: ``gt_boxes``/``gt_labels`` and
    ``pred_boxes``/``pred_labels``/``pred_scores``. Returns one row per
    IoU threshold with the class-mean AP; mAP@[.5:.95] is their mean.

    Each (class, threshold) PR curve is one window partition, so one task
    sorts all of a class's detections at that threshold. PLANS.md keeps
    the design of a distributed two-level fold for classes too large for
    one sort task; no declared input comes near that size.
    """
    import numpy as np
    from pyspark.sql.window import Window

    thresholds = (
        [round(float(t), 2) for t in np.arange(0.5, 1.0, 0.05)]
        if iou_thresholds is None
        else [float(t) for t in iou_thresholds]
    )

    def fn(batches):
        for pdf in batches:
            rows = []
            for gb, gl, pb, pl, ps in zip(
                pdf["gt_boxes"], pdf["gt_labels"], pdf["pred_boxes"],
                pdf["pred_labels"], pdf["pred_scores"],
            ):
                g = np.array([list(b) for b in gb], dtype=float) if len(gb) else np.zeros((0, 4))
                gl_a = np.asarray(list(gl), dtype=np.int64)
                p = np.array([list(b) for b in pb], dtype=float) if len(pb) else np.zeros((0, 4))
                pl_a = np.asarray(list(pl), dtype=np.int64)
                ps_a = np.asarray(list(ps), dtype=float)
                if use_polygons:
                    from ..kernels.geometry import polygon_iou as _piou
                for c in np.unique(pl_a):
                    gmask = gl_a == c
                    gc = g[gmask]
                    order = np.argsort(-ps_a[pl_a == c], kind="stable")
                    pc = p[pl_a == c][order]
                    sc = ps_a[pl_a == c][order]
                    if len(gc) and len(pc):
                        iou = _piou(gc, pc) if use_polygons else box_iou(gc, pc)
                    else:
                        iou = np.zeros((len(gc), len(pc)))
                    for t in thresholds:
                        matched = np.zeros(len(gc), dtype=bool)
                        for di in range(len(pc)):
                            tp = 0
                            if len(gc):
                                best = int(np.argmax(iou[:, di]))
                                if iou[best, di] >= t and not matched[best]:
                                    matched[best] = True
                                    tp = 1
                            rows.append((int(c), float(t), float(sc[di]), tp))
            yield pd.DataFrame(rows, columns=["cls", "thresh", "score", "tp"])

    det = pairs.select(
        "gt_boxes", "gt_labels", "pred_boxes", "pred_labels", "pred_scores"
    ).mapInPandas(fn, _MAP_DET_SCHEMA)

    totals = (
        pairs.select(F.explode("gt_labels").alias("cls"))
        .groupBy("cls")
        .agg(F.count("*").cast("double").alias("total_gt"))
    )

    w_lag = Window.partitionBy("cls", "thresh").orderBy(F.desc("score"))
    w = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_rev = w_lag.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    pr = (
        det.join(totals, "cls")
        .withColumn("tp_cum", F.sum("tp").over(w))
        .withColumn("k", F.row_number().over(w_lag))
        .withColumn("recall", F.col("tp_cum") / F.col("total_gt"))
        .withColumn("precision", F.col("tp_cum") / F.col("k"))
        .withColumn("p_interp", F.max("precision").over(w_rev))
        .withColumn("prev_recall", F.coalesce(F.lag("recall").over(w_lag), F.lit(-0.01)))
    )
    covered = F.greatest(
        F.lit(0.0),
        F.floor(F.col("recall") * 100 + 1e-9) - F.floor(F.col("prev_recall") * 100 + 1e-9),
    )
    ap = pr.groupBy("cls", "thresh").agg(
        (F.sum(F.col("p_interp") * covered) / 101.0).alias("ap")
    )
    # every GT class contributes at every threshold (AP=0 when undetected)
    grid = totals.crossJoin(
        local_frame(pairs.sparkSession, [(t,) for t in thresholds], "thresh double")
    )
    return (
        grid.join(ap, ["cls", "thresh"], "left")
        .groupBy("thresh")
        .agg(F.round(F.avg(F.coalesce("ap", F.lit(0.0))), 6).alias("mean_ap"))
        .select(F.round("thresh", 2).alias("iou_thresh"), "mean_ap")
    )


POLY_IOU_SCHEMA = "event_id long, iou double"


def polygon_iou_events(spark, sf_dir: str) -> DataFrame:
    """Rotated-box IoU through the Sutherland-Hodgman clip kernel
    (`kernels.geometry.polygon_iou`, reference `doctr/utils/metrics.py:
    154-181`) over deterministic pairs derived from events. Both boxes of a
    pair rotate RIGIDLY by (event_id % 12) * 15 deg about (0.5, 0.5), so
    the exact polygon IoU equals the straight-box IoU of the unrotated
    pair — which makes the clip kernel checkable against a pure-arithmetic
    DuckDB oracle with no staging."""
    from ..kernels.geometry import polygon_iou, rotate_polygon

    from ..io.sources import scan_parallel

    ev = scan_parallel(spark.read.parquet(f"{sf_dir}/events.parquet"))
    a_x0 = (F.col("event_id") * 13 % 100) / 100.0
    a_y0 = (F.col("event_id") * 29 % 100) / 100.0
    b_x0 = (F.col("event_id") * 17 % 100) / 100.0
    b_y0 = (F.col("event_id") * 31 % 100) / 100.0
    boxed = ev.select(
        "event_id",
        F.array(a_x0, a_y0, a_x0 + 0.2, a_y0 + 0.1).alias("box_a"),
        F.array(b_x0, b_y0, b_x0 + 0.15, b_y0 + 0.12).alias("box_b"),
        (F.col("event_id") % 12 * 15.0).alias("angle"),
    )

    def fn(batches):
        for pdf in batches:
            ious = []
            for a, b, ang in zip(pdf["box_a"], pdf["box_b"], pdf["angle"]):
                pa = np.array([[a[0], a[1]], [a[2], a[1]], [a[2], a[3]], [a[0], a[3]]])
                pb = np.array([[b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]]])
                ra = rotate_polygon(pa, float(ang), (0.5, 0.5))
                rb = rotate_polygon(pb, float(ang), (0.5, 0.5))
                ious.append(round(float(polygon_iou(ra[None], rb[None])[0, 0]), 6))
            yield pd.DataFrame({"event_id": pdf["event_id"], "iou": ious})

    return boxed.mapInPandas(fn, POLY_IOU_SCHEMA).where(F.col("iou") > 0)


def geometry_iou_events(spark, sf_dir: str) -> DataFrame:
    """Both IoU primitives in one driver slot (the driver caps correctness
    rows at 50 queries): the native-expression straight-box IoU and the
    Sutherland-Hodgman rotated-polygon IoU over the same deterministic
    pairs, union-tagged by kind."""
    box = box_iou_events(spark, sf_dir).select(
        F.lit("box").alias("kind"), "event_id", "iou"
    )
    poly = polygon_iou_events(spark, sf_dir).select(
        F.lit("polygon").alias("kind"), "event_id", "iou"
    )
    return box.unionByName(poly)


GEOM_IOU_ORACLE = f"""
SELECT k.kind, b.event_id, b.iou
FROM ({BOX_IOU_ORACLE}) b
CROSS JOIN (SELECT unnest(['box', 'polygon']) AS kind) k
"""
