"""End-to-end evaluation CLI: dataset archive -> extraction -> OCR metrics.

The reference treats `scripts/evaluate.py:23-188` as its primary
correctness oracle: run the full predictor over a labeled dataset
(FUNSD/CORD GT) and report TextMatch + LocalizationConfusion. This is that
flow on Spark: the OCRDataset-format archive is read DISTRIBUTED — labels
via `doctr_spark.io.datasets.load_ocr_dataset` (native JSON parse), images
via the binaryFile source with the raw PNG bytes wrapped into payloads by
a pure column expression (no Python touches the pixels until the
pipeline's own Arrow stages) — and the metrics are the engine's own
Hungarian localization + text-match operators.

Usage:
    python tools/evaluate.py <img_folder> <labels.json>

Prints one JSON line:
    {"n_images": N, "exact_rate": ..., "caseless_rate": ...,
     "recall": ..., "precision": ..., "mean_iou": ...}
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F  # noqa: N812


def evaluate(spark: SparkSession, img_folder: str, label_file: str) -> dict:
    import os

    from doctr_spark.io.datasets import load_ocr_dataset
    from doctr_spark.operators.detect import detect_boxes
    from doctr_spark.operators.metrics import localization_confusion, text_match
    from doctr_spark.operators.pipeline import extract_documents

    # the text-metrics join keys the label table's img_path (img_folder +
    # file name; names in the label file must match the files on disk)
    # against binaryFile's absolute 'file:'-stripped path — normalize so a
    # relative img_folder cannot silently miss every join
    img_folder = os.path.abspath(img_folder)

    gt = load_ocr_dataset(spark, img_folder, label_file).select(
        F.col("img_path").alias("conv_id"),
        F.array_join("labels", " ").alias("gt_text"),
        F.col("boxes").alias("gt_boxes"),
    )

    # images -> transcript-shaped rows; the PNG bytes go straight into the
    # payload column (decode_page auto-detects the PNG signature), so the
    # whole read side is native expressions
    tdf = (
        spark.read.format("binaryFile")
        .load(f"{img_folder}/*.png")
        .select(
            F.regexp_replace("path", "^file:", "").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(
                F.lit("document payload: <doc:img>"),
                F.base64("content"),
                F.lit("</doc:img>"),
            ).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )

    # token-stream comparison: the page render separates lines with \n,
    # the flat label list with spaces — whitespace shape is layout, not text
    docs = extract_documents(tdf).select(
        "conv_id",
        F.regexp_replace("extracted_text", r"\s+", " ").alias("extracted_text"),
    )

    # detection rows carry relative boxes + page dims; GT geometry is absolute
    preds = (
        detect_boxes(tdf)
        .where(F.col("word_idx") >= 0)
        .groupBy("conv_id")
        .agg(
            F.collect_list(
                F.array(
                    F.col("xmin") * F.col("page_w"),
                    F.col("ymin") * F.col("page_h"),
                    F.col("xmax") * F.col("page_w"),
                    F.col("ymax") * F.col("page_h"),
                )
            ).alias("pred_boxes")
        )
    )
    pairs = gt.join(preds, "conv_id", "left").select(
        F.col("conv_id").alias("page_key"),
        "gt_boxes",
        F.coalesce("pred_boxes", F.array().cast("array<array<double>>")).alias("pred_boxes"),
    )
    t = text_match(gt.join(docs, "conv_id", "left"), pred="extracted_text", gt="gt_text").first()
    m = localization_confusion(pairs).first()
    return {
        "n_images": t["n"],
        "exact_rate": t["raw"],
        "caseless_rate": t["caseless"],
        "recall": m["recall"],
        "precision": m["precision"],
        "mean_iou": m["mean_iou"],
    }


if __name__ == "__main__":
    from doctr_spark.session import get_spark

    img_folder, label_file = sys.argv[1], sys.argv[2]
    spark = get_spark(master="local[8]", app_name="doctr_spark_evaluate", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(evaluate(spark, img_folder, label_file)))
    spark.stop()
