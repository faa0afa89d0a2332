"""Harness-hygiene guarantees (VERDICT r4 item 6): stale archive scratch is
cleared per dataset, the evaluate CLI survives a relative img_folder, and
the pair-list operators and the plan capture tool start no query job."""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def test_dataset_loaders_clears_stale_archives(spark):
    """A leftover annotation from a prior run with different parameters must
    not leak into the loaded rows: dataset_loaders rmtrees each dataset's
    scratch before fabricating."""
    import __spark_entry__ as entry

    base = f"{entry.ORACLE_SCRATCH}/.archives/funsd/dataset/training_data"
    os.makedirs(f"{base}/annotations", exist_ok=True)
    os.makedirs(f"{base}/images", exist_ok=True)
    # plant a stale annotated image that the glob-based loader WOULD pick up
    stale = {"form": [{"text": "stale", "box": [0, 0, 9, 9], "label": "other", "id": 0,
                       "words": [{"text": "stalely", "box": [1, 1, 8, 8]}]}]}
    with open(f"{base}/annotations/zzz_stale.json", "w") as f:
        json.dump(stale, f)
    open(f"{base}/images/zzz_stale.png", "wb").close()

    df = entry.dataset_loaders(spark, SF)
    rows = df.collect()
    assert len(rows) == 36  # 6 datasets x 6 fabricated images, no stragglers
    assert not any("zzz_stale" in r.img_path for r in rows)
    assert not any("stalely" in r.labels_cat for r in rows)


def test_evaluate_accepts_relative_img_folder(spark, tmp_path, monkeypatch):
    """The metrics join keys absolute binaryFile paths against the label
    table's img_path; a relative img_folder must be normalized, not
    silently miss every join (null metrics)."""
    from doctr_spark.fixtures.archives import fabricate_ocr_rendered
    from tools.evaluate import evaluate

    root = tmp_path / "ds"
    fabricate_ocr_rendered(str(root), n_imgs=3)
    monkeypatch.chdir(tmp_path)
    out = evaluate(spark, "ds/images", str(root / "labels.json"))
    assert out["n_images"] == 3
    for k in ("exact_rate", "caseless_rate", "recall", "precision", "mean_iou"):
        assert out[k] is not None and out[k] == pytest.approx(1.0, abs=0.2)


def _jobs_started(spark, group, fn):
    """``fn()`` and the number of Spark jobs it started, counted in a fresh
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "op, table",
    [
        ("dedup.minhash_lsh_pairs", "documents"),
        ("dedup.ngram_jaccard_pairs", "documents"),
        ("similarity.embedding_near_dups", "embeddings"),
    ],
)
def test_pair_lists_build_lazily(spark, op, table):
    """Building a pair list starts no more jobs than reading its input's
    schema: the bucket and document-frequency caps are windows inside the
    plan, so there is no eager persist, count or broadcast key set, and the
    frame is not cached."""
    import importlib

    from pyspark import StorageLevel

    module, name = op.split(".")
    fn = getattr(importlib.import_module(f"doctr_spark.operators.{module}"), name)
    _, read_jobs = _jobs_started(spark, f"read-{op}", lambda: spark.read.parquet(f"{SF}/{table}.parquet"))
    df, build_jobs = _jobs_started(spark, f"build-{op}", lambda: fn(spark, SF))
    assert build_jobs <= read_jobs
    assert df.storageLevel == StorageLevel.NONE
    # size-based broadcasts of the tiny test tables are off, so a
    # BroadcastExchange here can only come from the operator itself
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, threshold)
    assert "Window" in plan and "BroadcastExchange" not in plan


def test_plan_capture_runs_no_query(spark):
    """`tools/capture_plans.py` only plans: a declared query's expectation
    write is stubbed, and the q3 pair list starts nothing beyond its input's
    schema read."""
    from tools import capture_plans

    sf = capture_plans.SF_DIR
    _, read_jobs = _jobs_started(spark, "capture-read", lambda: spark.read.parquet(f"{sf}/documents.parquet"))
    for name, most in (("ocr_artefacts", 0), ("q3_dedup_minhash_lsh", read_jobs)):
        plan, jobs = _jobs_started(spark, f"capture-{name}", lambda: capture_plans.explain(name, spark))
        assert plan and jobs <= most, (name, jobs)
