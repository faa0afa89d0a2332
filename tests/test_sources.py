"""Input-table construction (io/sources.py): both read_transcripts
branches — parquet path AND catalog table name (the production Iceberg
entry, `spark.read.table`) — feed the identical pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from doctr_spark.io.sources import read_transcripts, transcripts_from_documents

SF_DIR = "/root/testdata/sf0.001"


def test_read_transcripts_parquet_branch(spark, tmp_path):
    t = transcripts_from_documents(spark, SF_DIR)
    path = str(tmp_path / "transcripts_pq")
    t.write.mode("overwrite").parquet(path)
    got = read_transcripts(spark, path)
    assert got.columns == t.columns
    assert got.count() == t.count()


def test_read_transcripts_table_branch(spark):
    """A '/'-free input routes through spark.read.table — the production
    Iceberg seam. The sandbox has no Iceberg jar, so a catalog-registered
    (temp view) table stands in; the point is that the table entry is
    live code with the same schema contract, not a dead branch."""
    t = transcripts_from_documents(spark, SF_DIR)
    t.createOrReplaceTempView("transcripts_seam")
    try:
        got = read_transcripts(spark, "transcripts_seam")
        assert got.columns == t.columns
        n = got.where(F.col("text").contains("<doc:")).count()
        assert n == t.count() > 0
    finally:
        spark.catalog.dropTempView("transcripts_seam")


def test_keyed_scan_guard_is_aqe_sized(spark):
    """A keyed scan guard on a one-split input is a by-column hash
    repartition on the key, which AQE may coalesce, and the per-document
    aggregation reuses it: no fixed-count exchange in the plan."""
    from doctr_spark.operators.dedup import _doc_signatures, simhash
    from doctr_spark.operators.text_analysis import char_entropy

    assert spark.read.parquet(f"{SF_DIR}/documents.parquet").rdd.getNumPartitions() < (
        spark.sparkContext.defaultParallelism
    )
    for op in (_doc_signatures, simhash, char_entropy):
        plan = op(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(doc_id#" in plan, (op.__name__, plan)
        assert "REPARTITION_BY_COL" in plan, (op.__name__, plan)
        assert "REPARTITION_BY_NUM" not in plan, (op.__name__, plan)
        assert "ENSURE_REQUIREMENTS" not in plan, (op.__name__, plan)
