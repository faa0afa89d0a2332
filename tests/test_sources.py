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


def test_shuffle_partitions_parses_config_safely():
    """`spark.sql.shuffle.partitions` as managed platforms set it: a count,
    ``auto`` or nothing; the last two fall back to defaultParallelism.
    Spark-free: a stand-in session carries only the two fields read."""
    from types import SimpleNamespace

    from doctr_spark.io.sources import shuffle_partitions

    def session(value):
        conf = {} if value is None else {"spark.sql.shuffle.partitions": value}
        return SimpleNamespace(
            conf=SimpleNamespace(get=conf.get),
            sparkContext=SimpleNamespace(defaultParallelism=6),
        )

    assert shuffle_partitions(session("16")) == 16
    assert shuffle_partitions(session("auto")) == 6
    assert shuffle_partitions(session(None)) == 6
