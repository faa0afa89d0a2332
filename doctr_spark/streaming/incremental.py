"""Checkpointed, resumable extraction runs.

The 10^12-turn job must survive restarts without recomputing finished work
(north rule: "resumable from checkpoint with per-partition lineage +
metrics"). Design — the Spark/Iceberg-native equivalent of a streaming
checkpoint, with no state store:

* input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` — a stable,
  data-independent partitioning (conversations never straddle buckets, so
  per-turn outputs are complete per bucket);
* remaining buckets are processed in group passes (default: ALL remaining
  buckets in ONE pass). Each pass makes one scan of the input and writes
  the extraction output ``partitionBy("bucket")`` under dynamic partition
  overwrite (idempotent redo), then appends one manifest row per bucket
  ``(bucket, status, n_turns, n_words, started_at, finished_at, run_id)``.
  The manifest append is the commit point, so a crash mid-pass redoes at
  most one pass. ``buckets_per_pass`` trades input rescans (ceil(todo /
  group) scans of a 100 TB table) against redo granularity — the round-1
  design was the degenerate group=1 case: 16 full input scans;
* on restart, remaining work = all buckets anti-joined against
  ``manifest.status = 'done'``.

A run is not one Spark job. AQE runs each shuffle as a job of its own,
so a run makes:

* the done-bucket probe: 2 jobs (shuffle, collect) over the manifest read
  with ``MANIFEST_SCHEMA``, or none before the first commit;
* per pass, the extraction write: 2 jobs (the repartition's shuffle, the
  write);
* per pass, the stats read-back of the group's partition directories: 2
  jobs (shuffle, collect), read with ``STATS_SCHEMA``;
* per pass, the manifest append: 1 job over a driver-side
  ``LocalTableScan``.

No step infers a schema, and only the extraction kernel starts a Python
worker.

On Iceberg the manifest is a table and each bucket commit is a snapshot;
here it is a parquet directory with one file per pass commit, which has
the same append-only, idempotent-redo semantics.
"""
from __future__ import annotations

import datetime as dt

import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..session import local_frame

MANIFEST_SCHEMA = (
    "bucket int, status string, n_turns long, n_words long, "
    "started_at timestamp, finished_at timestamp, run_id string"
)
# the two output columns the per-bucket stats read back
STATS_SCHEMA = "n_words int, bucket int"


def with_bucket(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    return transcripts.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, manifest_dir: str) -> list[int]:
    # probe through Spark's filesystem layer (works on HDFS/S3/local alike,
    # unlike os.path which would silently disable resume on a cluster)
    try:
        m = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":  # no manifest yet
            return []
        raise
    # a few rows per commit: dedupe on the driver, not with a shuffle
    return sorted({r["bucket"] for r in m.where(F.col("status") == "done").select("bucket").collect()})


def extract_bucketed(transcripts: DataFrame, n_buckets: int, buckets: list[int]) -> DataFrame:
    """One-scan extraction of the given buckets, with the bucket column
    re-derived on the output (conversations never straddle buckets, so the
    same hash expression keys both sides)."""
    from doctr_spark.operators.pipeline import extract_documents

    bucketed = with_bucket(transcripts, n_buckets)
    part = bucketed.where(F.col("bucket").isin([int(b) for b in buckets])).drop("bucket")
    return with_bucket(extract_documents(part), n_buckets)


def _group_partition_paths(spark: SparkSession, output_dir: str, group: list[int]) -> list[str]:
    """The ``bucket=<b>`` partition directories this pass wrote, existence-
    checked through Spark's filesystem layer (HDFS/S3/local alike). A
    bucket with zero rows writes no directory under dynamic overwrite."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    paths = []
    for b in group:
        p = jvm.org.apache.hadoop.fs.Path(f"{output_dir}/bucket={int(b)}")
        if p.getFileSystem(conf).exists(p):
            paths.append(f"{output_dir}/bucket={int(b)}")
    return paths


def group_stats_read(spark: SparkSession, output_dir: str, group: list[int]) -> DataFrame | None:
    """Per-bucket stats over ONLY the group's partition directories.

    Reading ``output_dir`` wholesale would re-list the entire output tree
    (every bucket ever written) on every pass — at many-bucket scale the
    listing, not the scan, dominates. Loading the explicit ``bucket=<b>``
    paths keeps the read to exactly the files this pass produced;
    ``basePath`` preserves the partition column in the schema. Returns
    None when every bucket in the group was empty (no directories)."""
    paths = _group_partition_paths(spark, output_dir, group)
    if not paths:
        return None
    return (
        spark.read.schema(STATS_SCHEMA)
        .option("basePath", output_dir)
        .parquet(*paths)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_turns"), F.sum("n_words").alias("n_words"))
    )


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    manifest_dir: str,
    n_buckets: int = 16,
    fail_after: int | None = None,
    buckets_per_pass: int | None = None,
) -> int:
    """Process all not-yet-done buckets; returns the number processed.

    ``fail_after`` crashes the run after N bucket commits (test hook for
    the resume-from-checkpoint path).
    """
    run_id = uuid.uuid4().hex[:12]
    done = set(completed_buckets(spark, manifest_dir))
    todo = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    group_size = buckets_per_pass or max(len(todo), 1)

    overwrite_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        processed = 0
        for i in range(0, len(todo), group_size):
            group = todo[i : i + group_size]
            # aware: local_frame reads timestamps in the session time zone
            started = dt.datetime.now(dt.timezone.utc)
            docs = extract_bucketed(transcripts, n_buckets, group)
            docs.write.mode("overwrite").partitionBy("bucket").parquet(output_dir)
            # stats from the files just written: a second action on `docs`
            # would re-run the whole extraction lineage for this pass, and
            # the read touches only this group's partition paths (a
            # whole-dir read would re-list every bucket ever written)
            stats_df = group_stats_read(spark, output_dir, group)
            written = stats_df.collect() if stats_df is not None else []
            stats = {int(r["bucket"]): (int(r["n_turns"]), int(r["n_words"] or 0)) for r in written}
            finished = dt.datetime.now(dt.timezone.utc)
            manifest_rows = local_frame(
                spark,
                [(b, "done", *stats.get(b, (0, 0)), started, finished, run_id) for b in group],
                MANIFEST_SCHEMA,
            )
            # one file per commit: the done probe of every restart reads them all
            manifest_rows.coalesce(1).write.mode("append").parquet(manifest_dir)
            processed += len(group)
    finally:
        if overwrite_mode is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", overwrite_mode)
    return processed
