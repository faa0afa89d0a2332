"""SparkSession factory with the engine's tuning defaults."""

from __future__ import annotations

import os
import sys
import zipimport

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .config import ARROW_MAX_RECORDS, DEFAULT_SHUFFLE_PARTITIONS


def get_spark(
    master: str | None = None,
    app_name: str = "doctr_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session with AQE + Arrow enabled.

    ``shuffle_partitions`` defaults to ``max(DEFAULT_SHUFFLE_PARTITIONS,
    2 * defaultParallelism)``.

    On a real cluster the same config ships via spark-submit; ``master``
    here defaults to ``local[N]`` from $SPARK_GRAFT_CPUS for sandbox runs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE sizes the extraction exchange (pipeline.extract_rows): with
        # parallelismFirst it aims at about one partition per core (never
        # more than shuffle.partitions), and this floor keeps a tiny input
        # in few tasks, since each Python task costs a fixed worker setup:
        # ~60 ms of worker time once prune_zip_finders has run in the
        # worker, ~0.25 s before (4 cores, tools/probe_task_overhead.py)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # the crop/page shuffles are the engine's dominant memory traffic
        # and the 32-core regime is bandwidth-saturated (BENCH.md round-5
        # adjudication: ~90 GB/s bus ceiling): zstd's denser shuffle blocks
        # measured 10-19% faster extraction at 32 cores than lz4 and a
        # wash at 8 — fewer bytes through the bus beats cheaper cycles
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        # image-bearing rows are large: keep broadcast small-dim joins on,
        # but never try to broadcast page/crop tables
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None and "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        # AQE only merges partitions, so this count caps the tasks of the
        # extraction exchange (pipeline.extract_rows): grow it with the cores
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(DEFAULT_SHUFFLE_PARTITIONS, 2 * cores)))
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side table as a relation built in the driver JVM.

    ``spark.createDataFrame(<python list>)`` plans a pickled Python RDD
    (``Scan ExistingRDD``), so its first action starts a second pyspark
    daemon and a Python worker per partition just to hand the rows to the
    JVM. A pandas frame under the Arrow setting of `get_spark` plans as a
    ``LocalTableScan`` instead. pyspark sends an empty pandas frame down
    the list path, so zero rows go as an empty Arrow table, which also
    plans as a ``LocalTableScan``. The DDL ``schema`` fixes every type, so
    nothing is inferred. Arrow reads timestamps in the session time zone (UTC):
    pass aware datetimes, since a naive one would not keep its instant.
    """
    struct = StructType.fromDDL(schema)
    pdf = pd.DataFrame(rows, columns=struct.names)
    if pdf.empty:
        return spark.createDataFrame(to_arrow_schema(struct).empty_table(), struct)
    return spark.createDataFrame(pdf, struct)


def prune_zip_finders() -> None:
    """Drop every `zipimporter` from this process's `sys.path_importer_cache`.

    pyspark's worker calls `importlib.invalidate_caches()` at the start of
    every task, and under CPython 3.11 each cached zipimporter then re-reads
    its archive's whole directory: pyspark.zip, the py4j zip and the
    spark-core jar, ~0.24 s of worker time per task for the 16 a worker
    holds (4-core box). The cache belongs to the reused worker process, so
    one call in a UDF body spares every later task on that worker. An
    import that needs a zip path entry re-creates its finder from
    zipimport's own directory cache, so imports stay correct.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)
