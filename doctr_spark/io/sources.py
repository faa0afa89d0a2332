"""Input-table construction.

Production input is an Iceberg table of transcripts
(`spark.read.table("catalog.db.transcripts")`); this sandbox has no Iceberg
catalog jar, so readers fall back to parquet paths with the same schema.
`transcripts_from_documents` derives a payload-bearing transcript table from
the driver-provided `documents` parquet — the embedded HTML payload carries
the document's (already-clean) token stream, so the expected extraction
output is expressible in pure SQL and serves as the DuckDB oracle for the
whole detection->recognition->reconstruction pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812

# Shared cleaning expression: documents.text -> the exact token stream the
# extraction pipeline should emit (single-space separated). The DuckDB
# twin of this expression lives in __spark_entry__.oracle_sql().
def clean_tokens(col):
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " "))


def scan_parallel(df: DataFrame, *keys) -> DataFrame:
    """Input-parallelism guard for small or unsplittable scans (guide
    §2.5, "input skew"): a table that fits one file split would otherwise
    run its ENTIRE map side — shingle explodes + md5 minhashing, cosine
    folds, per-row array walks — in a single task, leaving every other
    core idle. When the scan yields fewer partitions than
    ``defaultParallelism``, repartition the (tiny, by construction) input
    once; at scale the scan already has more splits than cores and this
    is the identity, so no shuffle is ever added to a large input.

    ``keys``: when the consumer aggregates by a key, pass it — the
    repartition then hashes on that key, by column, so the downstream
    groupBy REUSES this exchange (guide §2.4: repartition(k) + groupBy(k)
    share one shuffle), the per-key compute runs parallel with ZERO
    additional exchanges, and AQE sizes its task count as it sizes the
    extraction exchange (`pipeline.payload_source`). Without keys, a
    round-robin spread over the cores (right for map-only consumers).

    Results are unaffected: every consumer is a projection, aggregation
    or join, none of which depend on row placement."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    if keys:
        return df.repartition(*keys)
    return df.repartition(p)


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Read a transcripts table (parquet dir or Iceberg table name)."""
    if "/" not in path:
        return spark.read.table(path)
    return spark.read.parquet(path)


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive `input_hint`-shaped transcripts from documents.parquet.

    conv_id = source, turn_idx = rank of doc_id within source; the text field
    embeds the document tokens as an HTML payload (with boilerplate chrome
    that the decode stage must strip).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("source").orderBy("doc_id")
    return docs.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit("document payload: <doc:html><html><body><header>chrome nav</header><p>"),
            clean_tokens(F.col("text")),
            F.lit("</p><footer>footer chrome</footer></body></html></doc:html>"),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(mins=F.col("doc_id"))).alias("ts"),
    )
