"""Structured Streaming front-end for the extraction pipeline.

The reference has no streaming semantics (SURVEY.md §2.10) and the north
rule is batch, but continuously-arriving transcript files are the natural
production shape, so the engine also exposes:

* the batch pipeline as a `foreachBatch` sink (`stream_extraction`) —
  exactly-once via file-source offsets + idempotent per-batch overwrite;
* a watermarked event-time windowed aggregation (`stream_turn_metrics`) —
  the late-data-tolerant throughput/lineage metrics feed;
* a custom stateful operator (`stream_conversation_state`,
  `applyInPandasWithState`) — per-conversation running extraction totals
  that survive across micro-batches and restarts through the state store.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.streaming import StreamingQuery

from ..fixtures.payloads import PAYLOAD_MARK
from ..fixtures.transcripts import TRANSCRIPTS_SCHEMA
from ..operators.pipeline import extract_documents


def _source(spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """Watch ``input_dir`` for transcript parquet files and extract them
    incrementally. Returns the started StreamingQuery; AQE sizes each
    micro-batch's extraction stage."""

    def process_batch(batch_df, batch_id: int) -> None:
        docs = extract_documents(batch_df)
        # idempotent per micro-batch: a replayed batch (crash after write,
        # before the offset commit) overwrites its own batch directory
        # instead of appending duplicates — this is what makes foreachBatch
        # + file-source offsets exactly-once
        docs.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    return (
        _source(spark, input_dir, max_files_per_trigger)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_turn_metrics(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Event-time turn/payload counts per (window, role) with a watermark:
    turns arriving later than ``watermark`` past the max seen `ts` are
    dropped and their window finalized — the standard late-data contract
    for a metrics feed over an unbounded transcript stream. Append mode:
    a window row is emitted exactly once, when the watermark passes it."""
    agg = (
        _source(spark, input_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("text").contains(PAYLOAD_MARK).cast("long")).alias("n_payload_turns"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "role",
            "n_turns",
            "n_payload_turns",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


CONV_STATE_SCHEMA = "n_turns long, n_payload_turns long, last_ts timestamp"
CONV_OUT_SCHEMA = (
    "conv_id string, n_turns long, n_payload_turns long, last_ts timestamp, batch_new long"
)


def _conv_state_fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Running per-conversation totals: state persists in the state store
    across micro-batches AND across restarts (checkpointed)."""
    n_turns, n_payload, last_ts = state.get if state.exists else (0, 0, None)
    new = 0
    for pdf in pdfs:
        new += len(pdf)
        n_payload += int(pdf["text"].str.contains(PAYLOAD_MARK, regex=False).sum())
        ts_max = pdf["ts"].max()
        last_ts = ts_max if last_ts is None or ts_max > last_ts else last_ts
    n_turns += new
    state.update((n_turns, n_payload, last_ts))
    yield pd.DataFrame(
        [(key[0], n_turns, n_payload, last_ts, new)],
        columns=["conv_id", "n_turns", "n_payload_turns", "last_ts", "batch_new"],
    )


def stream_conversation_state(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Custom stateful operator (`applyInPandasWithState`): one updated row
    per conversation per micro-batch carrying its running turn/payload
    totals — the arbitrary-state path the built-in windowed aggregates
    can't express (per-key monotone counters with custom merge logic)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    updates = (
        _source(spark, input_dir)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _conv_state_fn,
            outputStructType=CONV_OUT_SCHEMA,
            stateStructType=CONV_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    return (
        updates.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
