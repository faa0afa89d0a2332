"""Structured Streaming: incremental extraction, watermarked windowed
metrics, and the applyInPandasWithState per-conversation accumulator."""

from pyspark.sql import functions as F  # noqa: N812

from doctr_spark.fixtures.payloads import PAYLOAD_MARK
from doctr_spark.fixtures.transcripts import generate_transcripts
from doctr_spark.operators.pipeline import extract_documents
from doctr_spark.streaming.stream import (
    stream_conversation_state,
    stream_extraction,
    stream_turn_metrics,
)


def test_stream_extraction_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = generate_transcripts(spark, 6)
    first.write.mode("append").parquet(inp)
    q = stream_extraction(spark, inp, out, ckpt)
    q.awaitTermination(300)

    expected1 = extract_documents(spark.read.parquet(inp)).count()
    assert spark.read.parquet(out).count() == expected1

    # new files arrive; a fresh availableNow run processes ONLY them
    generate_transcripts(spark, 12).where("conv_id > 'conv0000005'").write.mode("append").parquet(inp)
    q2 = stream_extraction(spark, inp, out, ckpt)
    q2.awaitTermination(300)

    total_expected = extract_documents(spark.read.parquet(inp)).count()
    got = spark.read.parquet(out)
    assert got.count() == total_expected  # no duplicates from the first batch
    assert got.select("conv_id", "turn_idx").distinct().count() == total_expected


def test_stream_turn_metrics_watermarked(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    tdf = generate_transcripts(spark, 10)
    tdf.write.mode("append").parquet(inp)
    q = stream_turn_metrics(spark, inp, out, ckpt, window="1 hour", watermark="0 seconds")
    q.awaitTermination(300)
    # append mode withholds windows the watermark hasn't passed (those at
    # the stream's event-time frontier); a far-future sentinel row pushes
    # the watermark so every real window finalizes on the second trigger
    sentinel = spark.createDataFrame(
        [("sentinel", 0, "user", "tick", None, __import__("datetime").datetime(2030, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    sentinel.write.mode("append").parquet(inp)
    q2 = stream_turn_metrics(spark, inp, out, ckpt, window="1 hour", watermark="0 seconds")
    q2.awaitTermination(300)

    got = spark.read.parquet(out).where("window_start < timestamp'2029-01-01'")
    batch = (
        tdf.groupBy(F.window("ts", "1 hour").alias("win"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("text").contains(PAYLOAD_MARK).cast("long")).alias("n_payload_turns"),
        )
    )
    assert got.agg(F.sum("n_turns")).first()[0] == tdf.count()
    assert got.count() == batch.count()
    assert (
        got.agg(F.sum("n_payload_turns")).first()[0]
        == batch.agg(F.sum("n_payload_turns")).first()[0]
    )


def test_stream_conversation_state_accumulates(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    full = generate_transcripts(spark, 8)
    half_a = full.where("turn_idx % 2 = 0")
    half_b = full.where("turn_idx % 2 = 1")
    half_a.write.mode("append").parquet(inp)
    q = stream_conversation_state(spark, inp, out, ckpt)
    q.awaitTermination(300)

    # restart with more data: the state store must carry the old totals
    half_b.write.mode("append").parquet(inp)
    q2 = stream_conversation_state(spark, inp, out, ckpt)
    q2.awaitTermination(300)

    got = spark.read.parquet(out)
    # latest row per conversation = full batch totals
    # per-conversation counters are monotone across micro-batches, so max ==
    # latest (orderBy + F.last is NOT shuffle-stable and can flake)
    latest = got.groupBy("conv_id").agg(
        F.max("n_turns").alias("n_turns"),
        F.max("n_payload_turns").alias("n_payload_turns"),
    )
    expected = full.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("text").contains(PAYLOAD_MARK).cast("long")).alias("n_payload_turns"),
    )
    diff = latest.exceptAll(expected).count() + expected.exceptAll(latest).count()
    assert diff == 0
