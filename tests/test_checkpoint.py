"""Resumable checkpointed execution: manifest anti-join on restart."""

import os
import time

import pytest
from pyspark.sql import functions as F  # noqa: N812

from doctr_spark.fixtures.transcripts import generate_transcripts
from doctr_spark.operators.pipeline import extract_documents
from doctr_spark.streaming.incremental import completed_buckets, run_checkpointed


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, 12)


def test_checkpoint_resume(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    n_buckets = 4

    # first run crashes after 2 buckets
    done1 = run_checkpointed(spark, transcripts, out, manifest, n_buckets=n_buckets, fail_after=2)
    assert done1 == 2
    assert len(completed_buckets(spark, manifest)) == 2

    # resume: only the remaining buckets run
    done2 = run_checkpointed(spark, transcripts, out, manifest, n_buckets=n_buckets)
    assert done2 == n_buckets - 2
    assert sorted(completed_buckets(spark, manifest)) == list(range(n_buckets))

    # checkpointed output == single-shot output
    full = extract_documents(transcripts)
    chunked = spark.read.parquet(out)
    assert chunked.count() == full.count()
    diff = (
        chunked.select("conv_id", "turn_idx", "extracted_text")
        .exceptAll(full.select("conv_id", "turn_idx", "extracted_text"))
        .count()
    )
    assert diff == 0

    # manifest carries lineage + metrics
    m = spark.read.parquet(manifest)
    row = m.first()
    assert row["status"] == "done"
    assert row["run_id"] is not None
    assert m.agg(F.sum("n_turns")).first()[0] == full.count()


def test_rerun_is_noop(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    run_checkpointed(spark, transcripts, out, manifest, n_buckets=2)
    assert run_checkpointed(spark, transcripts, out, manifest, n_buckets=2) == 0


def test_one_pass_scans_input_once(spark, transcripts):
    """A multi-bucket pass must be a single plan branch over the input —
    the round-1 design rescanned the full input once per bucket."""
    from doctr_spark.streaming.incremental import extract_bucketed

    docs = extract_bucketed(transcripts, 4, [0, 1, 2, 3])
    plan = docs._jdf.queryExecution().optimizedPlan().toString()
    # the synthetic source is a Range scan; exactly one of them
    assert plan.count("Range (") == 1


def test_grouped_passes_commit_per_group(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    done = run_checkpointed(
        spark, transcripts, out, manifest, n_buckets=4, buckets_per_pass=2
    )
    assert done == 4
    m = spark.read.parquet(manifest)
    assert m.count() == 4
    # two passes -> two distinct commit timestamps
    assert m.select("finished_at").distinct().count() == 2
    # and one manifest file per commit
    parts = [f for f in os.listdir(manifest) if f.startswith("part-")]
    assert len(parts) == 2, parts


def test_corrupt_manifest_fails_loudly(spark, transcripts, tmp_path):
    """A manifest file that cannot be read must fail the run, not read as
    "no manifest yet": that would redo every bucket and append a second
    `done` row for each."""
    out = str(tmp_path / "out")
    manifest = tmp_path / "manifest"
    manifest.mkdir()
    (manifest / "part-00000-truncated.snappy.parquet").write_bytes(b"PAR1\x15\x00")
    before = sorted(os.listdir(manifest))
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_checkpointed(spark, transcripts, out, str(manifest), n_buckets=2)
    assert sorted(os.listdir(manifest)) == before


def test_manifest_timestamps_keep_their_instant(spark, transcripts, tmp_path, monkeypatch):
    """Under a driver time zone other than the session's (UTC), the
    manifest's started_at/finished_at still bracket the run's wall-clock
    instant."""
    out, manifest = str(tmp_path / "out"), str(tmp_path / "manifest")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        t0 = time.time()
        run_checkpointed(spark, transcripts, out, manifest, n_buckets=2)
        t1 = time.time()
        rows = spark.read.parquet(manifest).select("started_at", "finished_at").collect()
        # collected timestamps are naive local times of the driver's zone
        for r in rows:
            assert t0 - 1 <= r["started_at"].timestamp() <= r["finished_at"].timestamp() <= t1 + 1
    finally:
        monkeypatch.undo()
        time.tzset()


def test_submit_job_entry_point(spark, tmp_path, monkeypatch):
    """The spark-submit entry point runs end to end: synthetic input,
    checkpointed buckets, one JSON stats line (resumable: a second run is
    a no-op). Reuses the test session via getOrCreate."""
    import json
    import sys

    from tools.submit_job import main

    out, manifest = str(tmp_path / "out"), str(tmp_path / "manifest")
    argv = ["submit_job.py", "--synthetic-convs", "6", "--output", out,
            "--manifest", manifest, "--buckets", "2"]
    monkeypatch.setattr(sys, "argv", argv)
    # the job stops its session on exit; keep the shared test session alive
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    import io

    buf = io.StringIO()
    monkeypatch.setattr(sys, "stdout", buf)
    try:
        main()
    finally:
        monkeypatch.undo()
    stats = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert stats["buckets_processed"] == 2
    assert stats["turns"] > 0 and stats["words"] > 0
    assert spark.read.parquet(out).count() == stats["turns"]


def test_group_stats_read_is_partition_pruned(spark, transcripts, tmp_path):
    """VERDICT r4 item 8: the post-write stats re-read must touch only the
    group's bucket=<b> partition paths, never re-list/scan the whole
    output tree (at many-bucket scale the listing dominates)."""
    from doctr_spark.streaming.incremental import group_stats_read

    out, manifest = str(tmp_path / "out"), str(tmp_path / "manifest")
    n_buckets = 4
    run_checkpointed(spark, transcripts, out, manifest, n_buckets=n_buckets)
    group = [0, 2]
    df = group_stats_read(spark, out, group)
    assert df is not None
    files = df.inputFiles()
    assert files, "stats read found no files for written buckets"
    assert all(any(f"bucket={b}/" in f for b in group) for f in files)
    assert not any("bucket=1/" in f or "bucket=3/" in f for f in files)
    # and the stats themselves agree with a full-tree read
    full = (
        spark.read.parquet(out)
        .where(F.col("bucket").isin(group))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_turns"))
    )
    got = {r["bucket"]: r["n_turns"] for r in df.collect()}
    want = {r["bucket"]: r["n_turns"] for r in full.collect()}
    assert got == want

    # an all-empty group (buckets that wrote no directory) reads as None
    assert group_stats_read(spark, out, [99]) is None
