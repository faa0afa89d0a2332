"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

The headline workload is the flagship extraction pipeline (the north-rule
metric is end-to-end turns/sec) plus the heaviest analytics operators.
`tools/scaling_report.py` runs this same workload at two parallelism
levels for the N -> 4N scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time


def run_bench(sf_dir: str, cpus: str, shuffle_partitions: int | None = None) -> dict:
    from doctr_spark.fixtures.transcripts import generate_transcripts, n_convs_for_sf
    from doctr_spark.io.sources import transcripts_from_documents
    from doctr_spark.operators import dedup, similarity
    from doctr_spark.operators.pipeline import extract_documents
    from doctr_spark.session import get_spark

    n_cores = int(cpus) if str(cpus).isdigit() else (os.cpu_count() or 8)
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=f"doctr_spark_bench_{cpus}",
        shuffle_partitions=shuffle_partitions or max(2 * n_cores, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    n_convs = n_convs_for_sf(sf)

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    # warmup pass (excluded from timings): JVM codegen compilation, Arrow
    # serializers, and Python workers all initialize on the first query —
    # one-time costs a long-running 10^12-turn job amortizes to zero, so
    # the steady-state rate is the meaningful number. Warm BOTH pipeline
    # entries: the synthetic-fixture path AND the documents-derived path
    # (whose payload-derivation subtree compiles separately — the same
    # sf/100 warm pass tools/scaling_report.py uses; with only the small
    # synthetic warmup, q1 was charged the flagship path's first-run
    # codegen, ~4 s at 32 cores)
    extract_documents(generate_transcripts(spark, 20)).count()
    # warm the documents path at the next-smaller scale; match the sf token
    # exactly (a substring replace corrupts dirs that already contain
    # "0.01" -> "0.001")
    sm = re.search(r"sf([0-9.]+)", sf_dir)
    warm_dir = sf_dir[: sm.start(1)] + "0.01" + sf_dir[sm.end(1) :] if sm else sf_dir
    if warm_dir != sf_dir and os.path.isdir(warm_dir):
        extract_documents(transcripts_from_documents(spark, warm_dir)).count()

    # q1: flagship extraction over documents-derived transcripts
    n_doc_turns = timed(
        "q1_ocr_documents",
        lambda: extract_documents(transcripts_from_documents(spark, sf_dir)).count(),
    )
    # q2: extraction over native synthetic transcripts (skew + multi-page).
    # The fixture is PERSISTED before timing: without it the timed run
    # re-executes payload generation inside its own lineage (the earlier
    # count() is only a warmup), so q2 was charging fixture rendering to
    # the engine — q1's parquet scan is the production-shaped input, and
    # q2 now measures the same thing over the in-memory table (round-5
    # harness fix, disclosed in BENCH.md).
    tdf = generate_transcripts(spark, n_convs).persist()
    n_turns_total = tdf.count()
    n_syn_turns = timed(
        "q2_ocr_synthetic",
        lambda: extract_documents(tdf).count(),
    )
    tdf.unpersist(blocking=True)  # release the fixture's storage before q3
    # q3: minhash-LSH near-dup pairs (one lazy plan that persists nothing,
    # so the clearCache() below has nothing to release; it stays to keep
    # the timed sequence unchanged)
    timed("q3_dedup_minhash_lsh", lambda: dedup.minhash_lsh_pairs(spark, sf_dir).count())
    spark.catalog.clearCache()
    # q4: brute-force cosine top-k
    timed("q4_similarity_topk", lambda: similarity.cosine_topk(spark, sf_dir).count())
    # q5: simhash
    timed("q5_dedup_simhash", lambda: dedup.simhash(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    ocr_sec = timings["q1_ocr_documents"] + timings["q2_ocr_synthetic"]
    extracted_turns = n_doc_turns + n_syn_turns
    extras["turns_per_sec"] = round(extracted_turns / ocr_sec, 2)
    extras["extracted_turns"] = extracted_turns
    extras["total_turns_scanned"] = n_turns_total + n_doc_turns
    spark.stop()

    return {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": n_cores,
        **extras,
    }


def wait_for_calm(max_wait_sec: float, threshold: float = 0.80, interval: float = 45.0) -> dict:
    """Defer the capture until the hypervisor gives a calm window: probe
    the pinned pure-CPU 8->32 ceiling (tools/probe_clock.pinned_mops) and
    wait — up to ``max_wait_sec`` — until it reaches ``threshold``, the
    BENCH.md band where suite numbers reproduce (throttle windows have
    measured as low as 0.53 and charge the hypervisor, not the engine).
    Returns the last probe so the capture records what it ran under."""
    import time as _time

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from tools.probe_clock import pinned_mops

    t0 = _time.monotonic()
    while True:
        m8, m32 = pinned_mops(8), pinned_mops(32)
        probe = {
            "mops8": round(m8, 1),
            "mops32": round(m32, 1),
            "ceiling_8_32": round(m32 / m8 / 4, 3),
            "waited_sec": round(_time.monotonic() - t0, 1),
        }
        if probe["ceiling_8_32"] >= threshold:
            probe["calm"] = True
            return probe
        if _time.monotonic() - t0 + interval > max_wait_sec:
            probe["calm"] = False  # deadline: capture anyway, disclosed
            return probe
        _time.sleep(interval)


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    calm_wait = float(os.environ.get("SPARK_GRAFT_CALM_WAIT_SEC", "420"))
    probe = wait_for_calm(calm_wait) if calm_wait > 0 else None
    result = run_bench(sf_dir, cpus)
    if probe is not None:
        result["calm_probe"] = probe
    print(json.dumps(result))
    sys.stdout.flush()
