"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload mixed_payloads --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, against `local[<nproc>]` from this
single driver process. Each workload is a batch job run as a closed loop
with one client: the next job starts only after the previous one's output
was written and checked. Everything the run writes stays under
`.perfbench/` in the checkout (inputs cached per workload and seed, job
outputs, Spark scratch, event logs).

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` the per-layer metrics, from a second, event-logged loop, the
Spark event log and a Spark-free kernel driver. See perfbench/README.md
for the workloads and the layer -> metric -> workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CACHE_VERSION = "v4"  # bump when input generation changes
# cold setups per run (a new JVM, session and warm-up each); setup_s is
# their median. One costs 20-35 s, so a run affords one.
SETUPS = 1
HEAP = "1g"  # driver JVM heap, the whole of local mode's executor memory


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


class Bench:
    """Owns the Spark session, the workload and the RSS sampler of one run."""

    def __init__(self, workload, cores: int, rss):
        self.wl = workload
        self.cores = cores
        self.shuffle_partitions = max(2 * cores, 16)
        self.rss = rss
        self.spark = None
        self.event_log_dir = None

    def start(self, traced: bool) -> tuple[float, float]:
        """(session start s, warm-up s) of a cold start: the old JVM, if
        any, is stopped first, so every setup starts a new one."""
        from doctr_spark.session import get_spark

        self.stop_jvm()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # A fixed, pre-touched heap in place of the program's 8 GB
            # default: with the default, G1 grows the heap by a different
            # amount each run and the JVM's RSS spreads beyond any bound
            # peak_rss_mb could hold. No temp or hsperfdata file in /tmp.
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            self.event_log_dir = _fresh(os.path.join(WORK, "eventlog"))
            os.makedirs(self.event_log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                # Spark 4 otherwise writes a zstd-compressed rolling directory
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            master=f"local[{self.cores}]",
            app_name=f"perfbench-{self.wl.name}",
            shuffle_partitions=self.shuffle_partitions,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("warm", "warm-up")
        self.wl.job(self.spark, _fresh(os.path.join(WORK, "out", "warm")), warm=True)
        t2 = time.perf_counter()
        _log(f"session start {t1 - t0:.2f}s, warm-up {t2 - t1:.2f}s")
        return t1 - t0, t2 - t1

    def loop(self, seconds: float, tag: str) -> list[dict]:
        """Closed loop for ``seconds`` and at least the workload's
        ``min_jobs`` jobs: job, then its check, then the next."""
        jobs: list[dict] = []
        t_loop = time.perf_counter()
        while len(jobs) < self.wl.min_jobs or time.perf_counter() - t_loop < seconds:
            group = f"{tag}{len(jobs)}"
            out = _fresh(os.path.join(WORK, "out", group))
            self.spark.sparkContext.setJobGroup(group, group)
            self.rss.reset()
            t0 = time.perf_counter()
            try:
                parts, ok = self.wl.job(self.spark, out), True
            except Exception:  # a job that raises counts as all failed
                traceback.print_exc()
                parts, ok = {}, False
            t1 = time.perf_counter()
            peak = self.rss.peak
            attempted, failed = self.wl.check(out) if ok else (self.wl.check_units, self.wl.check_units)
            shutil.rmtree(out, ignore_errors=True)
            _log(f"{group}: {t1 - t0:.2f}s, peak {peak / 2**20:.0f} MB, {failed}/{attempted} failed")
            jobs.append({
                "group": group, "start": t0, "end": t1, "job_s": t1 - t0,
                "peak_rss": peak, "attempted": attempted, "failed": failed, "parts": parts,
            })
        return jobs

    def stop_jvm(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started (JVM, Python daemon and workers) to end."""
        from pyspark import SparkContext

        from probes import descendants

        pids = descendants(os.getpid())[1:]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        if not pids:
            return
        _log(f"JVM stopped; waiting for {len(pids)} processes")
        deadline = time.monotonic() + 10
        while pids:
            pids = [p for p in pids if _alive(p)]
            if pids and time.monotonic() > deadline:
                for p in pids:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 10
            time.sleep(0.05)
        _log("all processes ended")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _median(jobs: list[dict], key: str) -> float:
    return statistics.median(j[key] for j in jobs)


def end_to_end(wl, setups: list[tuple[float, float]], jobs: list[dict]) -> dict:
    return {
        "job_s": (_median(jobs, "job_s"), "s"),
        "turns_per_s": (wl.units / _median(jobs, "job_s"), "1/s"),
        "setup_s": (statistics.median(a + b for a, b in setups), "s"),
        "peak_rss_mb": (_median(jobs, "peak_rss") / 2**20, "MB"),
    }


def per_layer(bench, setups, jobs, traced_jobs) -> dict:
    """Layer metrics: medians over the traced loop's jobs of the event-log
    task metrics, write spans and query times, plus the Spark-free kernel
    driver over the same payload turns."""
    import kernel
    import probes

    wl, cores = bench.wl, bench.cores
    groups = probes.group_metrics(probes.read_event_log(bench.event_log_dir))

    def job_sum(j: dict, key: str, suffix: str = "") -> float:
        return sum(
            g.get(key, 0.0) for name, g in groups.items()
            if (name == j["group"] or name.startswith(j["group"] + ".")) and name.endswith(suffix)
        )  # fmt: skip

    def med(fn) -> float:
        return statistics.median(fn(j) for j in traced_jobs)

    m = {
        "session.start_s": (statistics.median(a for a, _ in setups), "s"),
        "session.warm_s": (statistics.median(b for _, b in setups), "s"),
        "trace.untraced_job_s": (_median(jobs, "job_s"), "s"),
        "trace.job_s": (_median(traced_jobs, "job_s"), "s"),
        "trace.overhead_s": (_median(traced_jobs, "job_s") - _median(jobs, "job_s"), "s"),
        "spark.cores": (cores, "count"),
        "spark.shuffle_partitions": (bench.shuffle_partitions, "count"),
        "spark.core_busy_frac": (med(lambda j: job_sum(j, "executor_run_s") / (cores * j["job_s"])), "ratio"),
        "check.failed_frac": (
            sum(j["failed"] for j in jobs + traced_jobs) / sum(j["attempted"] for j in jobs + traced_jobs),
            "ratio",
        ),
    }
    for key, unit in (
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"), ("fetch_wait_s", "s"),
        ("jobs", "count"), ("stages", "count"),
    ):  # fmt: skip
        m[f"spark.{key}"] = (med(lambda j, k=key: job_sum(j, k)), unit)
    m["io.scan_bytes"] = (med(lambda j: job_sum(j, "scan_bytes")), "B")
    m["io.scan_records"] = (med(lambda j: job_sum(j, "scan_records")), "count")
    # the extraction's Python stages run in the job's own group; the
    # near-dup queries run in sub-groups
    for key, unit in (
        ("python_run_s", "s"), ("python_bytes_in", "B"), ("python_bytes_out", "B"),
        ("python_tasks", "count"), ("task_p50_ms", "ms"), ("task_max_ms", "ms"),
    ):  # fmt: skip
        name = "pipeline.tasks" if key == "python_tasks" else f"pipeline.{key}"
        m[name] = (med(lambda j, k=key: groups.get(j["group"], {}).get(k, 0.0)), unit)

    spans = [j.get("writes", {}) for j in traced_jobs]
    for key, unit in (("write_s", "s"), ("stats_read_s", "s"), ("manifest_s", "s"), ("passes", "count")):
        m[f"incremental.{key}"] = (statistics.median(s.get(key, 0) for s in spans), unit)

    # wall seconds of parts of the untraced jobs: the checkpointed passes
    # and each near-dup query
    for name in ("incremental.extract", "dedup.minhash_lsh", "similarity.cosine_topk", "dedup.simhash"):
        m[f"{name}_s"] = (statistics.median(j["parts"].get(name, 0.0) for j in jobs), "s")
    m["dedup.shuffle_bytes"] = (
        med(lambda j: job_sum(j, "shuffle_write_bytes", ".dedup.minhash_lsh")
            + job_sum(j, "shuffle_write_bytes", ".dedup.simhash")),
        "B",
    )  # fmt: skip

    # Spark-free kernel driver over the job's own payload turns, batched
    # like one task's Arrow batch of the fused stage
    turns = wl.payload_turns()
    partitions = 8 * cores  # extract_documents' default crop_partitions
    kmetrics, texts = kernel.run(turns, max(1, -(-len(turns) // partitions)))
    gt = wl.gt()
    want = dict(zip(zip(gt["conv_id"], gt["turn_idx"]), gt["gt_text"]))
    wrong = sum(texts.get(k) != v for k, v in want.items()) + len(texts.keys() - want.keys())
    m.update(kmetrics)
    m["kernel.mismatched_turns"] = (wrong, "count")  # counted as failed turns
    m["pipeline.boundary_s"] = (m["pipeline.python_run_s"][0] - kmetrics["kernel.s"][0], "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "doctr_spark")):
        print(f"no doctr_spark package under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    # every temp file of this run (ours, the JVM's, the Python workers')
    # goes under the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")  # overrides spark.local.dir
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    import workloads
    from probes import RssSampler, WriteSpans

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(WORK, "cache", CACHE_VERSION, f"{args.workload}-{args.seed}")
    # inputs are generated (or found cached) in a child process, so the
    # generator's process pool and its resource tracker end with it
    subprocess.run(
        [sys.executable, os.path.join(HERE, "workloads.py"), args.workload, cache, str(args.seed)],
        check=True,
    )
    wl = workloads.WORKLOADS[args.workload](cache, args.seed)
    _log(f"inputs ready: {wl.sizing}")

    with RssSampler() as rss:
        bench = Bench(wl, cores, rss)
        try:
            setups = [bench.start(traced=False) for _ in range(SETUPS)]
            jobs = bench.loop(args.seconds, "job")
            traced_jobs = []
            if args.trace:
                bench.start(traced=True)
                with WriteSpans() as spans:
                    traced_jobs = bench.loop(args.seconds, "traced")
                if isinstance(wl, workloads.ResumeDedup):
                    for j in traced_jobs:
                        j["writes"] = spans.split(*wl.dirs(os.path.join(WORK, "out", j["group"])), j["start"], j["end"])
        finally:
            bench.stop_jvm()

    attempted = sum(j["attempted"] for j in jobs + traced_jobs)
    failed = sum(j["failed"] for j in jobs + traced_jobs)
    if args.trace:
        metrics = per_layer(bench, setups, jobs, traced_jobs)
        # the kernel driver's turns are checked against the reference too
        attempted += metrics["kernel.turns"][0]
        failed += metrics["kernel.mismatched_turns"][0]
    else:
        metrics = end_to_end(wl, setups, jobs)
    context = {
        "workload": wl.name, "seed": args.seed, "cores": cores,
        "spark.sql.shuffle.partitions": bench.shuffle_partitions,
        "sizing": wl.sizing, "setups_s": setups,
        "job_s": [j["job_s"] for j in jobs], "traced_job_s": [j["job_s"] for j in traced_jobs],
    }  # fmt: skip
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
