"""Measurement probes that sit outside the program: a /proc RSS sampler for
the benchmark's process tree, a Spark event-log reader, and a write-span
recorder for the checkpointed runner."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict


# -- process tree RSS ------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process, from /proc."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
        procs[int(name)] = (int(rest.split()[1]), comm)
    return procs


def descendants(root: int, procs: dict[int, tuple[int, str]] | None = None) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in (procs or _processes()).items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``'s process tree. A JVM child that has not yet
    exec'd (Spark forking a Python worker) is the JVM's own pages counted a
    second time, so it is left out."""
    procs = _processes()
    total = 0
    for pid in descendants(root, procs):
        ppid = procs.get(pid, (0, ""))[0]
        try:
            if procs[ppid][1] == "java" and os.readlink(f"/proc/{pid}/exe") == os.readlink(f"/proc/{ppid}/exe"):
                continue
        except (KeyError, OSError):
            pass
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process's tree (driver JVM, Python
    daemon and workers) every ``interval`` seconds while running; ``peak``
    is the highest sample since the last ``reset``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(root)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            self.peak = tree_rss_bytes(os.getpid())

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark event log -------------------------------------------------------

_PY_RUN = "time to run Python workers"  # busy time inside the Arrow UDF
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
# "time to initialize Python workers" is deliberately not read: it includes
# idle wait before the task starts, so it can exceed the task's duration.


def _accum(task_info: dict, name: str) -> int:
    return sum(int(a.get("Update", 0)) for a in task_info.get("Accumulables", []) if a.get("Name") == name)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application logged under ``log_dir``
    (uncompressed, non-rolling: one JSON event per line)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def group_metrics(events: list[dict]) -> dict[str, dict]:
    """Per job group: task-metric sums over every stage of the group's jobs,
    plus the Python-stage task durations."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    task_ms: dict[str, list[float]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                groups[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = groups[group]
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics", {})
            g["scan_bytes"] += inp.get("Bytes Read", 0)
            g["scan_records"] += inp.get("Records Read", 0)
            py_run = _accum(info, _PY_RUN)
            if py_run:
                g["python_run_s"] += py_run / 1e3
                g["python_bytes_in"] += _accum(info, _PY_SENT)
                g["python_bytes_out"] += _accum(info, _PY_RECV)
                g["python_tasks"] += 1
                task_ms[group].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    out = {}
    for group, g in groups.items():
        durs = task_ms.get(group) or [0.0]
        out[group] = dict(g, task_p50_ms=statistics.median(durs), task_max_ms=max(durs))
    return out


# -- checkpointed-run write spans -----------------------------------------


class WriteSpans:
    """Records every ``DataFrameWriter.parquet`` call while installed, as
    (path, start, end) spans, so a checkpointed run splits into its bucket
    writes and manifest appends without touching the runner's code."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._orig = None

    def __enter__(self) -> WriteSpans:
        from pyspark.sql.readwriter import DataFrameWriter

        self._orig = orig = DataFrameWriter.parquet
        spans = self.spans

        def parquet(writer, path, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(writer, path, *args, **kwargs)
            finally:
                spans.append((str(path), t0, time.perf_counter()))

        DataFrameWriter.parquet = parquet
        return self

    def __exit__(self, *exc) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        DataFrameWriter.parquet = self._orig

    def split(self, out_dir: str, manifest_dir: str, job_start: float, job_end: float) -> dict:
        """Bucket-write, stats-read and manifest seconds of one job: the
        stats read-back is the gap between a pass's bucket write and its
        manifest append; the manifest share also holds the done-bucket
        probe before each pass's first write."""
        mine = [s for s in self.spans if job_start <= s[1] and s[2] <= job_end]
        write = [s for s in mine if s[0] == out_dir]
        manifest = [s for s in mine if s[0] == manifest_dir]
        stats = sum(m[1] - w[2] for w, m in zip(write, manifest))
        probe = sum(w[1] - prev for w, prev in zip(write, [job_start] + [m[2] for m in manifest]))
        return {
            "write_s": sum(e - b for _, b, e in write),
            "stats_read_s": stats,
            "manifest_s": sum(e - b for _, b, e in manifest) + probe,
            "passes": len(write),
        }
