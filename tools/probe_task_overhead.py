"""Fixed cost of one Python (Arrow UDF) task on this Spark: times a trivial
`mapInPandas` into a `noop` sink at defaultParallelism and at 8x and 32x
that many tasks, fits wall seconds against task count and prints one JSON
line. ``worker_ms_per_task`` (the wall slope times the cores) is what a
partition default pays per extra task, whatever the UDF does.

It is measured twice: ``plain`` for the pass-through UDF, and ``pruned``
for one that calls `session.prune_zip_finders` first, as the extraction
kernel does. The plain pass runs first, because pruning persists in the
reused Python workers.

    python tools/probe_task_overhead.py     # local[$SPARK_GRAFT_CPUS or *]
"""
import json
import os
import sys
import time
from pathlib import Path

import numpy as np

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)
# the Python workers import the pruning helper too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
from doctr_spark.session import get_spark, prune_zip_finders  # noqa: E402


def plain(batches):
    return batches


def pruned(batches):
    prune_zip_finders()
    return batches


def timed_noop(spark, tasks: int, udf=plain, reps: int = 3) -> float:
    """Best-of-``reps`` wall seconds of ``udf`` as a `mapInPandas` over
    ``tasks`` partitions of 16 rows each."""
    df = spark.range(0, tasks * 16, numPartitions=tasks).mapInPandas(udf, "id long")
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


if __name__ == "__main__":
    spark = get_spark(app_name="probe_task_overhead")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    out = {"cores": cores}
    for udf in (plain, pruned):  # plain first: pruning outlives the task
        timed_noop(spark, cores, udf, reps=1)  # start (and prune) the workers
        wall = {n: timed_noop(spark, n, udf) for n in (cores, 8 * cores, 32 * cores)}
        slope = np.polyfit(list(wall), list(wall.values()), 1)[0]
        out[udf.__name__] = {
            "wall_s": {n: round(s, 3) for n, s in wall.items()},
            "wall_ms_per_task": round(1e3 * slope, 1),
            "worker_ms_per_task": round(1e3 * slope * cores, 1),
        }
    print(json.dumps(out))
    spark.stop()
