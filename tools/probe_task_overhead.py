"""Fixed cost of one Python (Arrow UDF) task on this Spark: times a trivial
`mapInPandas` into a `noop` sink at defaultParallelism and at 8x and 32x
that many tasks, fits wall seconds against task count and prints one JSON
line. ``worker_ms_per_task`` (the wall slope times the cores) is what a
partition default pays per extra task, whatever the UDF does.

    python tools/probe_task_overhead.py     # local[$SPARK_GRAFT_CPUS or *]
"""
import json
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from doctr_spark.session import get_spark  # noqa: E402


def timed_noop(spark, tasks: int, reps: int = 3) -> float:
    """Best-of-``reps`` wall seconds of a pass-through `mapInPandas` over
    ``tasks`` partitions of 16 rows each."""
    df = spark.range(0, tasks * 16, numPartitions=tasks).mapInPandas(lambda it: it, "id long")
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
    timed_noop(spark, cores, reps=1)  # start the Python workers
    wall = {n: timed_noop(spark, n) for n in (cores, 8 * cores, 32 * cores)}
    slope = np.polyfit(list(wall), list(wall.values()), 1)[0]
    print(json.dumps({
        "cores": cores,
        "wall_s": {n: round(s, 3) for n, s in wall.items()},
        "wall_ms_per_task": round(1e3 * slope, 1),
        "worker_ms_per_task": round(1e3 * slope * cores, 1),
    }))
    spark.stop()
