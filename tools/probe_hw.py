"""Hardware scaling probes for BENCH.md: how do raw CPU work and raw
disk writes scale from 4 -> 16 concurrent workers on this box?  The
pipeline's efficiency ceiling is whichever resource does NOT scale.

The ``python_tasks`` probe measures the fixed charge every pyspark
Python task pays (the reason ``kgforge.session.one_wave`` exists): the
wall time of an identity ``pandas_udf`` over N partitions against 1
partition, and ``importlib.invalidate_caches()`` timed inside a worker.

Usage: ``python tools/probe_hw.py [PROBE ...]`` with PROBE one of
cpu_md5, disk_write_fsync, python_tasks (default: all of them).
"""

import hashlib
import json
import os
import sys
import tempfile
import time
from multiprocessing import Pool


def cpu_task(_):
    h = b"x" * 4096
    for _ in range(3000):
        h = hashlib.md5(h).digest() + b"y" * 4090
    return 1


def disk_task(i):
    path = os.path.join(tempfile.gettempdir(), f"probe-{os.getpid()}-{i}")
    blob = os.urandom(4 * 1024 * 1024)
    with open(path, "wb") as fh:
        for _ in range(16):  # 64 MB per task
            fh.write(blob)
        fh.flush()
        os.fsync(fh.fileno())
    os.remove(path)
    return 1


def run(task, workers, n_tasks):
    with Pool(workers) as p:
        t0 = time.perf_counter()
        p.map(task, range(n_tasks))
        return time.perf_counter() - t0


def scaling_probe(task, n_tasks):
    t4 = run(task, 4, n_tasks)
    t16 = run(task, 16, n_tasks)
    return {
        "t_4workers_sec": round(t4, 2),
        "t_16workers_sec": round(t16, 2),
        "speedup_4_to_16": round(t4 / t16, 2),
        "efficiency": round(t4 / t16 / 4, 3),
    }


def python_task_probe():
    """Per-task charge of pyspark Python workers.  An identity
    pandas_udf does no work, so the wall time it adds per extra
    partition is the fixed charge; the second job times, inside each
    worker task, the ``importlib.invalidate_caches()`` call that
    pyspark's ``setup_spark_files`` makes before every task."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from kgforge.session import build_session

    spark = build_session(app_name="probe_hw")
    cores = spark.sparkContext.defaultParallelism
    n_parts = 8 * cores

    @pandas_udf("long")
    def identity(v: pd.Series) -> pd.Series:
        return v

    @pandas_udf("double")
    def invalidate_s(v: pd.Series) -> pd.Series:
        import importlib

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        return pd.Series([time.perf_counter() - t0] * len(v))

    def identity_wall(parts):
        df = spark.range(0, n_parts, numPartitions=parts)
        t0 = time.perf_counter()
        df.select(identity("id")).write.format("noop").mode(
            "overwrite").save()
        return time.perf_counter() - t0

    identity_wall(cores)  # start the Python workers outside the timing
    t_one = min(identity_wall(1) for _ in range(3))
    t_n = min(identity_wall(n_parts) for _ in range(3))
    per_task = spark.range(0, n_parts, numPartitions=n_parts).select(
        invalidate_s("id").alias("s")
    ).agg(
        F.percentile_approx("s", 0.5).alias("median"),
        F.max("s").alias("max"),
    ).first()
    spark.stop()
    extra_s = max(t_n - t_one, 0.0) / (n_parts - 1)
    return {
        "cores": cores,
        "partitions": n_parts,
        "t_identity_1_partition_sec": round(t_one, 3),
        "t_identity_n_partitions_sec": round(t_n, 3),
        # wall time one extra partition adds, and the worker time it
        # stands for when all cores run such tasks at once
        "wall_ms_per_task": round(1000 * extra_s, 1),
        "core_ms_per_task": round(1000 * extra_s * cores, 1),
        "invalidate_caches_sec_median": round(per_task["median"], 4),
        "invalidate_caches_sec_max": round(per_task["max"], 4),
    }


PROBES = {
    "cpu_md5": lambda: scaling_probe(cpu_task, 512),
    "disk_write_fsync": lambda: scaling_probe(disk_task, 32),
    "python_tasks": python_task_probe,
}


def main():
    names = sys.argv[1:] or list(PROBES)
    unknown = [n for n in names if n not in PROBES]
    if unknown:
        sys.exit(f"unknown probe(s) {unknown}; choose from {list(PROBES)}")
    print(json.dumps({name: PROBES[name]() for name in names}))


if __name__ == "__main__":
    main()
