"""Per-task Python worker overhead: a no-op ``mapInArrow`` at 32 vs 4 tasks.

Caches 320k rows (``spark.range``) at 32 and at 4 partitions and times a
no-op ``mapInArrow`` over each, REPS times after one warm-up, through
``esda_spark.session.get_spark``.  With every worker reused, the kernel
body costs well under a millisecond, so the 32-task time minus the
4-task time is the fixed cost Spark and PySpark pay per Python task.

It also times one ``importlib.invalidate_caches()`` call inside each of
4 worker tasks.  PySpark's worker makes that call at the start of every
task; on Python 3.11 it re-parses the central directory of every zip on
the worker's import path unless the engine's worker daemon
(``esda_spark/daemon/esda_daemon.py``) finds the zip unchanged.

Usage: python tools/py_task_overhead.py [reps]

Runs on local[SPARK_GRAFT_CPUS] (default: every core of the machine) and
prints one JSON line.  Running it from two checkouts compares them.
"""
import importlib
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyarrow as pa

from esda_spark.session import get_spark

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 5
ROWS = 320_000
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def _noop(batches):
    yield from batches


def _time_invalidate(batches):
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"ms": [ms], "pid": [os.getpid()]})


def _summary(samples):
    return {"samples": [round(s, 4) for s in samples],
            "min": round(min(samples), 4),
            "median": round(statistics.median(samples), 4)}


def main() -> None:
    spark = get_spark("py-task-overhead", parallelism=CPUS)
    out = {"cpus": CPUS, "rows": ROWS, "reps": REPS,
           "daemon_module": spark.conf.get("spark.python.daemon.module", None)}
    for parts in (32, 4):
        df = spark.range(ROWS, numPartitions=parts).cache()
        df.count()
        samples = []
        for i in range(REPS + 1):
            t0 = time.perf_counter()
            df.mapInArrow(_noop, df.schema).count()
            if i:  # the first run warms the workers up
                samples.append(time.perf_counter() - t0)
        out[f"tasks{parts}_s"] = _summary(samples)
        if parts == 4:
            rows = []
            for _ in range(REPS):
                rows += df.mapInArrow(_time_invalidate, "ms double, pid long").collect()
            ms = [r.ms for r in rows]
            out["worker_invalidate_ms"] = {
                "median": round(statistics.median(ms), 3),
                "max": round(max(ms), 3),
                "tasks": len(ms), "workers": len({r.pid for r in rows})}
        df.unpersist()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
