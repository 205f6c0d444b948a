"""Exact-kNN build timings above the ``knn_targets`` gate.

Forces the gate to 0 at runtime (``gate.LIMITS["knn_targets"] = 0``),
so every build takes the above-gate path of the checkout it runs from;
running the script alternately from two checkouts compares them.  Per
rep it times:

- ``edges``: ``knn_edges(pts, k=8, keep_d2=True)`` on
  ``synthetic_points(n)`` (hot spots included);
- ``join``: ``knn_join(pts, sample, k=1, group_div=g)``, all n points
  onto a 10% hashed sample, ids in 4 contiguous groups of
  ``g = ceil(n / 4)`` (a focal only matches its own group).

Each timing covers the build plus one aggregate of the result: its row
count and a digest, ``sum(xxhash64(focal, neighbor, d2))`` (for the
join: ``left_id, right_id, dist``), computed in Spark so no edge is
collected.  Equal digests and counts across checkouts mean equal rows.

Usage: python tools/ab_knn.py [n] [reps] [ops]
  ops: comma list of edges,join (default both)

Runs on local[SPARK_GRAFT_CPUS] (default: every core of the machine);
prints one JSON line.
"""
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from esda_spark.operators.spatial_join import knn_join
from esda_spark.operators.weights import knn_edges
from esda_spark.plans import gate
from esda_spark.session import get_spark
from esda_spark.sources.points import synthetic_points

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
OPS = (sys.argv[3] if len(sys.argv) > 3 else "edges,join").split(",")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

gate.LIMITS["knn_targets"] = 0
spark = get_spark("ab-knn", parallelism=CPUS,
                  shuffle_partitions=max(2 * CPUS, 16))


def inputs(n):
    pts = synthetic_points(spark, n).select("id", "x", "y").cache()
    sample = pts.where(F.pmod(F.xxhash64("id", F.lit(7)), 10) == 0).cache()
    pts.count(), sample.count()
    return pts, sample


def build(op, pts, sample, n):
    if op == "edges":
        return knn_edges(pts, k=8, keep_d2=True), ("focal", "neighbor", "d2")
    g = -(-n // 4)
    return (knn_join(pts, sample, k=1, group_div=g),
            ("left_id", "right_id", "dist"))


def run(op, pts, sample, n):
    t0 = time.perf_counter()
    out, cols = build(op, pts, sample, n)
    row = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"),
    ).collect()[0]
    return round(time.perf_counter() - t0, 2), int(row.rows), str(row.digest)


# warm both code paths (codegen, Python workers) on a small input
warm = inputs(min(N, 20_000))
for op in OPS:
    run(op, *warm, min(N, 20_000))
pts, sample = inputs(N)

res = {op: {"samples": [], "rows": set(), "digest": set()} for op in OPS}
for _ in range(REPS):
    for op in OPS:
        dt, rows, digest = run(op, pts, sample, N)
        res[op]["samples"].append(dt)
        res[op]["rows"].add(rows)
        res[op]["digest"].add(digest)

out = {"metric": "exact kNN above the knn_targets gate", "n": N,
       "cpus": CPUS, "sample": sample.count()}
for op, r in res.items():
    s = r["samples"]
    out[op] = {"samples": s, "min": min(s), "median": sorted(s)[len(s) // 2],
               "rows": sorted(r["rows"]), "digest": sorted(r["digest"])}
print(json.dumps(out))
spark.stop()
