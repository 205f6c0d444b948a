"""Interleaved broadcast-vs-tiled crand A/B at a given n and perms.

Builds points + exact kNN(8) once, then alternates
conditional_randomization(mode="broadcast") / (mode="tiled") for REPS
rounds each (interleaving cancels the shared VM's drift), reporting
per-mode samples, min and median.  This is the measurement behind the
``crand_tiled_sites`` crossover in ``esda_spark/plans/gate.py::LIMITS``
(documented in PLANS.md / crand.py).

Usage: python tools/ab_crand.py [n] [perms] [reps] [tiles]
"""
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from esda_spark.operators.crand import conditional_randomization
from esda_spark.operators.local_stats import moran_local
from esda_spark.operators.weights import knn_edges, transform_weights
from esda_spark.session import get_spark
from esda_spark.sources.points import synthetic_points

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
PERMS = int(sys.argv[2]) if len(sys.argv) > 2 else 9_999
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
TILES = int(sys.argv[4]) if len(sys.argv) > 4 else 64
CPUS = 32

spark = get_spark("ab-crand", parallelism=CPUS,
                  shuffle_partitions=max(2 * CPUS, 16))
pts = synthetic_points(spark, N).cache()
n = pts.count()
edges = knn_edges(pts, k=8).cache()
edges.count()
w = transform_weights(edges, "R").localCheckpoint(eager=True)

agg = pts.agg(F.avg("y_cont").alias("mu"),
              F.stddev_pop("y_cont").alias("sd")).collect()[0]
zvals = pts.select(
    "id", ((F.col("y_cont") - F.lit(float(agg.mu)))
           / F.lit(float(agg.sd))).alias("z"),
).localCheckpoint(eager=True)
obs = moran_local(pts, edges, "y_cont", permutations=0).select(
    "id", F.col("Is").alias("observed")
).localCheckpoint(eager=True)

# warm both code paths (codegen + Arrow workers); id-filter keeps the
# subset dense (limit() would hand zvals and obs different row sets)
n_warm = min(50_000, n)
for mode in ("broadcast", "tiled"):
    conditional_randomization(
        zvals.where(F.col("id") < n_warm),
        w.where(F.col("focal") < n_warm),
        obs.where(F.col("id") < n_warm), "moran_local",
        permutations=99, seed=1, scaling=1.0, mode=mode, tiles=TILES,
    ).agg(F.sum("p_sim")).collect()

samples = {"broadcast": [], "tiled": []}
for r in range(REPS):
    for mode in ("broadcast", "tiled"):
        t0 = time.perf_counter()
        conditional_randomization(
            zvals, w, obs, "moran_local", permutations=PERMS,
            seed=12345, scaling=1.0, mode=mode, tiles=TILES,
        ).agg(F.sum("p_sim")).collect()
        samples[mode].append(round(time.perf_counter() - t0, 2))

out = {"metric": "crand broadcast vs tiled interleaved A/B",
       "n": n, "permutations": PERMS, "tiles": TILES, "cpus": CPUS}
for mode, s in samples.items():
    out[mode] = {"samples": s, "min": min(s),
                 "median": sorted(s)[len(s) // 2]}
print(json.dumps(out))
spark.stop()
