"""ANN top-k timings above the ``ann_rows`` gate.

Forces the gate to 0 at runtime (``gate.LIMITS["ann_rows"] = 0``), so
every top-k takes the above-gate path of the checkout it runs from;
running the script alternately from two checkouts compares them.

Inputs: ``synthetic_embeddings(n, dim=64, clusters=200, noise=0.35)``
in ``SPARK_GRAFT_CPUS`` partitions, cached; 100 queries (vec_id < 100);
k = 10.  Per rep it times, in this order:

- ``cosine_topk`` (broadcast queries, ``mapInPandas`` over the corpus);
- ``cosine_topk_distributed`` (default slices);
- ``lsh_topk`` (10 planes, 8 tables, multiprobe);
- ``ivf_topk`` (nprobe 4 over 64 lists whose centroids are the first
  64 corpus vectors — one per planted cluster, no k-means, so the
  lists do not depend on a distributed sum's order).

Each timing covers the operator plus one aggregate of its result: the
row count and a digest, ``sum(pmod(xxhash64(query_id, vec_id, rank,
sim), 1000000007))``, computed in Spark (a plain ``sum(xxhash64)``
overflows under ANSI).  Equal digests and counts across checkouts
mean equal rows, sims included.

Usage: python tools/ab_ann.py [n] [reps] [ops]
  ops: comma list of the operators above (default all four)

Runs on local[SPARK_GRAFT_CPUS] (default: every core of the machine).
Prints one JSON line per rep (rep 0 is the cold warm-up) and a last
line with each operator's min and median over the warm reps.
"""
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np
from pyspark.sql import functions as F

from esda_spark.operators import similarity as sim
from esda_spark.plans import gate
from esda_spark.session import get_spark
from esda_spark.sources.embeddings import synthetic_embeddings

N = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
ONLY = sys.argv[3].split(",") if len(sys.argv) > 3 else None
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

gate.LIMITS["ann_rows"] = 0
spark = get_spark("ab-ann", parallelism=CPUS,
                  shuffle_partitions=max(2 * CPUS, 16))

emb = synthetic_embeddings(
    spark, N, dim=64, clusters=200, noise=0.35).repartition(CPUS).cache()
emb.count()
q = emb.where(F.col("vec_id") < 100).select(
    F.col("vec_id").alias("query_id"), "embedding").cache()
q.count()
centers = np.vstack(emb.where(F.col("vec_id") < 64).orderBy("vec_id")
                    .toPandas()["embedding"].to_numpy())

OPS = {
    "cosine_topk": lambda: sim.cosine_topk(emb, q, k=10),
    "cosine_topk_distributed":
        lambda: sim.cosine_topk_distributed(emb, q, k=10),
    "lsh_topk": lambda: sim.lsh_topk(emb, q, dim=64, k=10, num_planes=10,
                                     num_tables=8),
    "ivf_topk": lambda: sim.ivf_topk(emb, q, centers, k=10, nprobe=4),
}
OPS = {op: OPS[op] for op in ONLY or OPS}


def run(op):
    t0 = time.perf_counter()
    row = OPS[op]().agg(
        F.count("*").alias("rows"),
        F.sum(F.pmod(F.xxhash64("query_id", "vec_id", "rank", "sim"),
                     F.lit(1_000_000_007))).alias("digest"),
    ).collect()[0]
    return {"s": round(time.perf_counter() - t0, 3), "rows": int(row.rows),
            "digest": int(row.digest or 0)}


walls = {op: [] for op in OPS}
for rep in range(REPS + 1):
    line = {"rep": rep, "n": N, "cpus": CPUS}
    for op in OPS:
        line[op] = run(op)
        if rep:
            walls[op].append(line[op]["s"])
    print(json.dumps(line), flush=True)
print(json.dumps({"metric": "ANN top-k above the ann_rows gate", "n": N,
                  **{op: {"min": min(s), "median": float(np.median(s))}
                     for op, s in walls.items() if s}}), flush=True)
spark.stop()
