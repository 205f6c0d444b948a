#!/usr/bin/env python
"""Headline benchmark harness.

Runs the engine's flagship queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
       "queries": {name: sec, ...}, "sf": ...}.

Extra modes:
  --scaling   run the LISA job at local[8] and local[32] in fresh
              subprocesses and report throughput at both plus the
              N->4N scaling efficiency (the north rule's two-cluster-
              size criterion, evidenced via two parallelism levels).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PERMS = int(os.environ.get("SPARK_GRAFT_BENCH_PERMS", "999"))
# per-query repeats; the reported time is the median (the suite runs on
# a shared VM where a single cold run can be 2-4x steady state)
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _pids(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def _free_since(sc, before: set, keep: set | frozenset = frozenset()) -> None:
    """Unpersist every RDD persisted since ``before`` (checkpoint blocks
    from repeated builds otherwise accumulate and degrade later jobs)."""
    jmap = sc._jsc.getPersistentRDDs()
    for rid in set(jmap.keySet().toArray()) - before - set(keep):
        jr = jmap.get(rid)
        if jr is not None:
            jr.unpersist()


def _warmup(spark, sf_dir: str) -> None:
    """Run every timed plan shape once on tiny inputs: compiles the
    whole-stage-codegen units (the 30-sum simhash lane aggregate alone
    costs seconds on first compile), launches Python/Arrow workers, and warms
    the JIT — so the timed section measures steady state, not JVM
    startup.  All blocks the warm-up creates are freed afterwards."""
    from pyspark.sql import functions as F

    from esda_spark.operators.global_stats import geary, getis_g, moran
    from esda_spark.operators.local_stats import g_local, moran_local
    from esda_spark.operators.similarity import cosine_topk, lsh_topk
    from esda_spark.operators.spatial_join import point_in_polygon
    from esda_spark.operators.text import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash_signatures,
    )
    from esda_spark.operators.weights import knn_edges
    from esda_spark.sources.points import points_from_table
    from esda_spark.sources.polygons import rotated_tiling

    sc = spark.sparkContext
    before = _pids(sc)
    pts = points_from_table(spark, sf_dir, "customer").limit(2000).cache()
    pts.count()
    e = knn_edges(pts, k=8).cache()
    e.count()
    moran(pts, e, "y_cont", "r")
    geary(pts, e, "y_cont", "r")
    getis_g(pts, e, "y_cont")
    moran_local(pts, e, "y_cont", permutations=19, seed=1).agg(
        F.sum("p_sim")
    ).collect()
    g_local(pts, e, "y_cont", star=True, transform="R", permutations=19,
            seed=1).agg(F.sum("p_sim")).collect()
    polys = rotated_tiling(spark, 12, (-180.0, -90.0, 180.0, 90.0),
                           theta=0.3)
    point_in_polygon(pts, polys, 25.0).count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300).cache()
    docs.count()
    sigs = minhash_signatures(docs, num_hashes=16).cache()
    sigs.count()
    lsh_candidate_pairs(sigs, 16, 4).count()
    simhash_signatures(docs).count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500).cache()
    emb.count()
    q = emb.limit(20).select(F.col("vec_id").alias("query_id"), "embedding")
    cosine_topk(emb, q, k=5).count()
    dim = len(emb.select("embedding").first()[0])
    lsh_topk(emb, q, dim=dim, k=5, num_planes=6, num_tables=4).count()
    for df in (pts, e, docs, sigs, emb):
        df.unpersist()
    _free_since(sc, before)
    sc._jvm.System.gc()


def _sf_label(path: str) -> float:
    try:
        return float(path.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return -1.0


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from esda_spark.operators.global_stats import geary, getis_g, moran
    from esda_spark.operators.local_stats import g_local, moran_local
    from esda_spark.operators.similarity import cosine_topk
    from esda_spark.operators.spatial_join import point_in_polygon
    from esda_spark.operators.text import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash_signatures,
    )
    from esda_spark.operators.weights import knn_edges
    from esda_spark.sources.points import points_from_table
    from esda_spark.sources.polygons import rotated_tiling

    sc = spark.sparkContext
    times: dict[str, float] = {}

    def timed(name, fn, fresh_blocks=False):
        """Median of REPEATS runs.  ``fresh_blocks``: the body
        materializes checkpoint blocks (kNN builds) — free each
        repeat's blocks so repeats measure the build, not block-manager
        bloat, and keep only the last repeat's output."""
        samples, out = [], None
        for r in range(REPEATS):
            before = _pids(sc) if fresh_blocks else None
            t0 = time.perf_counter()
            out = fn()
            samples.append(time.perf_counter() - t0)
            if fresh_blocks and r < REPEATS - 1:
                _free_since(sc, before)
        times[name] = round(sorted(samples)[len(samples) // 2], 3)
        return out

    # --- spatial stats over customer points (n = 15k at sf0.1) ---
    # repartition before caching: the sf parquet files are single-split,
    # which would serialize every map stage on one task
    pts = points_from_table(spark, sf_dir, "customer").repartition(CPUS).cache()
    n_pts = pts.count()
    edges = timed("knn_build_customer",
                  lambda: knn_edges(pts, k=8),
                  fresh_blocks=True).cache()
    edges.count()

    timed("moran_global", lambda: moran(pts, edges, "y_cont", "r"))
    timed("geary_global", lambda: geary(pts, edges, "y_cont", "r"))
    timed("getis_g_global", lambda: getis_g(pts, edges, "y_cont"))
    timed(
        "lisa_crand",
        lambda: moran_local(
            pts, edges, "y_cont", permutations=PERMS, seed=12345
        ).select(F.sum("p_sim")).collect(),
    )
    timed(
        "g_local_crand",
        lambda: g_local(
            pts, edges, "y_cont", star=True, transform="R",
            permutations=PERMS, seed=12345,
        ).select(F.sum("p_sim")).collect(),
    )

    # --- spatial join over orders points (n = 150k at sf0.1) ---
    big = points_from_table(spark, sf_dir, "orders").repartition(CPUS).cache()
    n_big = big.count()
    polys = rotated_tiling(spark, 24, (-180.0, -90.0, 180.0, 90.0), theta=0.3)
    pip = timed(
        "pip_join_orders",
        lambda: point_in_polygon(big, polys, 25.0).count(),
    )
    before_orders = _pids(sc)
    timed("knn_build_orders", lambda: knn_edges(big, k=8).count(),
          fresh_blocks=True)
    _free_since(sc, before_orders)  # nothing downstream reads these edges
    sc._jvm.System.gc()  # let ContextCleaner drop finished broadcasts

    # --- text ops over documents ---
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(CPUS).cache()
    n_docs = docs.count()
    timed("minhash_sigs",
          lambda: minhash_signatures(docs, num_hashes=16).count())
    sigs = minhash_signatures(docs, num_hashes=16).cache()
    sigs.count()
    timed("lsh_pairs", lambda: lsh_candidate_pairs(sigs, 16, 4).count())
    timed("simhash", lambda: simhash_signatures(docs).count())
    from esda_spark.operators.text import minhash_dedup_groups
    timed(
        "minhash_dedup_groups",
        lambda: minhash_dedup_groups(docs, threshold=0.8)
        .where(F.col("is_canonical") == 0).count(),
    )

    # --- ANN over embeddings ---
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(CPUS).cache()
    emb.count()
    q = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    timed("ann_cosine_topk", lambda: cosine_topk(emb, q, k=10).count())
    from esda_spark.operators.similarity import near_dup_groups
    timed(
        "embedding_dedup_groups",
        lambda: near_dup_groups(emb, threshold=0.9, mode="lsh")
        .where(F.col("is_canonical") == 0).count(),
    )
    exact = cosine_topk(emb, q, k=10).cache()
    exact.count()

    from esda_spark.operators.similarity import lsh_topk, recall_at_k

    dim = len(emb.select("embedding").first()[0])
    # random-gaussian embeddings are LSH's worst case (no cluster
    # structure); 6 planes x 8 tables + Hamming-1 multiprobe
    timed("ann_lsh_topk",
          lambda: lsh_topk(emb, q, dim=dim, k=10, num_planes=6,
                           num_tables=8).count())
    approx = lsh_topk(emb, q, dim=dim, k=10, num_planes=6,
                      num_tables=8).cache()
    approx.count()
    times["_ann_lsh_recall_at_10"] = round(recall_at_k(approx, exact, 10), 4)
    exact.unpersist()
    approx.unpersist()

    # clustered embeddings (the retrieval regime LSH is built for):
    # planted near-neighbors, planes sized for ~25-vector buckets —
    # candidate volume ~ tables*(1+planes)/2^planes of the corpus
    from esda_spark.sources.embeddings import synthetic_embeddings

    cemb = synthetic_embeddings(
        spark, 20_000, dim=64, clusters=200, noise=0.35
    ).repartition(CPUS).cache()
    cemb.count()
    cq = cemb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cexact = cosine_topk(cemb, cq, k=10).cache()
    cexact.count()
    timed("ann_lsh_topk_clustered",
          lambda: lsh_topk(cemb, cq, dim=64, k=10, num_planes=10,
                           num_tables=8).count())
    capprox = lsh_topk(cemb, cq, dim=64, k=10, num_planes=10,
                       num_tables=8).cache()
    capprox.count()
    times["_ann_lsh_recall_clustered"] = round(
        recall_at_k(capprox, cexact, 10), 4
    )

    # IVF on the same clustered fixture (VERDICT r4 item 3): coarse
    # k-means quantizer + inverted lists; recall at nprobe 1 and 4
    # scored against the same exact top-10
    from esda_spark.operators.similarity import ivf_topk, kmeans_fit

    centers = kmeans_fit(cemb, k=64, max_iters=8, seed=7)
    timed("ann_ivf_topk_clustered",
          lambda: ivf_topk(cemb, cq, centers, k=10, nprobe=4).count())
    for nprobe in (1, 4):
        iapprox = ivf_topk(cemb, cq, centers, k=10, nprobe=nprobe).cache()
        iapprox.count()
        times[f"_ann_ivf_recall_nprobe{nprobe}"] = round(
            recall_at_k(iapprox, cexact, 10), 4
        )
        iapprox.unpersist()
    for df in (cexact, capprox, cemb):
        df.unpersist()

    times["_n_points"] = n_pts
    times["_n_orders"] = n_big
    times["_n_docs"] = n_docs
    times["_pip_rows"] = pip
    return times


SCALING_PERMS = int(os.environ.get("SPARK_GRAFT_SCALING_PERMS", "99999"))
SCALING_TABLE = os.environ.get("SPARK_GRAFT_SCALING_TABLE", "orders")


def lisa_throughput(cpus: int, sf_dir: str, perms: int) -> dict:
    """Run flagship LISA in THIS process at a given parallelism; returns
    docs/sec.  Used by the --scaling subprocess mode.

    The scaling job uses the biggest point table (orders: 150k sites at
    sf0.1) at the reference's own 9999 permutations so kernel compute
    dominates fixed per-job overhead — the sandbox stand-in for the
    north rule's N vs 4N cluster sizes.
    """
    from esda_spark.operators.local_stats import moran_local
    from esda_spark.operators.weights import knn_edges
    from esda_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(f"bench-scaling-{cpus}", parallelism=cpus,
                      shuffle_partitions=max(cpus, 8))
    import esda_spark.sources.points as P

    if SCALING_TABLE.startswith("synthetic:"):
        pts = P.synthetic_points(spark, int(SCALING_TABLE.split(":")[1])).cache()
    else:
        pts = P.points_from_table(spark, sf_dir, SCALING_TABLE).cache()
    n = pts.count()
    edges = knn_edges(pts, k=8).cache()
    edges.count()
    # warm-up (JIT, code cache) then timed run
    moran_local(pts, edges, "y_cont", permutations=50, seed=1).select(
        F.sum("p_sim")
    ).collect()
    t0 = time.perf_counter()
    moran_local(pts, edges, "y_cont", permutations=perms, seed=12345).select(
        F.sum("p_sim")
    ).collect()
    dt = time.perf_counter() - t0
    spark.stop()
    return {"cpus": cpus, "sec": round(dt, 3), "n": n,
            "docs_per_sec": round(n / dt, 1),
            "site_perms_per_sec": round(n * perms / dt, 0)}


def _kernel_task(args):
    """One simulated executor partition of the crand operator."""
    import numpy as np

    from esda_spark.operators.crand import crand_partition, vec_permutations

    seed, n, k, card, m = args
    rng = np.random.default_rng(seed)
    z = rng.normal(size=n)
    P = vec_permutations(card, n, k, 12345)
    ids = np.sort(rng.choice(n, m, replace=False))
    cards = np.full(m, card)
    flat_w = np.full(m * card, 1.0 / card)
    obs = rng.normal(size=m)
    t0 = time.perf_counter()
    crand_partition(
        ids, obs, np.zeros(m), cards, flat_w, z, P, "moran_local",
        scaling=1.0, island_weight=0.0, alternative="directed",
        keep=False, permutations=k,
    )
    return time.perf_counter() - t0


def _dgemm_task(seed):
    import numpy as np

    a = np.random.default_rng(seed).random((300, 300))
    for _ in range(200):
        a = a @ a * 1e-30 + a * 0.5
    return 0


def kernel_scaling() -> None:
    """Isolated compute-kernel scaling (the crand operator partition
    function, identical code path as the Spark workers) at N vs 4N
    worker processes, plus the machine's own pure-dgemm ceiling for
    the same process counts — separates the operator's scalability
    from this sandbox VM's hardware limits."""
    import multiprocessing as mp

    import numpy as np

    n, k, card = 600_000, int(os.environ.get("SPARK_GRAFT_SCALING_PERMS",
                                             "9999")), 8
    out = {}
    for procs in (2, 8, 32):
        m = n // procs
        args = [(i, n, k, card, m) for i in range(procs)]
        with mp.Pool(procs) as pool:
            t0 = time.perf_counter()
            pool.map(_kernel_task, args)
            wall = time.perf_counter() - t0
        out[procs] = {"wall": round(wall, 3),
                      "site_perms_per_sec": round(n * k / wall, 0)}

    ceiling = {}
    for procs in (2, 8, 32):
        with mp.Pool(procs) as pool:
            t0 = time.perf_counter()
            pool.map(_dgemm_task, range(procs))
            ceiling[procs] = procs / (time.perf_counter() - t0)
    eff_2_8 = (
        out[8]["site_perms_per_sec"] / (4.0 * out[2]["site_perms_per_sec"])
    )
    eff_8_32 = (
        out[32]["site_perms_per_sec"] / (4.0 * out[8]["site_perms_per_sec"])
    )
    print(json.dumps({
        "metric": "crand kernel scaling N -> 4N worker processes "
                  "(identical partition code as Spark workers)",
        "kernel_2": out[2], "kernel_8": out[8], "kernel_32": out[32],
        "efficiency_2_to_8": round(eff_2_8, 3),
        "efficiency_8_to_32": round(eff_8_32, 3),
        "hardware_dgemm_efficiency_2_to_8": round(
            ceiling[8] / (4.0 * ceiling[2]), 3),
        "hardware_dgemm_efficiency_8_to_32": round(
            ceiling[32] / (4.0 * ceiling[8]), 3),
        "n": n, "permutations": k,
    }))


def scale_smoke(n: int) -> None:
    """Flagship path at an arbitrary synthetic size (beyond the driver
    testdata): n geocoded points with 10% in 3 hot spots -> exact kNN(8)
    -> LISA with 99 permutations.  Evidence that the partitioning and
    the kNN kernel's hot-cell grid hold as n grows (e.g. at n=1e6 each
    hot spot holds ~33k points in a 0.2-degree disc; above the
    ``knn_targets`` gate the build runs in grid tiles)."""
    from pyspark.sql import functions as F

    from esda_spark.operators.local_stats import moran_local
    from esda_spark.operators.weights import knn_edges
    from esda_spark.session import get_spark
    from esda_spark.sources.points import synthetic_points

    spark = get_spark("scale-smoke", parallelism=CPUS,
                      shuffle_partitions=max(2 * CPUS, 16))
    pts = synthetic_points(spark, n).cache()
    n_real = pts.count()
    t0 = time.perf_counter()
    edges = knn_edges(pts, k=8).cache()
    ec = edges.count()
    t_knn = time.perf_counter() - t0
    t0 = time.perf_counter()
    moran_local(pts, edges, "y_cont", permutations=99, seed=7).agg(
        F.sum("p_sim")
    ).collect()
    t_lisa = time.perf_counter() - t0
    print(json.dumps({
        "metric": "scale smoke (synthetic points -> exact kNN8 -> LISA x99)",
        "n": n_real, "edges": ec,
        "knn_sec": round(t_knn, 1),
        "lisa_sec": round(t_lisa, 1),
        "lisa_docs_per_sec": round(n_real / t_lisa, 1),
        "cpus": CPUS,
    }))
    spark.stop()


def scale_smoke_pip(n: int) -> None:
    """Point-in-polygon join at arbitrary synthetic size: n geocoded
    points (hot-spot skew included) against a 24x24 rotated world
    tiling — evidence the cell-key shuffle + broadcast-refine plan
    holds as the point side grows."""
    from esda_spark.operators.spatial_join import point_in_polygon
    from esda_spark.session import get_spark
    from esda_spark.sources.points import synthetic_points
    from esda_spark.sources.polygons import rotated_tiling

    spark = get_spark("scale-smoke-pip", parallelism=CPUS,
                      shuffle_partitions=max(2 * CPUS, 16))
    pts = synthetic_points(spark, n).cache()
    n_real = pts.count()
    polys = rotated_tiling(spark, 24, (-180.0, -90.0, 180.0, 90.0),
                           theta=0.3)
    point_in_polygon(pts.limit(10_000), polys, 25.0).count()  # warm
    t0 = time.perf_counter()
    rows = point_in_polygon(pts, polys, 25.0).count()
    dt = time.perf_counter() - t0
    print(json.dumps({
        "metric": "scale smoke (synthetic points -> PIP join vs 24x24 "
                  "rotated tiling)",
        "n": n_real, "matched_rows": rows,
        "pip_sec": round(dt, 1),
        "points_per_sec": round(n_real / dt, 1),
        "cpus": CPUS,
    }))
    spark.stop()


def scale_smoke_dedup(n: int) -> None:
    """MinHash/LSH dedup at arbitrary synthetic corpus size with 1%
    planted near-duplicates: signatures -> banded candidate pairs ->
    planted-pair recall.  Evidence the one-explode signature aggregate
    and the band-bucket self-join hold as the corpus grows (candidate
    volume stays ~pairs-sharing-a-band, never all-pairs)."""
    from pyspark.sql import functions as F

    from esda_spark.operators.text import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from esda_spark.session import get_spark
    from esda_spark.sources.webpages import synthetic_documents

    spark = get_spark("scale-smoke-dedup", parallelism=CPUS,
                      shuffle_partitions=max(2 * CPUS, 16))
    docs = synthetic_documents(spark, n).cache()
    n_real = docs.count()
    minhash_signatures(docs.limit(2_000), num_hashes=16).count()  # warm
    t0 = time.perf_counter()
    sigs = minhash_signatures(docs, num_hashes=16).cache()
    sigs.count()
    t_sig = time.perf_counter() - t0
    t0 = time.perf_counter()
    pairs = lsh_candidate_pairs(sigs, 16, 4).cache()
    n_pairs = pairs.count()
    t_pairs = time.perf_counter() - t0
    planted = pairs.where(
        (F.col("doc_b") == F.col("doc_a") + 1)
        & (F.col("doc_b") % 100 == 1)
    ).count()
    # docs with id%100==1 in [0, n): doc 1's pair with doc 0 counts too
    expected = (n_real + 98) // 100
    print(json.dumps({
        "metric": "scale smoke (synthetic docs -> MinHash16 -> LSH "
                  "bands=4, 1% planted near-dups)",
        "n_docs": n_real, "candidate_pairs": n_pairs,
        "minhash_sec": round(t_sig, 1),
        "lsh_sec": round(t_pairs, 1),
        "docs_per_sec": round(n_real / (t_sig + t_pairs), 1),
        "planted_found": planted, "planted_total": expected,
        "planted_recall": round(planted / max(expected, 1), 4),
        "cpus": CPUS,
    }))
    spark.stop()


def scale_smoke_cc(n: int) -> None:
    """Connected-components worst case: one n-node PATH graph (diameter
    n-1).  Min-label propagation needs ~n shuffle rounds here — the
    round-3 1M-ADBSCAN stall; large-star/small-star must settle it in
    O(log n) rounds.  Verifies the single-component result exactly."""
    from esda_spark.operators.components import connected_components
    from esda_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("scale-smoke-cc", parallelism=CPUS,
                      shuffle_partitions=max(2 * CPUS, 16))
    edges = spark.range(n - 1).select(
        F.col("id").alias("focal"), (F.col("id") + 1).alias("neighbor")
    ).cache()
    edges.count()
    t0 = time.perf_counter()
    # incore_max_edges=0: this smoke certifies the DISTRIBUTED star
    # contraction (the small-graph driver fast path would soak up
    # anything below 2M edges)
    comp = connected_components(edges, "focal", "neighbor",
                                incore_max_edges=0)
    rows = comp.count()
    bad = comp.where(F.col("component") != 0).count()
    dt = time.perf_counter() - t0
    print(json.dumps({
        "metric": "scale smoke (n-node path graph -> connected "
                  "components via large-star/small-star; diameter n-1 "
                  "would need ~n propagation rounds)",
        "n_nodes": n, "rows": rows, "wrong_component": bad,
        "cc_sec": round(dt, 1),
        "nodes_per_sec": round(n / dt, 1),
        "cpus": CPUS,
    }))
    spark.stop()


def scale_smoke_adbscan(n: int) -> None:
    """Fused-ensemble ADBSCAN at arbitrary synthetic size: reps draws
    execute as one job chain (rep-translation encoding), so the wall
    time scales with total sampled points, not with reps x job
    latency.

    eps scales as 1/sqrt(n) so the expected eps-ball occupancy is
    constant across sizes — a FIXED eps over n-growing density makes
    the eps-graph quadratic inside hot spots for ANY DBSCAN (the
    reference's sklearn backend included); density-matched eps is the
    apples-to-apples scaling experiment."""
    import math

    from esda_spark.operators.adbscan import adbscan
    from esda_spark.session import get_spark
    from esda_spark.sources.points import synthetic_points

    spark = get_spark("scale-smoke-adbscan", parallelism=CPUS,
                      shuffle_partitions=max(2 * CPUS, 16))
    pts = synthetic_points(spark, n).cache()
    n_real = pts.count()
    eps = 0.5 * math.sqrt(150_000 / max(n_real, 1))
    t0 = time.perf_counter()
    res = adbscan(pts, eps=eps, min_samples=20, pct_exact=0.1, reps=8,
                  seed=3, pct_thr=0.7)
    rows = res.count()
    dt = time.perf_counter() - t0
    print(json.dumps({
        "metric": "scale smoke (synthetic points -> fused ADBSCAN, "
                  "8 draws at 10% sampling, density-matched eps)",
        "n": n_real, "rows": rows, "eps": round(eps, 4),
        "adbscan_sec": round(dt, 1),
        "points_per_sec": round(n_real / dt, 1),
        "cpus": CPUS,
    }))
    spark.stop()


def main() -> None:
    if "--scale-smoke-cc" in sys.argv:
        i = sys.argv.index("--scale-smoke-cc")
        scale_smoke_cc(int(sys.argv[i + 1]) if len(sys.argv) > i + 1
                       else 1_000_000)
        return
    if "--scale-smoke-adbscan" in sys.argv:
        i = sys.argv.index("--scale-smoke-adbscan")
        scale_smoke_adbscan(int(sys.argv[i + 1]) if len(sys.argv) > i + 1
                            else 1_000_000)
        return
    if "--scale-smoke-pip" in sys.argv:
        i = sys.argv.index("--scale-smoke-pip")
        scale_smoke_pip(int(sys.argv[i + 1]) if len(sys.argv) > i + 1
                        else 1_000_000)
        return
    if "--scale-smoke-dedup" in sys.argv:
        i = sys.argv.index("--scale-smoke-dedup")
        scale_smoke_dedup(int(sys.argv[i + 1]) if len(sys.argv) > i + 1
                          else 1_000_000)
        return
    if "--scale-smoke" in sys.argv:
        i = sys.argv.index("--scale-smoke")
        n = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 1_000_000
        scale_smoke(n)
        return
    if "--kernel-scaling" in sys.argv:
        os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
        kernel_scaling()
        return
    if "--scaling" in sys.argv:
        if "--scaling-child" in sys.argv:
            cpus = int(sys.argv[sys.argv.index("--cpus") + 1])
            print(json.dumps(lisa_throughput(cpus, SF_DIR, SCALING_PERMS)))
            return
        results = {}
        for cpus in (8, 32):
            out = subprocess.run(
                [sys.executable, __file__, "--scaling", "--scaling-child",
                 "--cpus", str(cpus)],
                capture_output=True, text=True, check=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            results[cpus] = json.loads(out.stdout.strip().splitlines()[-1])
        t8 = results[8]["docs_per_sec"]
        t32 = results[32]["docs_per_sec"]
        eff = t32 / (4.0 * t8)
        print(json.dumps({
            "metric": "LISA throughput scaling N=8 -> 4N=32 cores",
            "throughput_8": t8, "throughput_32": t32,
            "sec_8": results[8]["sec"], "sec_32": results[32]["sec"],
            "scaling_efficiency": round(eff, 3),
            "sf": _sf_label(SF_DIR), "permutations": SCALING_PERMS,
            "table": SCALING_TABLE,
        }))
        return

    from esda_spark.session import get_spark

    spark = get_spark("bench", parallelism=CPUS)
    t_wall = time.perf_counter()
    _warmup(spark, SF_DIR)
    times = run_queries(spark, SF_DIR)
    wall = round(time.perf_counter() - t_wall, 3)
    n_pts = times.pop("_n_points")
    times.pop("_n_orders")
    times.pop("_n_docs")
    times.pop("_pip_rows")
    lsh_recall = times.pop("_ann_lsh_recall_at_10")
    clustered_recall = times.pop("_ann_lsh_recall_clustered", None)
    ivf_recalls = {
        n: times.pop(f"_ann_ivf_recall_nprobe{n}", None) for n in (1, 4)
    }
    total = round(sum(v for v in times.values()), 3)
    out = {
        "metric": "esda_spark headline suite (LISA+global stats, spatial "
                  "joins, dedup, ANN); per-query median of "
                  f"{REPEATS} warmed runs, value = sum of medians",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": _sf_label(SF_DIR),
        "wall_sec_incl_warmup_and_repeats": wall,
        "lisa_docs_per_sec": round(n_pts / times["lisa_crand"], 1),
        "ann_lsh_recall_at_10": lsh_recall,
        "permutations": PERMS,
    }
    if clustered_recall is not None:
        out["ann_lsh_recall_at_10_clustered"] = clustered_recall
    for n, r in ivf_recalls.items():
        if r is not None:
            out[f"ann_ivf_recall_at_10_nprobe{n}"] = r
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
