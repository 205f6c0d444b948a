#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is frozen; this
file holds the extra instrumentation the optimization round needs:
noop-sink isolation per guide §1.4, per-phase profiling, and
explain("formatted") capture for plans/r06/).

Usage:
  python bench_extra.py plans [out_suffix]   # capture plans/r06/*_{suffix}.txt
  python bench_extra.py profile-global       # job timing of moran/geary/getis
  python bench_extra.py profile-dedup        # minhash_dedup_groups stages
  python bench_extra.py profile-lisa         # lisa_crand / g_local phases
  python bench_extra.py noop                 # noop-sink per-query timing
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PERMS = int(os.environ.get("SPARK_GRAFT_BENCH_PERMS", "999"))


def _spark():
    from esda_spark.session import get_spark

    return get_spark("bench-extra", parallelism=CPUS)


def _fixtures(spark):
    from pyspark.sql import functions as F

    from esda_spark.sources.points import points_from_table

    pts = points_from_table(spark, SF_DIR, "customer").repartition(CPUS).cache()
    pts.count()
    big = points_from_table(spark, SF_DIR, "orders").repartition(CPUS).cache()
    big.count()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS).cache()
    docs.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(CPUS).cache()
    emb.count()
    return pts, big, docs, emb


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(label, fn, n=3):
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        out.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"label": label, "samples": out,
                      "median": sorted(out)[len(out) // 2]}), flush=True)


def profile_global() -> None:
    from esda_spark.operators.global_stats import geary, getis_g, moran
    from esda_spark.operators.weights import knn_edges

    spark = _spark()
    pts, big, docs, emb = _fixtures(spark)
    edges = knn_edges(pts, k=8).cache()
    edges.count()
    moran(pts, edges, "y_cont", "r")  # warm
    _timed("moran_global", lambda: moran(pts, edges, "y_cont", "r"))
    _timed("geary_global", lambda: geary(pts, edges, "y_cont", "r"))
    _timed("getis_g_global", lambda: getis_g(pts, edges, "y_cont"))


def profile_lisa() -> None:
    from pyspark.sql import functions as F

    from esda_spark.operators.local_stats import g_local, moran_local
    from esda_spark.operators.weights import knn_edges

    spark = _spark()
    pts, big, docs, emb = _fixtures(spark)
    edges = knn_edges(pts, k=8).cache()
    edges.count()
    moran_local(pts, edges, "y_cont", permutations=19, seed=1).agg(
        F.sum("p_sim")).collect()  # warm
    _timed("lisa_crand", lambda: moran_local(
        pts, edges, "y_cont", permutations=PERMS, seed=12345
    ).select(F.sum("p_sim")).collect())
    _timed("g_local_crand", lambda: g_local(
        pts, edges, "y_cont", star=True, transform="R",
        permutations=PERMS, seed=12345,
    ).select(F.sum("p_sim")).collect())


def profile_dedup() -> None:
    from pyspark.sql import functions as F

    from esda_spark.operators.components import connected_components
    from esda_spark.operators.text import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    spark = _spark()
    pts, big, docs, emb = _fixtures(spark)
    minhash_signatures(docs.limit(500), num_hashes=16).count()  # warm
    _timed("sig16", lambda: minhash_signatures(docs, num_hashes=16).count())
    sig = minhash_signatures(docs, num_hashes=16).cache()
    sig.count()
    _timed("lsh_pairs16", lambda: lsh_candidate_pairs(sig, 16, 4).count())
    cand = lsh_candidate_pairs(sig, 16, 4).cache()
    cand.count()
    _timed("jaccard_verify", lambda: ngram_jaccard_pairs(docs, cand)
           .where(F.col("jaccard") >= 0.8).count())
    ver = ngram_jaccard_pairs(docs, cand).where(
        F.col("jaccard") >= 0.8).cache()
    ver.count()
    _timed("components", lambda: connected_components(
        ver, src="doc_a", dst="doc_b").count())


def profile_pip() -> None:
    from esda_spark.operators.spatial_join import point_in_polygon
    from esda_spark.sources.polygons import rotated_tiling

    spark = _spark()
    pts, big, docs, emb = _fixtures(spark)
    polys = rotated_tiling(spark, 24, (-180.0, -90.0, 180.0, 90.0), theta=0.3)
    point_in_polygon(big.limit(10000), polys, 25.0).count()  # warm
    _timed("pip_join_orders", lambda: point_in_polygon(big, polys, 25.0).count())


def profile_ann() -> None:
    from pyspark.sql import functions as F

    from esda_spark.operators.similarity import (
        cosine_topk, lsh_topk, near_dup_groups,
    )
    from esda_spark.sources.embeddings import synthetic_embeddings

    spark = _spark()
    pts, big, docs, emb = _fixtures(spark)
    q = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dim = len(emb.select("embedding").first()[0])
    cosine_topk(emb, q, k=10).count()  # warm
    _timed("ann_cosine_topk", lambda: cosine_topk(emb, q, k=10).count())
    _timed("embedding_dedup_groups", lambda: near_dup_groups(
        emb, threshold=0.9, mode="lsh")
        .where(F.col("is_canonical") == 0).count())
    _timed("ann_lsh_topk", lambda: lsh_topk(
        emb, q, dim=dim, k=10, num_planes=6, num_tables=8).count())
    cemb = synthetic_embeddings(
        spark, 20_000, dim=64, clusters=200, noise=0.35
    ).repartition(CPUS).cache()
    cemb.count()
    cq = cemb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding")
    _timed("ann_lsh_topk_clustered", lambda: lsh_topk(
        cemb, cq, dim=64, k=10, num_planes=10, num_tables=8).count())
    from esda_spark.operators.similarity import ivf_topk, kmeans_fit

    centers = kmeans_fit(cemb, k=64, max_iters=8, seed=7)
    _timed("ann_ivf_topk_clustered", lambda: ivf_topk(
        cemb, cq, centers, k=10, nprobe=4).count())


def ivf_cogroup_smoke(n_queries: int = 1_000_000,
                      n_corpus: int = 200_000) -> None:
    """VERDICT r5 item 9: the large-q IVF posture — 1M probe-side rows
    must flow through the cogroup (no broadcast of the probe side).
    Prints queries/s plus a plan check that the final plan contains
    FlatMapCoGroupsInPandas and no BroadcastExchange feeding it."""
    from pyspark.sql import functions as F

    from esda_spark.operators.similarity import ivf_topk, kmeans_fit
    from esda_spark.sources.embeddings import synthetic_embeddings

    spark = _spark()
    corpus = synthetic_embeddings(
        spark, n_corpus, dim=64, clusters=512, noise=0.35
    ).repartition(CPUS).cache()
    corpus.count()
    queries = synthetic_embeddings(
        spark, n_queries, dim=64, clusters=512, noise=0.35, seed=99
    ).select(F.col("vec_id").alias("query_id"), "embedding") \
        .repartition(CPUS).cache()
    nq = queries.count()
    centers = kmeans_fit(corpus, k=256, max_iters=6, seed=7)
    res = ivf_topk(corpus, queries, centers, k=10, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    t0 = time.perf_counter()
    res.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    n_rows = None  # noop sink computes every row without a recount
    print(json.dumps({
        "metric": "IVF cogroup large-q smoke (corpus x 1M queries, "
                  "probe side never broadcast)",
        "n_corpus": n_corpus, "n_queries": nq, "k": 10, "nprobe": 2,
        "result_rows": n_rows, "sec": round(dt, 1),
        "queries_per_sec": round(nq / dt, 1),
        "plan_has_cogroup": "FlatMapCoGroupsInPandas" in plan,
        "plan_broadcasts_probes": "BroadcastExchange" in plan,
        "cpus": CPUS,
    }), flush=True)
    spark.stop()


def capture_plans(suffix: str) -> None:
    """explain("formatted") for the touched queries -> plans/r06/."""
    from pyspark.sql import functions as F

    from esda_spark.operators.similarity import lsh_topk, near_dup_groups
    from esda_spark.operators.spatial_join import point_in_polygon
    from esda_spark.operators.text import (
        lsh_candidate_pairs,
        minhash_dedup_groups,
        minhash_signatures,
        paragraph_dedup,
        simhash_signatures,
    )
    from esda_spark.operators.weights import transform_weights
    from esda_spark.sources.points import points_from_table
    from esda_spark.sources.polygons import rotated_tiling

    spark = _spark()
    pts, big, docs, emb = _fixtures(spark)
    polys = rotated_tiling(spark, 24, (-180.0, -90.0, 180.0, 90.0), theta=0.3)
    q = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dim = len(emb.select("embedding").first()[0])
    sig = minhash_signatures(docs, num_hashes=16)

    from esda_spark.operators.global_stats import _edge_pair_agg  # noqa
    from esda_spark.operators.knn_incore import (
        build_target_index, knn_batch,
    )
    from esda_spark.operators.local_stats import g_local, moran_local
    from esda_spark.operators.weights import knn_edges

    # the kNN fast path materializes eagerly; capture the kernel plan
    # pre-checkpoint by rebuilding its pieces
    import numpy as np

    tpdf = big.select("id", "x", "y").toPandas()
    idx0 = build_target_index(
        tpdf["id"].to_numpy(np.int64), tpdf["x"].to_numpy(np.float64),
        tpdf["y"].to_numpy(np.float64), 8)
    bc0 = spark.sparkContext.broadcast(idx0)

    def _kernel(batches):
        for pdf in batches:
            f, n, d2 = knn_batch(
                pdf["id"].to_numpy(np.int64),
                pdf["x"].to_numpy(np.float64),
                pdf["y"].to_numpy(np.float64), bc0.value, 8, True, None)
            import pandas as _pd
            yield _pd.DataFrame({"focal": f, "neighbor": n,
                                 "weight": np.ones(len(f))})

    knn_kernel_df = big.select("id", "x", "y").mapInPandas(
        _kernel, schema="focal long, neighbor long, weight double")

    edges_c = knn_edges(pts, k=8)
    plans = {
        "knn_build_orders": knn_kernel_df,
        "moran_local_observed": moran_local(pts, edges_c, "y_cont",
                                            permutations=0),
        "g_local_star_observed": g_local(pts, edges_c, "y_cont",
                                         star=True, transform="R",
                                         permutations=0),
        "pip_join_orders": point_in_polygon(big, polys, 25.0),
        "minhash_sigs": sig,
        "lsh_pairs": lsh_candidate_pairs(sig, 16, 4),
        "simhash": simhash_signatures(docs),
        "minhash_dedup_groups": minhash_dedup_groups(docs, threshold=0.8),
        "embedding_dedup_groups": near_dup_groups(emb, threshold=0.9,
                                                  mode="lsh"),
        "ann_lsh_topk": lsh_topk(emb, q, dim=dim, k=10, num_planes=6,
                                 num_tables=8),
        "paragraph_dedup": paragraph_dedup(docs, split_pattern=" data ",
                                           joiner="\n\n"),
        "weights_rowstd": transform_weights(
            spark.createDataFrame(
                [(0, 1, 1.0)], "focal long, neighbor long, weight double"
            ), "R"),
    }
    os.makedirs("plans/r06", exist_ok=True)
    for name, df in plans.items():
        path = f"plans/r06/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
        print(f"wrote {path}", flush=True)


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "noop"
    if cmd == "plans":
        capture_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif cmd == "profile-global":
        profile_global()
    elif cmd == "profile-lisa":
        profile_lisa()
    elif cmd == "profile-dedup":
        profile_dedup()
    elif cmd == "profile-pip":
        profile_pip()
    elif cmd == "profile-ann":
        profile_ann()
    elif cmd == "ivf-cogroup-smoke":
        ivf_cogroup_smoke(
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
        )
    else:
        raise SystemExit(f"unknown subcommand {cmd!r}")


if __name__ == "__main__":
    main()
