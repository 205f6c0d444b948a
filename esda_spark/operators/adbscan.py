"""A-DBSCAN: ensemble DBSCAN with sampled draws + 1-NN label extension
(reference ``adbscan.py:22-444``, SURVEY.md §2.4-C1).

Spark-first re-architecture — the reference thins the data, runs
sklearn DBSCAN per draw in joblib, extends labels with a 1-NN
classifier, re-maps labels by centroid proximity and majority-votes.
Here every step is a distributed dataflow:

1. draw r samples `pct_exact` of points by seeded hash;
2. DBSCAN on the sample is expressed as: distance-band edges at eps
   (cell-candidate join) -> core points (>= min_samples-1 neighbors)
   -> connected components over core-core edges by large-star /
   small-star contraction (O(log n) rounds; components.py) -> border
   points attach to their minimum-label core neighbor;
3. labels extend to all points via an exact 1-NN join;
4. labels re-map across draws by nearest cluster centroid to draw 0
   (tiny driver-side table, as in reference ``remap_lbls``), then
   majority vote with agreement fraction (reference ``ensemble``).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esda_spark.operators.components import connected_components
from esda_spark.operators.spatial_join import knn_join
from esda_spark.operators.weights import distance_band_edges

NOISE = -1


def dbscan(
    points: DataFrame,
    eps: float,
    min_samples: int,
    cell_size: float | None = None,
    max_iterations: int = 40,
    dense_contraction: bool = True,
) -> DataFrame:
    """(id, cluster): distributed DBSCAN; cluster = min point id in the
    component, NOISE (-1) for noise points.

    Core-core components run through large-star/small-star contraction
    (``components.connected_components``), which converges in O(log n)
    rounds instead of the O(component-diameter) min-label propagation
    used through round 3.

    ``dense_contraction`` (default on; False runs `_dbscan_flat`)
    selects the exact grid path (`_dbscan_grid`): the eps
    neighborhood graph of a density hot spot is a near-clique whose
    edge count grows QUADRATICALLY in local density — at 1M synthetic
    points one 100k draw materializes 32M band edges, and every
    downstream pass (degree, core semi-joins, components, border) pays
    for them.  Gridding at eps/2 makes every cell with >= min_samples
    points an all-core clique (cell diagonal = eps/sqrt(2) < eps) that
    contracts to ONE component node, so dense-dense point pairs are
    never enumerated: per-cell candidate COUNTS aggregate map-side,
    and dense-dense connectivity is one early-exit existence kernel
    per adjacent cell pair.  Published structure: Gunawan (2013) /
    Gan & Tao SIGMOD 2015 exact grid DBSCAN, re-expressed as Spark
    dataflow.  ``cell_size`` only affects the flat path (the grid is
    eps/2 by construction)."""
    if dense_contraction:
        return _dbscan_grid(points, eps, min_samples, max_iterations)
    return _dbscan_flat(points, eps, min_samples, cell_size,
                        max_iterations)


def _dbscan_grid(
    points: DataFrame,
    eps: float,
    min_samples: int,
    max_iterations: int = 40,
) -> DataFrame:
    """Exact grid DBSCAN: identical output to `_dbscan_flat`, near-
    linear in hot-spot density instead of quadratic (see `dbscan`)."""
    from esda_spark.plans.cells import expand_ring, unpack_cell, with_cell

    g = float(eps) / 2.0
    eps2 = float(eps) ** 2
    pts = with_cell(points.select("id", "x", "y"), g)
    counts = pts.groupBy("cell").count()
    # cache: #cells rows consumed three times (pts_f flag join, the
    # dense-pair ring, and the ring's left_semi) — uncached, each use
    # re-aggregates the full points table
    dense_cells = counts.where(
        F.col("count") >= int(min_samples)
    ).select("cell").cache()
    pts_f = (
        pts.join(dense_cells.withColumn("_dense", F.lit(True)),
                 "cell", "left")
        .withColumn("_dense", F.coalesce("_dense", F.lit(False)))
        .cache()
    )
    dense_pts = pts_f.where(F.col("_dense"))
    sparse_pts = pts_f.where(~F.col("_dense"))
    # supernode id per dense cell = min member id, so component minima
    # stay point ids and labels match the flat path exactly
    super_ = dense_pts.groupBy("cell").agg(F.min("id").alias("snode"))

    # ONE ring join gives everything point-level the algorithm needs.
    # radius 2 at g = eps/2 covers the eps disk (|dx| <= eps = 2g =>
    # |dcell| <= 2); the per-(focal, cell) aggregate collapses the
    # skew-heavy sparse-x-dense candidate volume map-side — dense-cell
    # neighbors contribute a COUNT, never rows.  Sparse-cell neighbor
    # ids are collected per cell (< min_samples of them by definition).
    tgt = pts_f.select(
        F.col("id").alias("neighbor"), F.col("x").alias("nx"),
        F.col("y").alias("ny"), "cell", F.col("_dense").alias("n_dense"),
    )
    dx = F.col("x") - F.col("nx")
    dy = F.col("y") - F.col("ny")
    agg = (
        expand_ring(sparse_pts, 2)
        .join(tgt, "cell")
        .where(F.col("id") != F.col("neighbor"))
        .where(dx * dx + dy * dy <= F.lit(eps2))
        .groupBy("id", "cell")
        .agg(
            F.count("*").alias("cnt"),
            F.first("n_dense").alias("n_dense"),
            F.collect_list(
                F.when(~F.col("n_dense"), F.col("neighbor"))
            ).alias("sn"),
        )
        .cache()
    )
    degree = agg.groupBy("id").agg(F.sum("cnt").alias("deg"))
    sparse_core = degree.where(
        F.col("deg") >= int(min_samples) - 1
    ).select("id").cache()
    sparse_pairs = agg.where(~F.col("n_dense")).select(
        "id", F.explode("sn").alias("neighbor")
    )
    dense_touch = agg.where(F.col("n_dense")).select("id", "cell")

    # component edges: sparse-core <-> sparse-core, sparse-core <->
    # dense supernode, dense <-> dense (existence-checked per adjacent
    # cell pair — the only place dense point sets meet, via an
    # early-exit Arrow kernel, never a pair enumeration in the plan)
    e1 = (
        sparse_pairs
        .join(sparse_core, "id", "left_semi")
        .join(sparse_core.withColumnRenamed("id", "neighbor"),
              "neighbor", "left_semi")
        .select(F.col("id").alias("u"), F.col("neighbor").alias("v"))
    )
    e2 = (
        dense_touch.join(sparse_core, "id", "left_semi")
        .join(super_, "cell")
        .select(F.col("id").alias("u"), F.col("snode").alias("v"))
    )
    dcx, dcy = unpack_cell(F.col("cell"))
    dc = dense_cells.select(
        F.col("cell").alias("ca"), dcx.alias("cx"), dcy.alias("cy")
    )
    pairs = (
        expand_ring(dc, 2, out="cb")
        .join(dense_cells.withColumnRenamed("cell", "cb"), "cb",
              "left_semi")
        .where(F.col("cb") > F.col("ca"))
        .join(super_.select(F.col("cell").alias("ca"),
                            F.col("snode").alias("ua")), "ca")
        .join(super_.select(F.col("cell").alias("cb"),
                            F.col("snode").alias("ub")), "cb")
        .select("ca", "cb", "ua", "ub")
    )
    mem = dense_pts.select("cell", "x", "y")
    pair_pts = (
        pairs.join(mem.withColumnRenamed("cell", "ca"), "ca")
        .select("ca", "cb", "ua", "ub", F.lit(0).alias("side"), "x", "y")
        .unionByName(
            pairs.join(mem.withColumnRenamed("cell", "cb"), "cb")
            .select("ca", "cb", "ua", "ub", F.lit(1).alias("side"),
                    "x", "y")
        )
    )

    def _pair_connected(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"u": pd.Series(dtype="int64"),
                              "v": pd.Series(dtype="int64")})
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if len(a) == 0 or len(b) == 0:
            return empty
        ax = a["x"].to_numpy(); ay = a["y"].to_numpy()
        bx = b["x"].to_numpy(); by = b["y"].to_numpy()
        # bbox prune: a point farther than eps from the other side's
        # bounding box cannot participate in a crossing pair
        ddx = np.maximum.reduce([bx.min() - ax, ax - bx.max(),
                                 np.zeros_like(ax)])
        ddy = np.maximum.reduce([by.min() - ay, ay - by.max(),
                                 np.zeros_like(ay)])
        keep = ddx * ddx + ddy * ddy <= eps2
        ax, ay = ax[keep], ay[keep]
        if ax.size == 0:
            return empty
        ddx = np.maximum.reduce([ax.min() - bx, bx - ax.max(),
                                 np.zeros_like(bx)])
        ddy = np.maximum.reduce([ay.min() - by, by - ay.max(),
                                 np.zeros_like(by)])
        keep = ddx * ddx + ddy * ddy <= eps2
        bx, by = bx[keep], by[keep]
        if bx.size == 0:
            return empty
        # chunked existence scan — adjacent dense Gaussian cells hit on
        # the first block; the full |A|x|B| cost only arises for cell
        # pairs that are NOT connected yet survive the bbox prune
        step = max(1, 262_144 // max(bx.size, 1))
        for i in range(0, ax.size, step):
            d2 = (
                (ax[i:i + step, None] - bx[None, :]) ** 2
                + (ay[i:i + step, None] - by[None, :]) ** 2
            )
            if (d2 <= eps2).any():
                return pd.DataFrame(
                    {"u": [int(pdf["ua"].iloc[0])],
                     "v": [int(pdf["ub"].iloc[0])]}
                )
        return empty

    e3 = pair_pts.groupBy("ca", "cb").applyInPandas(
        _pair_connected, "u long, v long"
    )
    comp = connected_components(
        e1.unionByName(e2).unionByName(e3), "u", "v",
        max_iterations=max_iterations,
    ).cache()

    cell_cluster = (
        super_.join(comp.withColumnRenamed("id", "snode"), "snode", "left")
        .select("cell",
                F.coalesce("component", F.col("snode")).alias("cluster"))
    ).cache()
    dense_labels = (
        dense_pts.select("id", "cell").join(cell_cluster, "cell")
        .select("id", "cluster")
    )
    sparse_core_labels = (
        sparse_core.join(comp, "id", "left")
        .select("id",
                F.coalesce("component", F.col("id")).alias("cluster"))
    ).cache()
    # border points: non-core, labelled by the minimum cluster among
    # their core neighbors (identical to the flat path's min-ncl rule;
    # every dense-cell neighbor is core, sparse neighbors only if core)
    border_sparse = (
        sparse_pairs.join(
            sparse_core_labels.withColumnRenamed("id", "neighbor")
            .withColumnRenamed("cluster", "ncl"), "neighbor")
        .select("id", "ncl")
    )
    border_dense = (
        dense_touch.join(cell_cluster, "cell")
        .select("id", F.col("cluster").alias("ncl"))
    )
    border = (
        border_sparse.unionByName(border_dense)
        .join(sparse_core, "id", "left_anti")
        .groupBy("id").agg(F.min("ncl").alias("cluster"))
    )
    assigned = (
        dense_labels
        .unionByName(sparse_core_labels)
        .unionByName(border)
    )
    out = (
        points.select("id")
        .join(assigned, "id", "left")
        .withColumn("cluster", F.coalesce("cluster", F.lit(NOISE)))
        .localCheckpoint(eager=True)
    )
    for c in (pts_f, agg, sparse_core, comp, cell_cluster,
              sparse_core_labels, dense_cells):
        c.unpersist()
    return out


def _dbscan_flat(
    points: DataFrame,
    eps: float,
    min_samples: int,
    cell_size: float | None = None,
    max_iterations: int = 40,
) -> DataFrame:
    """Band-edge materializing path (pre-round-5): exact, but edge
    count grows quadratically inside density hot spots."""
    edges = distance_band_edges(
        points, threshold=eps, cell_size=cell_size or eps
    ).cache()
    degree = edges.groupBy("focal").count()
    if min_samples <= 1:
        # sklearn semantics: the eps-ball always holds the point itself,
        # so min_samples=1 makes EVERY point core (edge-less isolated
        # points included — they are absent from the degree table)
        core = points.select("id").cache()
    else:
        core = degree.where(F.col("count") >= min_samples - 1).select(
            F.col("focal").alias("id")
        ).cache()
    cc_edges = (
        edges.join(core.withColumnRenamed("id", "focal"), "focal", "left_semi")
        .join(core.withColumnRenamed("id", "neighbor"), "neighbor", "left_semi")
        .select("focal", "neighbor")
    )
    comp = connected_components(cc_edges, "focal", "neighbor",
                                max_iterations=max_iterations)
    # isolated core points (no core neighbor) label themselves
    labels = core.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("cluster")
    ).cache()
    labels.count()
    border = (
        edges.join(labels.withColumnRenamed("id", "neighbor")
                   .withColumnRenamed("cluster", "ncl"), "neighbor")
        .groupBy("focal").agg(F.min("ncl").alias("cluster"))
        .withColumnRenamed("focal", "id")
        .join(labels.select("id"), "id", "left_anti")
    )
    assigned = labels.unionByName(border)
    out = (
        points.select("id")
        .join(assigned, "id", "left")
        .withColumn("cluster", F.coalesce("cluster", F.lit(NOISE)))
        # settle the result, then free this build's cached inputs —
        # repeated dbscan calls in one session otherwise accumulate
        # edge/label blocks (the band edge set alone is ~50x the points)
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    core.unpersist()
    labels.unpersist()
    return out


def adbscan(
    points: DataFrame,
    eps: float,
    min_samples: int,
    pct_exact: float = 0.1,
    reps: int = 10,
    seed: int = 42,
    pct_thr: float = 0.9,
    cell_size: float | None = None,
    checkpoint_dir: str | None = None,
    fingerprint: str = "",
) -> DataFrame:
    """(id, lbls, pct): majority-vote cluster labels + agreement share.

    Points whose winning label wins less than ``pct_thr`` of draws are
    set to noise, mirroring the reference's `pct_thr` gate.

    ``checkpoint_dir``: when set, the two expensive phases — the fused
    DBSCAN labels and the 1-NN extension — materialize through
    ``plans.checkpoint.stage`` with manifested fingerprints, so a
    killed multi-hour run resumes from the last completed phase
    (``fingerprint`` should identify the input data; all ADBSCAN
    parameters are chained into each stage's fingerprint
    automatically).

    All ``reps`` draws execute as ONE fused job chain, not a serial
    Python loop of per-draw jobs: draw r is encoded as the spatial
    translation x -> x + r*offset with composite ids r*id_base + id.
    Cross-draw contamination is excluded structurally, not by gap
    sizing: the offset (> span + eps) keeps distance-band edges inside
    their own draw, and the 1-NN extension passes ``group_div=id_base``
    to ``knn_join`` so BOTH its candidate paths (doubling rings and the
    straggler brute force, either of which can reach arbitrarily far)
    only ever match same-draw pairs — a sparse outlier whose own-draw
    nearest sample is distant still gets that sample, never an
    adjacent draw's translated copy.  One dbscan call then resolves
    every draw's components simultaneously, one knn_join extends every
    draw's labels, and the per-draw centroid collects collapse into
    one groupBy.  The encoding is exact: min-composite-id per
    component decodes to min-id within the draw, and 1-NN tie-break
    order on composite ids equals id order.
    """
    agg = points.agg(
        F.max("id").alias("mi"), F.min("id").alias("lo"),
        F.min("x").alias("x0"), F.max("x").alias("x1"),
    ).collect()[0]
    id_base = int(agg.mi) + 1
    if int(agg.lo) < 0 or reps * id_base >= 2**62:
        raise ValueError(
            "adbscan composite ids need 0 <= id and reps*(max_id+1) < "
            f"2^62; got min_id={agg.lo}, max_id={agg.mi}, reps={reps}. "
            "Densify ids first (e.g. row_number over a stable order)."
        )
    cs = cell_size or eps
    offset = float(agg.x1 - agg.x0) + 64.0 * max(eps, cs) + 1.0
    ms = max(int(np.floor(min_samples * pct_exact)), 1)

    rep_seq = F.explode(
        F.sequence(F.lit(0), F.lit(reps - 1))
    ).alias("_r")
    base_pts = points.select("id", "x", "y")
    # every draw's thinned sample, rep-translated, composite-keyed
    thin_all = (
        base_pts.select("id", "x", "y", rep_seq)
        .where(
            F.pmod(F.xxhash64("id", F.col("_r"), F.lit(seed)), 1000)
            < int(pct_exact * 1000)
        )
        .select(
            (F.col("_r") * id_base + F.col("id")).alias("id"),
            (F.col("x") + F.col("_r") * offset).alias("x"),
            "y",
        )
    )
    def _stage(name, fp, build):
        if checkpoint_dir is None:
            return build()
        from esda_spark.plans.checkpoint import stage

        return stage(points.sparkSession, f"{checkpoint_dir}/{name}",
                     fp, build)

    fp0 = (f"{fingerprint}|adbscan eps={eps} ms={min_samples} "
           f"pct={pct_exact} reps={reps} seed={seed} cs={cell_size} "
           f"idb={id_base}")
    lab = _stage(
        "labels", f"{fp0}|dbscan",
        lambda: dbscan(thin_all, eps, ms, cell_size=cell_size)
        .withColumnRenamed("cluster", "lbl"),
    ).cache()
    labeled = thin_all.join(lab, "id").cache()
    # 1-NN extension of every draw's labels to every point, one join
    all_rep = base_pts.select("id", "x", "y", rep_seq).select(
        (F.col("_r") * id_base + F.col("id")).alias("id"),
        (F.col("x") + F.col("_r") * offset).alias("x"),
        "y",
    )
    ext = _stage(
        "ext", f"{fp0}|dbscan|knn1_ext",
        # cell_size=None: the 1-NN targets are a pct_exact sample, so
        # the right grid scale is the TARGET density (mean labeled
        # spacing), not eps — eps-cells leave sparse-background focals
        # doubling through many ring rounds before they ever see a
        # labeled point (measured 419 -> 217 s cold / 193 -> 102 s warm
        # at 1M x 8 draws, together with the k=1 min-struct aggregate)
        lambda: knn_join(all_rep, labeled.select("id", "x", "y"), k=1,
                         cell_size=None, group_div=id_base)
        .select(F.col("left_id").alias("cid"),
                F.col("right_id").alias("src"))
        .join(lab.withColumnRenamed("id", "src"), "src")
        .select(
            # integer div/mod decode: exact for the full int64 range
            # (double division loses exactness past 2^53)
            (F.col("cid") % id_base).alias("id"),
            F.expr(f"cid div {id_base}").alias("rep"),
            "lbl",
        ),
    ).cache()

    # centroid-based label remap to draw 0, ENTIRELY in Spark: cluster
    # labels are min composite ids, hence globally unique across draws,
    # so one groupBy(lbl) over original coordinates yields every draw's
    # centroids and a knn_join(k=1) of non-base centroids onto draw-0
    # centroids is the exact nearest-base matching — O(n) grid work
    # instead of the former driver-side collect + per-label nearest
    # loop, which was O(L_r * L_0) per draw and pinned the driver for
    # >15 min at 1M points (~50k tiny clusters per draw).  knn_join's
    # (d2, neighbor) ranking resolves distance ties to the LOWEST base
    # label deterministically.
    cent = (
        ext.where(F.col("lbl") != NOISE)
        .join(base_pts, "id")
        .groupBy("lbl")
        .agg(F.avg("x").alias("x"), F.avg("y").alias("y"))
        .cache()
    )
    base_c = cent.where(F.expr(f"lbl div {id_base}") == 0)
    nonb_c = cent.where(F.expr(f"lbl div {id_base}") > 0)
    counts = cent.agg(
        F.sum(F.when(F.expr(f"lbl div {id_base}") == 0, 1).otherwise(0))
        .alias("nb"),
        F.sum(F.when(F.expr(f"lbl div {id_base}") > 0, 1).otherwise(0))
        .alias("nn"),
    ).collect()[0]
    n_base, n_nonb = int(counts.nb or 0), int(counts.nn or 0)
    if n_base == 0 or n_nonb == 0:
        # nothing to match (reps=1, or draw 0 / the other draws produced
        # no clusters): an empty knn_join would still burn its doubling
        # rounds finding nothing — emit the empty matching directly
        matched = nonb_c.limit(0).select(
            F.col("lbl").alias("left_id"), F.col("lbl").alias("right_id")
        )
    elif n_base * n_nonb <= int(2e8):
        # small centroid tables (the common case): one broadcast
        # crossJoin + per-label window beats a full kNN grid build;
        # (d2, blbl) ordering = knn_join's (d2, neighbor) tie-break
        j = nonb_c.crossJoin(F.broadcast(
            base_c.select(F.col("lbl").alias("blbl"),
                          F.col("x").alias("bx"), F.col("y").alias("by"))
        )).select(
            "lbl", "blbl",
            ((F.col("x") - F.col("bx")) ** 2
             + (F.col("y") - F.col("by")) ** 2).alias("d2"),
        )
        mwin = Window.partitionBy("lbl").orderBy("d2", "blbl")
        matched = (
            j.withColumn("rk", F.row_number().over(mwin))
            .where(F.col("rk") == 1)
            .select(F.col("lbl").alias("left_id"),
                    F.col("blbl").alias("right_id"))
        )
    else:
        matched = knn_join(
            nonb_c.select(F.col("lbl").alias("id"), "x", "y"),
            base_c.select(F.col("lbl").alias("id"), "x", "y"),
            k=1, cell_size=None,  # centroid density, not eps
        )
    remap_df = (
        matched.select(F.col("left_id").alias("lbl"),
                       F.col("right_id").alias("mapped"))
        .unionByName(base_c.select("lbl", F.col("lbl").alias("mapped")))
        .localCheckpoint(eager=True)  # settle before cent unpersists
    )
    # fallbacks mirror the old driver-side logic: NOISE stays NOISE
    # (-1 % id_base = -1) and, when draw 0 produced no clusters at all,
    # every label decodes to its own draw's sample id
    counted = (
        ext.join(remap_df, "lbl", "left")
        .select(
            "id",
            F.coalesce("mapped", F.col("lbl") % id_base).alias("lbl"),
        )
        .groupBy("id", "lbl").count()
    )
    # settle the vote counts, then free every cached frame of this run
    # (ext alone is n x reps rows; repeated ensembles in one session
    # would otherwise accumulate blocks)
    counted = counted.localCheckpoint(eager=True)
    cent.unpersist()
    lab.unpersist()
    labeled.unpersist()
    ext.unpersist()
    win = Window.partitionBy("id").orderBy(F.desc("count"), F.asc("lbl"))
    winner = (
        counted.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") == 1)
        .select(
            "id",
            F.col("lbl").alias("lbls"),
            (F.col("count") / F.lit(float(reps))).alias("pct"),
        )
    )
    return winner.withColumn(
        "lbls",
        F.when(F.col("pct") < pct_thr, F.lit(NOISE)).otherwise(F.col("lbls")),
    )


# --- cluster boundaries: auto alpha shapes (reference adbscan.py:461-543) ---

def _in_circumcircle(a, b, c, p) -> bool:
    """p strictly inside the circumcircle of CCW triangle (a, b, c)."""
    ax, ay = a[0] - p[0], a[1] - p[1]
    bx, by = b[0] - p[0], b[1] - p[1]
    cx, cy = c[0] - p[0], c[1] - p[1]
    det = (
        (ax * ax + ay * ay) * (bx * cy - cx * by)
        - (bx * bx + by * by) * (ax * cy - cx * ay)
        + (cx * cx + cy * cy) * (ax * by - bx * ay)
    )
    return det > 0


def _delaunay(pts: np.ndarray) -> list[tuple[int, int, int]]:
    """Bowyer-Watson Delaunay triangulation (pure numpy/python;
    O(n^2) — clusters are the unit of work, sized for one task)."""
    n = len(pts)
    m = pts.mean(axis=0)
    span = float(np.ptp(pts, axis=0).max()) * 10.0 + 1.0
    sup = np.array([
        [m[0] - 20 * span, m[1] - span],
        [m[0] + 20 * span, m[1] - span],
        [m[0], m[1] + 20 * span],
    ])
    P = np.vstack([pts, sup])

    def ccw(t):
        a, b, c = P[t[0]], P[t[1]], P[t[2]]
        if (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]) < 0:
            return (t[0], t[2], t[1])
        return t

    tris = [ccw((n, n + 1, n + 2))]
    for i in range(n):
        p = P[i]
        bad = [t for t in tris
               if _in_circumcircle(P[t[0]], P[t[1]], P[t[2]], p)]
        edge_count: dict[tuple[int, int], int] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                edge_count[k] = edge_count.get(k, 0) + 1
        for t in bad:
            tris.remove(t)
        for (u, v), c in edge_count.items():
            if c == 1:
                tris.append(ccw((u, v, i)))
    return [t for t in tris if max(t) < n]


def _circumradius(a, b, c) -> float:
    la = math.dist(b, c)
    lb = math.dist(a, c)
    lc = math.dist(a, b)
    area2 = abs(
        (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    )
    if area2 == 0:
        return float("inf")
    return la * lb * lc / (2.0 * area2)


def _alpha_shape_auto(pts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Ring (xs, ys) of the auto alpha shape: the tightest (largest
    alpha = smallest circumradius threshold) triangle subset that
    covers every point, is edge-connected, and whose boundary is one
    simple cycle — the selection rule of
    ``libpysal.cg.alpha_shapes.alpha_shape_auto`` re-derived from the
    published algorithm (no libpysal/scipy in the runtime)."""
    n = len(pts)
    if n < 3:
        return pts[:, 0].copy(), pts[:, 1].copy()
    tris = _delaunay(pts)
    if not tris:
        return pts[:, 0].copy(), pts[:, 1].copy()
    radii = np.array([
        _circumradius(pts[a], pts[b], pts[c]) for a, b, c in tris
    ])
    order = np.argsort(radii)
    for thr_i in range(n and len(order)):
        thr = radii[order[thr_i]]
        kept = [t for t, r in zip(tris, radii) if r <= thr]
        verts = {v for t in kept for v in t}
        if len(verts) < n:
            continue
        # edge -> #kept triangles; boundary edges appear exactly once
        ec: dict[tuple[int, int], int] = {}
        for t in kept:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                ec[k] = ec.get(k, 0) + 1
        boundary = [e for e, c in ec.items() if c == 1]
        # single simple cycle: every boundary vertex has degree 2 and
        # one closed walk visits all boundary edges
        deg: dict[int, list[int]] = {}
        for u, v in boundary:
            deg.setdefault(u, []).append(v)
            deg.setdefault(v, []).append(u)
        if any(len(vs) != 2 for vs in deg.values()):
            continue
        start = boundary[0][0]
        ring = [start]
        prev, cur = -1, start
        while True:
            nxt = [w for w in deg[cur] if w != prev]
            if not nxt:
                break
            prev, cur = cur, nxt[0]
            if cur == start:
                break
            ring.append(cur)
        if len(ring) != len(deg):
            continue
        # triangle connectivity via shared edges
        if len(kept) > 1:
            adj: dict[int, set[int]] = {i: set() for i in range(len(kept))}
            owner: dict[tuple[int, int], int] = {}
            for i, t in enumerate(kept):
                for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                    k = (min(e), max(e))
                    if k in owner:
                        adj[i].add(owner[k])
                        adj[owner[k]].add(i)
                    owner[k] = i
            seen = {0}
            stack = [0]
            while stack:
                for j in adj[stack.pop()]:
                    if j not in seen:
                        seen.add(j)
                        stack.append(j)
            if len(seen) < len(kept):
                continue
        xs = pts[ring, 0]
        ys = pts[ring, 1]
        # canonicalize CCW
        if (np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1))) < 0:
            xs, ys = xs[::-1], ys[::-1]
        return xs, ys
    # fall back to the hull of everything (max alpha -> full Delaunay)
    from esda_spark.operators.shape import convex_hull

    h = convex_hull(pts)
    return h[:, 0], h[:, 1]


def cluster_boundaries(
    points: DataFrame,
    labels: DataFrame,
    label_col: str = "cluster",
) -> DataFrame:
    """(cluster, xs, ys): auto-alpha-shape boundary ring per cluster
    (reference ``get_cluster_boundary``, adbscan.py:461-543), noise
    (-1) excluded.  One task per cluster via applyInPandas — clusters
    are ADBSCAN outputs and bounded by design; rings use this engine's
    coordinate-array polygon representation (shape.py operators apply
    directly)."""
    import pandas as pd

    lab = labels.select("id", F.col(label_col).alias("cluster"))
    pts = (
        points.select("id", "x", "y").join(lab, "id")
        .where(F.col("cluster") != NOISE)
    )

    def one(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) == 0:
            return pd.DataFrame({"cluster": [], "xs": [], "ys": []})
        xy = pdf[["x", "y"]].to_numpy(np.float64)
        xs, ys = _alpha_shape_auto(xy)
        return pd.DataFrame({
            "cluster": [int(key[0])],
            "xs": [xs.tolist()], "ys": [ys.tolist()],
        })

    return pts.groupBy("cluster").applyInPandas(
        one, "cluster long, xs array<double>, ys array<double>"
    )
