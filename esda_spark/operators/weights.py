"""Spatial-weights builders + transforms, as edge DataFrames.

The reference's core structure is the ``W``/``Graph`` dual (scipy CSR
or adjacency list, SURVEY.md §1.1).  Here the *only* representation is
the long-form edge DataFrame::

    W(focal: long, neighbor: long, weight: double)

which is the ``w.to_adjlist()`` form esda's newer local statistics
already compute on (reference ``geary_local.py:187-209``,
``join_counts_local.py:186-204``) — and is Spark's native shape: every
neighbor aggregation is a hash join + hash aggregate.

Builders
--------
- :func:`knn_edges` — exact k-nearest-neighbor graph from one numpy
  kernel, fed by broadcast below the ``knn_targets`` gate and by grid
  tiles with a halo above it (:mod:`esda_spark.operators.knn_incore`).
- :func:`distance_band_edges` — all pairs within a radius (exact; the
  ring radius is derived from the threshold, so one pass suffices).
- :func:`lattice_edges` — rook/queen contiguity on an r x c lattice,
  exactly libpysal's ``lat2W`` ordering (id = row*ncols + col); used
  by the golden-value test fixtures (reference ``tests/test_ljc.py:12``).

Transforms (reference semantics selected at ``moran.py:187``,
``geary.py:111``, ``getisord.py:117``; defined by libpysal):
'O' original, 'B' binary, 'R' row-standardized, 'D' double
(global-sum) standardized, 'V' variance-stabilizing.

Scale notes: the distance band's candidate join shuffles on the
packed BIGINT cell key; dense (hot) cells are its skew axis, which AQE
skew-join splits at runtime.  The kNN kernel indexes hot cells at a
finer grid inside each task.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esda_spark.plans.cells import expand_ring, with_cell

EDGE_COLS = ("focal", "neighbor", "weight")

def knn_edges(
    points: DataFrame,
    k: int,
    binary: bool = True,
    keep_d2: bool = False,
) -> DataFrame:
    """Exact kNN edges (Euclidean, tie-broken by neighbor id), eagerly
    materialized.  Weight 1 when ``binary``, else 1/sqrt(d2);
    ``keep_d2`` adds the squared distance column.

    One numpy kernel builds every edge set
    (:mod:`esda_spark.operators.knn_incore`): below the
    ``knn_targets`` gate the points are broadcast to it, above it they
    are cut into grid tiles that each reach the kernel with a halo.
    """
    from esda_spark.operators.knn_incore import knn_edges_gated

    base = points.select("id", "x", "y")
    return knn_edges_gated(base, base, k, binary=binary, exclude_self=True,
                           keep_d2=keep_d2)


def distance_band_edges(
    points: DataFrame,
    threshold: float,
    cell_size: float | None = None,
    binary: bool = True,
    alpha: float = -1.0,
) -> DataFrame:
    """All pairs with 0 < dist <= threshold (libpysal DistanceBand).

    Exact in a single pass: a ring of radius ceil(threshold/cell_size)
    is guaranteed to cover the band.
    """
    if cell_size is None:
        cell_size = threshold
    radius = max(int(math.ceil(threshold / cell_size)), 1)
    pts = with_cell(points.select("id", "x", "y"), cell_size)
    targets = pts.select(
        F.col("id").alias("neighbor"), F.col("x").alias("nx"),
        F.col("y").alias("ny"), F.col("cell"),
    )
    cand = (
        expand_ring(pts, radius)
        .join(targets, "cell")
        .where(F.col("id") != F.col("neighbor"))
    )
    dx = F.col("x") - F.col("nx")
    dy = F.col("y") - F.col("ny")
    d2 = dx * dx + dy * dy
    cand = cand.select(F.col("id").alias("focal"), "neighbor", d2.alias("d2")).where(
        F.col("d2") <= F.lit(float(threshold) ** 2)
    )
    if binary:
        w = F.lit(1.0)
    else:
        w = F.pow(F.sqrt("d2"), F.lit(float(alpha)))
    return cand.select("focal", "neighbor", w.alias("weight"))


def lattice_edges(spark, nrows: int, ncols: int, rook: bool = True) -> DataFrame:
    """Rook/queen contiguity on an nrows x ncols lattice (lat2W order)."""
    cells = spark.range(nrows * ncols).select(
        F.col("id"),
        (F.col("id") / ncols).cast("long").alias("r"),
        (F.col("id") % ncols).alias("c"),
    )
    offs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if not rook:
        offs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
    off_df = spark.createDataFrame(offs, "dr int, dc int")
    nbr = (
        cells.crossJoin(F.broadcast(off_df))
        .select(
            "id",
            (F.col("r") + F.col("dr")).alias("nr"),
            (F.col("c") + F.col("dc")).alias("nc"),
        )
        .where(
            (F.col("nr") >= 0) & (F.col("nr") < nrows)
            & (F.col("nc") >= 0) & (F.col("nc") < ncols)
        )
    )
    return nbr.select(
        F.col("id").alias("focal"),
        (F.col("nr") * ncols + F.col("nc")).alias("neighbor"),
        F.lit(1.0).alias("weight"),
    )


def transform_weights(edges: DataFrame, style: str = "R") -> DataFrame:
    """Apply a libpysal-style weight transform (reference ``moran.py:50-56``)."""
    style = style.upper()
    if style == "O":
        return edges
    if style == "B":
        return edges.withColumn("weight", F.lit(1.0))
    if style == "R":
        win = Window.partitionBy("focal")
        return edges.withColumn(
            "weight", F.col("weight") / F.sum("weight").over(win)
        )
    if style == "D":
        s0 = edges.agg(F.sum("weight")).collect()[0][0]
        return edges.withColumn("weight", F.col("weight") / F.lit(float(s0)))
    if style == "V":
        win = Window.partitionBy("focal")
        q = F.sqrt(F.sum(F.col("weight") * F.col("weight")).over(win))
        scaled = edges.withColumn("weight", F.col("weight") / q)
        row = scaled.agg(
            F.sum("weight").alias("q_total"),
            F.count_distinct("focal").alias("n"),
        ).collect()[0]
        return scaled.withColumn(
            "weight", F.col("weight") * F.lit(float(row.n) / float(row.q_total))
        )
    raise ValueError(f"unknown transform {style!r}")


def weights_summary(edges: DataFrame) -> dict[str, float]:
    """s0, s1, s2 scalars (reference ``moran.py:239-247``).

    s0 = sum w_ij;  s1 = 1/2 sum (w_ij + w_ji)^2;
    s2 = sum_i (row_sum_i + col_sum_i)^2.

    Round-6 shape: TWO jobs run concurrently (guide §2.6) instead of
    the former three sequential collects —

    - s0 + s1 from ONE unordered-pair aggregate: w_ij and w_ji land in
      the same (least, greatest) group, so s0 is the sum of group sums
      and s1 the sum of squared group sums (2*ws^2 for the a == b
      self-loop groups, matching (2 w_ii)^2 / 2).
    - s2 from a node-union aggregate: (focal, w) union (neighbor, w)
      grouped by node gives row_sum + col_sum in one map-side
      combinable pass — no rowsums x colsums full-outer join.
    """
    from concurrent.futures import ThreadPoolExecutor

    e = edges.select("focal", "neighbor", "weight")

    def _s0s1() -> tuple[float, float]:
        row = (
            e.groupBy(
                F.least("focal", "neighbor").alias("a"),
                F.greatest("focal", "neighbor").alias("b"),
            )
            .agg(F.sum("weight").alias("ws"))
            .agg(
                F.sum("ws").alias("s0"),
                F.sum(
                    F.when(F.col("a") == F.col("b"),
                           2.0 * F.col("ws") * F.col("ws"))
                    .otherwise(F.col("ws") * F.col("ws"))
                ).alias("s1"),
            )
            .collect()[0]
        )
        return float(row.s0), float(row.s1)

    def _s2() -> float:
        t = (
            e.select(F.col("focal").alias("node"), "weight")
            .unionByName(e.select(F.col("neighbor").alias("node"), "weight"))
            .groupBy("node")
            .agg(F.sum("weight").alias("t"))
        )
        return float(t.agg(F.sum(F.col("t") * F.col("t"))).collect()[0][0])

    with ThreadPoolExecutor(max_workers=2) as pool:
        f01 = pool.submit(_s0s1)
        f2 = pool.submit(_s2)
        s0, s1 = f01.result()
        s2 = f2.result()
    return {"s0": s0, "s1": s1, "s2": s2}


def summary_arrays(focal: np.ndarray, neighbor: np.ndarray,
                   weight: np.ndarray) -> dict[str, float]:
    """:func:`weights_summary` of edge arrays, in numpy: the same
    unordered-pair group sums for s0 / s1 (doubled on self-loops) and
    the same row + column node sums for s2."""
    nodes, inv = np.unique(np.concatenate([focal, neighbor]),
                           return_inverse=True)
    k, f, nb = len(nodes), inv[:len(focal)], inv[len(focal):]
    pair, grp = np.unique(np.minimum(f, nb) * k + np.maximum(f, nb),
                          return_inverse=True)
    ws2 = np.bincount(grp, weights=weight) ** 2
    ws2[pair // k == pair % k] *= 2.0
    t = (np.bincount(f, weights=weight, minlength=k)
         + np.bincount(nb, weights=weight, minlength=k))
    return {"s0": float(weight.sum()), "s1": float(ws2.sum()),
            "s2": float(t @ t)}


# Per-(edges DataFrame, transform style) memo of the W summary scalars
# — the libpysal ``W.s0/s1/s2`` cached-attribute behavior: a session
# computing several statistics over ONE weight structure (the entry
# runs moran+geary+getis on the same kNN W) pays the summary jobs
# once.  Keyed weakly on the edges DataFrame OBJECT (never on input
# paths); DataFrames are immutable, and the entry dies with the
# session.
import weakref

_SUMMARY_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def summary_for(edges: DataFrame, style: str) -> dict[str, float]:
    """weights_summary(transform_weights(edges, style)), memoized per
    (edges object, style)."""
    per_df = _SUMMARY_CACHE.get(edges)
    if per_df is None:
        per_df = {}
        try:
            _SUMMARY_CACHE[edges] = per_df
        except TypeError:  # non-weakrefable edge container
            return weights_summary(transform_weights(edges, style))
    key = style.upper()
    if key not in per_df:
        per_df[key] = weights_summary(transform_weights(edges, style))
    return per_df[key]


def cardinalities(edges: DataFrame) -> DataFrame:
    return edges.groupBy("focal").agg(F.count("*").alias("cardinality"))


def islands(points: DataFrame, edges: DataFrame) -> DataFrame:
    """Units with no neighbors (left-anti join, reference ``crand.py:333-335``)."""
    return points.join(
        edges.select(F.col("focal").alias("id")).distinct(), "id", "left_anti"
    )


def add_self_edges(edges: DataFrame, points: DataFrame, weight: float = 1.0) -> DataFrame:
    """Union self-loops (i, i, w) — the Gi* diagonal fill
    (reference ``getisord.py:500-545``)."""
    selfe = points.select(
        F.col("id").alias("focal"), F.col("id").alias("neighbor"),
        F.lit(float(weight)).alias("weight"),
    )
    return edges.select(*EDGE_COLS).unionByName(selfe)


# libpysal Kernel weights: K(z) with z = d_ij / bandwidth_i
_KERNELS = {
    "triangular": lambda z: F.lit(1.0) - z,
    "uniform": lambda z: F.lit(0.5) * F.lit(1.0),
    "quadratic": lambda z: F.lit(0.75) * (1.0 - z * z),
    "quartic": lambda z: F.lit(15.0 / 16.0)
    * (1.0 - z * z) * (1.0 - z * z),
    "gaussian": lambda z: F.lit(0.3989422804014327)
    * F.exp(F.lit(-0.5) * z * z),
}


def kernel_edges(
    points: DataFrame,
    bandwidth: float,
    function: str = "triangular",
    cell_size: float | None = None,
    include_self: bool = True,
) -> DataFrame:
    """Fixed-bandwidth kernel weights (libpysal ``Kernel`` analogue,
    consumed by the reference's ``Kernel_Smoother``, smoothing.py:859).

    Edge weights K(d/h) for all pairs with d <= h; self-edges carry
    K(0) when ``include_self``.
    """
    fn = _KERNELS[function]
    band = distance_band_edges(
        points, threshold=bandwidth, cell_size=cell_size, binary=False,
        alpha=1.0,
    )  # weight column = distance
    z = F.col("weight") / F.lit(float(bandwidth))
    edges = band.select("focal", "neighbor", fn(z).alias("weight"))
    if include_self:
        selfe = points.select(
            F.col("id").alias("focal"), F.col("id").alias("neighbor"),
            fn(F.lit(0.0)).alias("weight"),
        )
        edges = edges.unionByName(selfe)
    return edges


def polygon_contiguity(
    polygons: DataFrame, queen: bool = True, precision: int = 9,
) -> DataFrame:
    """(focal, neighbor, weight): contiguity weights from raw polygon
    geometry (libpysal ``Queen``/``Rook`` semantics: queen = polygons
    sharing >= 1 vertex, rook = sharing >= 2 vertices — the shapefile
    convention for conforming meshes).

    Spark form: explode rings to vertices, quantize coordinates to
    ``precision`` decimals as the join key, one self-join on the vertex
    key + a shared-vertex count per unordered pair.  Distributes as a
    single shuffle on the vertex key; degenerate hot vertices (many
    polygons meeting at one point) are bounded by the mesh's valence.
    """
    verts = polygons.select(
        "poly_id",
        F.explode(F.arrays_zip("xs", "ys")).alias("v"),
    ).select(
        "poly_id",
        F.round(F.col("v.xs"), precision).alias("vx"),
        F.round(F.col("v.ys"), precision).alias("vy"),
    ).distinct()
    a = verts.select(F.col("poly_id").alias("pa"), "vx", "vy")
    b = verts.select(F.col("poly_id").alias("pb"), "vx", "vy")
    shared = (
        a.join(b, ["vx", "vy"])
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("nshared"))
    )
    need = 1 if queen else 2
    pairs = shared.where(F.col("nshared") >= need).select("pa", "pb")
    return (
        pairs.select(F.col("pa").alias("focal"),
                     F.col("pb").alias("neighbor"))
        .unionByName(pairs.select(F.col("pb").alias("focal"),
                                  F.col("pa").alias("neighbor")))
        .withColumn("weight", F.lit(1.0))
    )
