"""Spatial-join engine: point-in-polygon, kNN join, polygon overlay,
raster<->vector tiling (north-rule operators; SURVEY.md §2.4-C3, M5).

No geometry library is assumed: polygons are simple rings carried as
coordinate arrays ``(poly_id, xs array<double>, ys array<double>)``.
Candidate generation is the cell-key equi-join (polygon bbox covers a
cell range; points carry their cell); refinement is a vectorized
numpy ray-casting / clipping kernel in ``mapInPandas``.

Overlay entropies re-express reference ``map_comparison.py:48-260``
(v-measure / completeness / homogeneity / overlay entropy) on the
intersection-area table: the only spatial part is the area overlay
join; the entropies are plain grouped aggregates of p·log p.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esda_spark.plans import gate
from esda_spark.plans.cells import pack_cell, with_cell


def _poly_cells(polygons: DataFrame, cell_size: float) -> DataFrame:
    """Explode each polygon into the cells covered by its bbox."""
    s = float(cell_size)
    b = polygons.select(
        "*",
        F.floor(F.array_min("xs") / s).cast("long").alias("cx0"),
        F.floor(F.array_max("xs") / s).cast("long").alias("cx1"),
        F.floor(F.array_min("ys") / s).cast("long").alias("cy0"),
        F.floor(F.array_max("ys") / s).cast("long").alias("cy1"),
    )
    return (
        b.select(
            "*",
            F.explode(F.sequence("cx0", "cx1")).alias("pcx"),
        )
        .select("*", F.explode(F.sequence("cy0", "cy1")).alias("pcy"))
        .withColumn("cell", pack_cell(F.col("pcx"), F.col("pcy")))
        .drop("cx0", "cx1", "cy0", "cy1", "pcx", "pcy")
    )


def _ray_cast(px, py, XS, YS, V):
    """Vectorized even-odd rule: (m,) points vs (m, V) padded rings."""
    x1, y1 = XS, YS
    x2 = np.roll(XS, -1, axis=1)
    y2 = np.roll(YS, -1, axis=1)
    pyc = py[:, None]
    pxc = px[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        crosses = ((y1 > pyc) != (y2 > pyc)) & (
            pxc < (x2 - x1) * (pyc - y1) / (y2 - y1) + x1
        )
    return (crosses.sum(axis=1) % 2) == 1


def point_in_polygon(
    points: DataFrame,
    polygons: DataFrame,
    cell_size: float,
    point_cols: tuple[str, str, str] = ("id", "x", "y"),
) -> DataFrame:
    """(id, poly_id): exact PIP join (even-odd ray casting).

    Plan: points get a cell key (pure expressions) -> equi-join with
    exploded polygon bbox cells (broadcast when the polygon layer is
    small) -> Arrow-batched refine.  One shuffle on the cell key.
    Boundary convention: even-odd crossing with upper-endpoint
    exclusion — each point lands in exactly one tile of a tiling.

    When the layer's total vertex count fits the ``pip`` gate its
    geometry is broadcast to the refine kernel as a dict instead of
    riding every candidate row: the cell join then carries only
    (id, x, y, poly_id) into Python.  Above the gate the candidates
    carry the xs/ys arrays.  Same rows either way.
    """
    idc, xc, yc = point_cols
    pts = with_cell(points.select(idc, xc, yc), cell_size)
    rings_pdf = gate.collect_if_fits(
        polygons.select("poly_id", "xs", "ys"), "pip",
        size=lambda pdf: int(pdf["xs"].map(len).sum()),
    )
    if rings_pdf is not None:
        # broadcast-rings fast path: geometry crosses to Python once,
        # candidates carry only (id, x, y, poly_id), and the kernel
        # ray-casts each poly group against ONE (V,) ring instead of a
        # per-row padded (m, V) copy.  Same even-odd arithmetic, same
        # output rows.
        spark = points.sparkSession
        rings = {
            int(p): (np.asarray(a, dtype=np.float64),
                     np.asarray(b, dtype=np.float64))
            for p, a, b in zip(rings_pdf["poly_id"], rings_pdf["xs"],
                               rings_pdf["ys"])
        }
        bc = spark.sparkContext.broadcast(rings)
        pc = _poly_cells(polygons, cell_size).select("cell", "poly_id")
        cand = pts.join(F.broadcast(pc), "cell").select(
            idc, xc, yc, "poly_id"
        )

        def refine_bc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            R = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                pid = pdf["poly_id"].to_numpy(np.int64)
                px = pdf[xc].to_numpy(np.float64)
                py = pdf[yc].to_numpy(np.float64)
                ids = pdf[idc].to_numpy(np.int64)
                order = np.argsort(pid, kind="stable")
                ps = pid[order]
                starts = np.nonzero(np.r_[True, ps[1:] != ps[:-1]])[0]
                bounds = np.r_[starts, len(ps)]
                out_i, out_p = [], []
                for gi in range(len(starts)):
                    rows = order[bounds[gi]:bounds[gi + 1]]
                    x1, y1 = R[int(ps[bounds[gi]])]
                    x2 = np.roll(x1, -1)
                    y2 = np.roll(y1, -1)
                    pyc = py[rows][:, None]
                    pxc = px[rows][:, None]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        crosses = ((y1 > pyc) != (y2 > pyc)) & (
                            pxc < (x2 - x1) * (pyc - y1) / (y2 - y1) + x1
                        )
                    inside = (crosses.sum(axis=1) % 2) == 1
                    sel = rows[inside]
                    out_i.append(ids[sel])
                    out_p.append(pid[sel])
                yield pd.DataFrame({
                    "id": np.concatenate(out_i) if out_i else
                    np.empty(0, np.int64),
                    "poly_id": np.concatenate(out_p) if out_p else
                    np.empty(0, np.int64),
                })

        return cand.mapInPandas(refine_bc, schema="id long, poly_id long")

    pc = _poly_cells(polygons, cell_size).select("cell", "poly_id", "xs", "ys")
    cand = pts.join(pc, "cell").select(idc, xc, yc, "poly_id", "xs", "ys")

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xs_list = pdf["xs"].tolist()
            V = max(len(v) for v in xs_list)
            XS = np.array([np.pad(np.asarray(v), (0, V - len(v)), mode="edge")
                           for v in xs_list])
            YS = np.array([np.pad(np.asarray(v), (0, V - len(v)), mode="edge")
                           for v in pdf["ys"].tolist()])
            inside = _ray_cast(
                pdf[xc].to_numpy(np.float64), pdf[yc].to_numpy(np.float64),
                XS, YS, V,
            )
            out = pdf.loc[inside, [idc, "poly_id"]]
            yield out.rename(columns={idc: "id"})

    return cand.mapInPandas(refine, schema="id long, poly_id long")


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    group_div: int | None = None,
) -> DataFrame:
    """(left_id, right_id, rank, dist): exact kNN of right-points for
    each left-point (self-matches allowed: a left point colocated with
    a right point at distance 0 keeps it — the 1-NN-classifier
    semantics ADBSCAN's label extension needs).

    The kNN kernel of :func:`esda_spark.operators.weights.knn_edges`
    with the RIGHT side as its targets: below the ``knn_targets`` gate
    the right side is broadcast and the left side streams through at
    any size (ADBSCAN's 1-NN extension of millions of focals onto a
    thinned sample qualifies whenever the sample fits); above it both
    sides are cut into grid tiles.

    ``group_div``: restrict matches to pairs whose ids share the same
    integer-division group (``left_id div group_div == right_id div
    group_div``) — the same-draw guarantee fused ADBSCAN's composite-id
    encoding relies on.  The kernel applies it to every candidate,
    brute-force fallback included, so no search radius can produce a
    cross-group match."""
    from pyspark.sql import Window

    from esda_spark.operators.knn_incore import knn_edges_gated

    edges = knn_edges_gated(
        left.select("id", "x", "y"), right.select("id", "x", "y"), k,
        binary=True, exclude_self=False, keep_d2=True, group_div=group_div,
    )
    win = Window.partitionBy("focal").orderBy("d2", "neighbor")
    return (
        edges.withColumn("rank", F.row_number().over(win))
        .select(
            F.col("focal").alias("left_id"),
            F.col("neighbor").alias("right_id"),
            "rank",
            F.sqrt("d2").alias("dist"),
        )
    )


# --- polygon overlay + entropies --------------------------------------------


def _clip_convex(subject_xs, subject_ys, clip_xs, clip_ys):
    """Sutherland–Hodgman clip of one convex polygon by another (numpy,
    single pair).  Returns clipped ring arrays (possibly empty)."""
    out = list(zip(subject_xs, subject_ys))
    n = len(clip_xs)
    for i in range(n):
        if not out:
            return [], []
        ax, ay = clip_xs[i], clip_ys[i]
        bx, by = clip_xs[(i + 1) % n], clip_ys[(i + 1) % n]
        inp = out
        out = []
        for j in range(len(inp)):
            px, py = inp[j]
            qx, qy = inp[(j + 1) % len(inp)]
            s_p = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
            s_q = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
            p_in = s_p >= 0
            q_in = s_q >= 0
            if p_in:
                out.append((px, py))
            if p_in != q_in and s_p != s_q:
                t = s_p / (s_p - s_q)
                out.append((px + t * (qx - px), py + t * (qy - py)))
    if not out:
        return [], []
    xs, ys = zip(*out)
    return list(xs), list(ys)


def _ring_area(xs, ys) -> float:
    xs = np.asarray(xs)
    ys = np.asarray(ys)
    if len(xs) < 3:
        return 0.0
    return 0.5 * abs(
        float(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1)))
    )


def overlay_areas(
    layer_a: DataFrame, layer_b: DataFrame, cell_size: float
) -> DataFrame:
    """(a_id, b_id, area): intersection areas of two CONVEX-polygon
    layers (the reference's STRtree overlay, ``map_comparison.py:16-25``,
    as a cell-candidate join + clip kernel)."""
    a = _poly_cells(layer_a, cell_size).select(
        F.col("poly_id").alias("a_id"), F.col("xs").alias("axs"),
        F.col("ys").alias("ays"), F.col("cell"),
    )
    b = _poly_cells(layer_b, cell_size).select(
        F.col("poly_id").alias("b_id"), F.col("xs").alias("bxs"),
        F.col("ys").alias("bys"), F.col("cell"),
    )
    cand = a.join(b, "cell").select("a_id", "axs", "ays", "b_id", "bxs", "bys").distinct()

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            areas = np.empty(len(pdf))
            for i, row in enumerate(pdf.itertuples(index=False)):
                xs, ys = _clip_convex(row.axs, row.ays, row.bxs, row.bys)
                areas[i] = _ring_area(xs, ys)
            out = pd.DataFrame(
                {"a_id": pdf["a_id"], "b_id": pdf["b_id"], "area": areas}
            )
            yield out[out["area"] > 0]

    return (
        cand.mapInPandas(clip, schema="a_id long, b_id long, area double")
        .groupBy("a_id", "b_id").agg(F.max("area").alias("area"))
    )


def _poly_areas(layer: DataFrame, out_id: str) -> DataFrame:
    def areas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    out_id: pdf["poly_id"],
                    "parea": [
                        _ring_area(x, y)
                        for x, y in zip(pdf["xs"], pdf["ys"])
                    ],
                }
            )

    return layer.select("poly_id", "xs", "ys").mapInPandas(
        areas, schema=f"{out_id} long, parea double"
    )


def overlay_entropy_stats(
    layer_a: DataFrame, layer_b: DataFrame, cell_size: float,
    balance: float = 0.0,
) -> dict:
    """completeness, homogeneity, external entropy (v-measure) of two
    polygon partitions (reference ``map_comparison.py:48-260``)."""
    ab = overlay_areas(layer_a, layer_b, cell_size).cache()
    a_areas = _poly_areas(layer_a, "a_id")
    b_areas = _poly_areas(layer_b, "b_id")

    def overlay_entropy_per(src_id: str, src_areas: DataFrame) -> DataFrame:
        # H_i = sum over pieces of -frac*log(frac), frac = piece/src_area
        j = ab.join(src_areas, src_id)
        frac = F.col("area") / F.col("parea")
        return (
            j.groupBy(src_id)
            .agg(F.sum(-frac * F.log(frac)).alias("h"))
            .withColumn("h", F.greatest(F.col("h"), F.lit(0.0)))
        )

    def areal_entropy(areas_df: DataFrame) -> float:
        tot = areas_df.agg(F.sum("parea")).collect()[0][0]
        frac = F.col("parea") / F.lit(float(tot))
        return float(
            areas_df.agg(F.sum(-frac * F.log(frac))).collect()[0][0]
        )

    sz_b = areal_entropy(b_areas)
    sz_a = areal_entropy(a_areas)
    b_onto_a = overlay_entropy_per("a_id", a_areas).join(a_areas, "a_id")
    a_onto_b = overlay_entropy_per("b_id", b_areas).join(b_areas, "b_id")
    c_row = b_onto_a.agg(
        (F.sum(F.col("h") / F.lit(sz_b) * F.col("parea")) / F.sum("parea")).alias("m")
    ).collect()[0]
    h_row = a_onto_b.agg(
        (F.sum(F.col("h") / F.lit(sz_a) * F.col("parea")) / F.sum("parea")).alias("m")
    ).collect()[0]
    c = 1.0 - float(c_row.m)
    h = 1.0 - float(h_row.m)
    beta = math.exp(balance)
    v = (1 + beta) * h * c / ((beta * h) + c)
    return {"completeness": c, "homogeneity": h, "external_entropy": v,
            "areal_entropy_a": sz_a, "areal_entropy_b": sz_b}


def raster_vector_tiling(
    polygons: DataFrame, bbox: tuple[float, float, float, float],
    nx: int, ny: int, cell_size: float,
) -> DataFrame:
    """Assign every raster cell (center) of an nx x ny grid over bbox to
    the polygon containing it — raster->vector join via PIP on centers."""
    x0, y0, x1, y1 = bbox
    sx = (x1 - x0) / nx
    sy = (y1 - y0) / ny
    spark = polygons.sparkSession
    cells = (
        spark.range(nx * ny)
        .select(
            F.col("id"),
            (x0 + ((F.col("id") % nx) + 0.5) * sx).alias("x"),
            (y0 + ((F.col("id") / nx).cast("long") + 0.5) * sy).alias("y"),
        )
    )
    return point_in_polygon(cells, polygons, cell_size)
