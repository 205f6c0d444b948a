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
- :func:`knn_edges` — exact k-nearest-neighbor graph via cell-ring
  candidate generation with doubling-radius settlement (no spatial
  index structure; candidate generation is an equi-join on cell key).
- :func:`distance_band_edges` — all pairs within a radius (exact; the
  ring radius is derived from the threshold, so one pass suffices).
- :func:`lattice_edges` — rook/queen contiguity on an r x c lattice,
  exactly libpysal's ``lat2W`` ordering (id = row*ncols + col); used
  by the golden-value test fixtures (reference ``tests/test_ljc.py:12``).

Transforms (reference semantics selected at ``moran.py:187``,
``geary.py:111``, ``getisord.py:117``; defined by libpysal):
'O' original, 'B' binary, 'R' row-standardized, 'D' double
(global-sum) standardized, 'V' variance-stabilizing.

Scale notes: the candidate join shuffles on the packed BIGINT cell
key; dense (hot) cells are the skew axis — AQE skew-join splits them
at runtime, and `salt` on the window ranking is unnecessary because
the per-focal ranking partitions by point id (uniform), not by cell.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esda_spark.plans import gate
from esda_spark.plans.cells import (
    cell_key,
    expand_ring,
    expand_ring_col,
    with_cell,
)

EDGE_COLS = ("focal", "neighbor", "weight")

def _estimate_cell_size(points: DataFrame, k: int) -> float:
    """Pick a cell size so one cell holds ~k points on average: the
    k-th neighbor distance (~ s * sqrt(1/pi) ~ 0.56 s) then sits inside
    the radius-1 settlement guard, so the first 3x3 ring (~9k
    candidates) settles nearly every point in one pass while keeping
    the candidate join as small as the guard allows.  An empty input
    gets a unit cell (there is nothing to settle)."""
    row = points.agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
        F.count("*").alias("n"),
    ).collect()[0]
    if not row.n:
        return 1.0
    area = max((row.x1 - row.x0) * (row.y1 - row.y0), 1e-12)
    return max(math.sqrt(1.0 * k * area / max(row.n, 1)), 1e-9)


def knn_edges(
    points: DataFrame,
    k: int,
    cell_size: float | None = None,
    binary: bool = True,
    max_rounds: int = 12,
    density_threshold: int | None = None,
    max_levels: int = 12,
    keep_d2: bool = False,
) -> DataFrame:
    """Exact kNN edges (Euclidean, tie-broken by neighbor id), with
    density-adaptive resolution for skewed (hot-cell) data.

    Skew handling (the north rule's explicit requirement): a
    quadtree-style pass halves the cell size for points whose cell
    holds more than ``density_threshold`` points, repeatedly, so a
    5000-point city cell is processed at a resolution where its ring
    holds ~2k candidates instead of 25M candidate pairs.  Each density
    class then runs the doubling-ring settlement at its own cell size
    against the full point set re-indexed at that size — results stay
    exact; only candidate generation adapts.
    """
    base = points.select("id", "x", "y")
    # Broadcast-kernel fast path: when the point set fits the
    # ``knn_targets`` gate, the whole build — candidate generation,
    # exact (d2, neighbor) top-k, settlement, straggler brute force —
    # runs vectorized inside ONE mapInPandas job with zero shuffles,
    # instead of ~10 fixed jobs of density metadata + per-round joins +
    # window sorts.  Bit-identical results (same IEEE d2, same
    # tie-break, same guard); the distributed path below runs above
    # the gate.
    from esda_spark.operators.knn_incore import knn_edges_incore

    targets = gate.collect_if_fits(base, "knn_targets")
    if targets is not None:
        return knn_edges_incore(
            base, targets, k, binary=binary, exclude_self=True,
            keep_d2=keep_d2,
        )
    # snapshot persistent-RDD ids before any materialization this build
    # creates, so every intermediate block (quadtree labels, per-round
    # checkpoints) can be freed deterministically at the end
    _sc = points.sparkSession.sparkContext
    pids_before = set(_sc._jsc.getPersistentRDDs().keySet().toArray())
    if cell_size is None:
        cell_size = _estimate_cell_size(points, k)
    if density_threshold is None:
        # keep fine cells small: per-focal ring candidates scale as
        # ring_cells x threshold, so the radius-4 fine-level guarantee
        # stays cheap only when cells hold O(k) points
        density_threshold = max(4 * k, 32)

    levels = _density_levels(base, base, cell_size, density_threshold,
                             max_levels,
                             flat_budget=int(2e8) if k == 1 else None)
    return _knn_rounds_multi(levels, base, k, cell_size, binary,
                             max_rounds, pids_before, keep_d2=keep_d2)


def _density_levels(
    focals: DataFrame,
    density_src: DataFrame,
    cell_size: float,
    density_threshold: int,
    max_levels: int,
    flat_budget: int | None = None,
) -> list[tuple[int, DataFrame]]:
    """Quadtree density-level assignment: split ``focals`` into
    (level, frame) classes so that, at each focal's level, a
    ``density_src`` cell holds at most ``density_threshold`` points.

    ``density_src`` is the TARGET side of the candidate join — for
    kNN edges it is the points themselves; for a left-vs-right kNN
    join it is the right side, because per-cell candidate volume is
    focal_count x target_count and only the target factor can be
    bounded by refining the grid.

    ONE pass, not one groupBy+collect job per level: count level-0
    cells; if none exceed the threshold (the common case) every focal
    is level 0 after a single metadata aggregate.  Otherwise focals in
    hot level-0 cells get their finest-resolution cell keyed once,
    each focal fine cell explodes its ancestor chain (metadata-scale:
    rows = #fine-cells x max_levels, never points), source counts roll
    up the same ancestry in one shuffle, and each fine cell's
    assignment is the SHALLOWEST level whose ancestor source count is
    at or under the threshold (a focal cell with no source points at
    some ancestor level counts as 0 there).
    """
    from esda_spark.plans.cells import cell_xy, unpack_cell

    src = density_src.select("x", "y")
    counts0 = (
        src.withColumn("_c", cell_key(F.col("x"), F.col("y"), cell_size))
        .groupBy("_c").count()
        .cache()  # #cells rows; reused by the hot-cell broadcast below
    )
    stats0 = counts0.agg(
        F.max("count").alias("mx"), F.sum("count").alias("tot")
    ).collect()[0]
    max0 = int(stats0.mx or 0)
    n_src = int(stats0.tot or 0)
    if max0 <= density_threshold:
        return [(0, focals.select("id", "x", "y"))]
    # Skew is present, but refining only pays when the level-0 ring
    # candidate volume is actually large: the quadtree pass costs a
    # metadata shuffle plus extra settlement frames in every round,
    # which dominates small skewed inputs (a 15k-point city table paid
    # ~2x build time for levels round-1 handles outright).  Cheap upper
    # bound first (every ring cell at the global max); if inconclusive,
    # the EXACT ring volume from counts0 — a metadata-scale (cells,
    # not points) ring self-join.
    same_side = focals is density_src
    n_foc = n_src if same_side else focals.count()
    # k=1 callers raise the budget: their settlement is the map-side
    # min-struct aggregate, so candidates are combined before the
    # exchange and never flow through a window sort.  A zero gate
    # still disables the flat tier outright (budget 0 -> always refine).
    # The gate sits where measurement put it, not at what fits in
    # memory: the quadtree pass it skips costs ~10 s of fixed jobs and
    # a settlement frame shuffles ~36 B/candidate through the top-k
    # window sort, so the crossover is the ~1e7 pairs a round-1 sort
    # absorbs in a few seconds (2e8 sent the 150k orders table flat at
    # 86M pairs: 23 s -> 255 s of shuffle-bound sort; BASELINE.md).
    flat = gate.LIMITS["flat_ring_pairs"]
    budget = (flat if flat_budget is None
              else min(flat_budget, max(flat, 1) * 20)
              if flat else 0)
    if 9 * n_foc * max0 > budget:
        cx, cy = unpack_cell(F.col("_c"))
        cgrid = counts0.select(
            cx.alias("_cx"), cy.alias("_cy"), F.col("count")
        )
        if same_side:
            fgrid = cgrid
        else:
            fcx, fcy = cell_xy(F.col("x"), F.col("y"), cell_size)
            fgrid = (
                focals.select(fcx.alias("_cx"), fcy.alias("_cy"))
                .groupBy("_cx", "_cy").count()
            )
        ring = fgrid.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(-1, 1), dx ->"
                    " transform(sequence(-1, 1), dy ->"
                    " struct(_cx + dx as _cx, _cy + dy as _cy))))"
                )
            ).alias("_r"),
            F.col("count").alias("_cf"),
        ).select("_r._cx", "_r._cy", "_cf")
        volume = (
            ring.join(cgrid, ["_cx", "_cy"])
            .agg(F.sum(F.col("_cf") * F.col("count")))
            .collect()[0][0]
            or 0
        )
    else:
        volume = 9 * n_foc * max0
    if volume <= budget:
        return [(0, focals.select("id", "x", "y"))]

    hot0 = F.broadcast(
        counts0.where(F.col("count") > density_threshold).select("_c")
    )
    keyed0 = focals.select("id", "x", "y").withColumn(
        "_c", cell_key(F.col("x"), F.col("y"), cell_size)
    )
    sparse0 = keyed0.join(hot0, "_c", "left_anti").select("id", "x", "y")
    dense_f = keyed0.join(hot0, "_c", "left_semi").select("id", "x", "y")

    fine_size = cell_size / (2**max_levels)
    fx, fy = cell_xy(F.col("x"), F.col("y"), fine_size)
    src_fine_counts = (
        src.withColumn("_fx", fx).withColumn("_fy", fy)
        .groupBy("_fx", "_fy").count()
    )
    # ancestor rollup of SOURCE counts: every fine cell contributes to
    # each of its max_levels ancestors (shift by max_levels - l);
    # arithmetic shift right == floor-div by 2^d, exact dyadic quadtree
    # ancestry even for negative grid coords
    def _anc(df):
        return df.select(
            "*",
            F.explode(F.sequence(F.lit(1), F.lit(max_levels))).alias("lvl"),
        ).select(
            "*",
            F.expr(f"shiftright(_fx, cast({max_levels} - lvl as int))")
            .alias("_ax"),
            F.expr(f"shiftright(_fy, cast({max_levels} - lvl as int))")
            .alias("_ay"),
        )

    anc_counts = _anc(src_fine_counts).groupBy("lvl", "_ax", "_ay").agg(
        F.sum("count").alias("acount")
    )
    fine = dense_f.withColumn("_fx", fx).withColumn("_fy", fy)
    f_cells = fine.select("_fx", "_fy").distinct()
    # shallowest sparse ancestor level per focal fine cell (level 0 is
    # hot by construction); cells dense at every level -> max_levels
    assign = (
        _anc(f_cells)
        .join(anc_counts, ["lvl", "_ax", "_ay"], "left")
        .groupBy("_fx", "_fy")
        .agg(
            F.coalesce(
                F.min(F.when(
                    F.coalesce(F.col("acount"), F.lit(0))
                    <= density_threshold,
                    F.col("lvl"),
                )),
                F.lit(max_levels),
            ).alias("lvl")
        )
        # quantize to even depths (round UP = finer): sparsity is
        # monotone in depth so the threshold still holds, and halving
        # the number of distinct levels halves the frames unioned into
        # every settlement round
        .withColumn(
            "lvl",
            F.least(F.lit(max_levels),
                    ((F.col("lvl") + 1) / 2).cast("int") * 2),
        )
    )
    labeled = (
        fine.join(assign, ["_fx", "_fy"]).select("id", "x", "y", "lvl")
        # one materialization of the chain (lazy: the level-collect
        # below triggers it)
        .localCheckpoint(eager=False)
    )
    lvl_values = sorted(
        r["lvl"] for r in labeled.select("lvl").distinct().collect()
    )
    levels = [(0, sparse0)] + [
        (lv, labeled.where(F.col("lvl") == lv).select("id", "x", "y"))
        for lv in lvl_values
    ]
    return levels


def _knn_rounds_multi(
    levels: list[tuple[int, DataFrame]],
    all_points: DataFrame,
    k: int,
    cell_size: float,
    binary: bool,
    max_rounds: int,
    pids_before: set | None = None,
    exclude_self: bool = True,
    keep_d2: bool = False,
    group_div: int | None = None,
) -> DataFrame:
    """Doubling-ring settlement with ALL density levels in one loop:
    focals carry their level, targets are indexed once per active level,
    and the candidate join keys on (lvl, cell) — so each round is one
    job regardless of how many resolutions the quadtree produced.

    Fine-level focals are guaranteed to settle within ring radius ~4:
    their parent (still-dense) cell alone holds > threshold >= 4k
    points within 2*sqrt(2) fine cells.  Only level-0 focals can reach
    world coverage; those fall back to a broadcast brute force.

    ``group_div``: when set, candidates are restricted to pairs with
    ``id div group_div == neighbor div group_div`` — the same-draw
    constraint fused ADBSCAN needs for its rep-translation encoding.
    Applied to BOTH candidate paths (ring join and straggler brute
    force), so no search radius, doubling round, or brute-force sweep
    can ever produce a cross-group edge, regardless of how far the
    translated copies sit.  Same-group distances are unaffected
    (translation shifts both endpoints equally), so results remain the
    exact per-group kNN.
    """
    lvl_ids = [lvl for lvl, _ in levels]
    sizes = {lvl: cell_size / (2**lvl) for lvl in lvl_ids}

    pts = None
    targets = None
    for lvl, focals in levels:
        # initial per-row search radius: fine-level focals are
        # guaranteed to settle within ~4 fine cells (their parent dense
        # cell holds > threshold >= 4k points within 2*sqrt(2) cells);
        # level-0 cells hold ~k points, so the 3x3 ring (~9k candidates)
        # settles ~99.99% of focals (k-th NN distance ~ 0.56 cell) and
        # the doubling round that mops up the tail is an O(stragglers)
        # job — measured at 150k points: rad=1 top-k 8.4s vs rad=2
        # 12.3s with 2/150000 focals left for round 2
        f = with_cell(focals.select("id", "x", "y"), sizes[lvl]).withColumn(
            "lvl", F.lit(lvl)
        ).withColumn("rad", F.lit(1 if lvl == 0 else 4))
        t = with_cell(all_points, sizes[lvl]).select(
            F.col("id").alias("neighbor"), F.col("x").alias("nx"),
            F.col("y").alias("ny"), F.col("cell"),
        ).withColumn("lvl", F.lit(lvl))
        pts = f if pts is None else pts.unionByName(f)
        targets = t if targets is None else targets.unionByName(t)

    sc = all_points.sparkSession.sparkContext

    def _pids() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    if pids_before is None:
        pids_before = _pids()
    guard_size = F.lit(cell_size) / F.pow(F.lit(2.0), F.col("lvl"))
    # checkpoint the focal union once (lazily — round 1's count
    # materializes it): every round's candidate join and the
    # remaining-focal anti-join read these blocks instead of
    # recomputing the per-level cell assignment from the source
    unsettled = pts.localCheckpoint(eager=False)
    results: list[DataFrame] = []
    min_rad = 1
    force_world = False
    for _ in range(max_rounds):
        # a straggler tail (<= 2048 focals) finishes in ONE broadcast
        # brute-force job instead of more doubling-ring rounds — each
        # ring round costs ~3 fixed jobs regardless of focal count
        world_covered = force_world or min_rad * min(sizes.values()) > 400.0
        dx = F.col("x") - F.col("nx")
        dy = F.col("y") - F.col("ny")
        if world_covered:
            cand = F.broadcast(
                unsettled.drop("cell", "cx", "cy")
            ).crossJoin(
                all_points.select(
                    F.col("id").alias("neighbor"), F.col("x").alias("nx"),
                    F.col("y").alias("ny"),
                )
            )
            if exclude_self:
                cand = cand.where(F.col("id") != F.col("neighbor"))
        else:
            cand = (
                expand_ring_col(unsettled.withColumnRenamed("cell", "cell0"))
                .join(targets, ["lvl", "cell"])
            )
            if exclude_self:
                cand = cand.where(F.col("id") != F.col("neighbor"))
        if group_div is not None:
            cand = cand.where(
                F.expr(f"id div {int(group_div)}")
                == F.expr(f"neighbor div {int(group_div)}")
            )
        guard2 = (F.col("rad").cast("double") * guard_size) ** 2
        cand = cand.select(
            "id", "neighbor", (dx * dx + dy * dy).alias("d2"),
            (F.lit(world_covered)
             | (F.col("rad").cast("double") * guard_size > 400.0)
             ).alias("_world"),
            guard2.alias("_g2"),
        )
        # guard pre-filter (round 6): candidates at d2 >= guard^2 can
        # never appear in a SETTLED focal's top-k (the settle condition
        # is max(top-k d2) < guard^2), and an unsettled focal's rows
        # are discarded anyway — so dropping the annulus before the
        # exchange only shrinks the window sort (ring box -> disc,
        # ~0.35x rows at rad 1), bit-identical results.  World-flagged
        # rows keep everything (they emit whatever exists).
        cand = cand.where(F.col("_world") | (F.col("d2") < F.col("_g2")))
        # top-k via sort-window, NOT groupBy collect_list/array_sort: a
        # hash aggregate materializes a per-group array and re-sorts it
        # per row group, which measured 2x SLOWER at 1M points (63.6 s
        # vs 32.8 s) — the streaming sort is the scale winner.
        # EXCEPT k=1: min(struct(d2, neighbor)) is the same (d2,
        # neighbor) lexicographic pick as the row_number ordering but
        # partial-aggregates MAP-SIDE, so the shuffle carries one row
        # per focal instead of the full candidate volume.  The fused
        # ADBSCAN 1-NN extension (8M focals x ~100-300 ring candidates
        # each) shuffled ~1e9 rows into the window sort; the aggregate
        # collapses that before the exchange (419 s -> see PLANS.md).
        # Ring-round checkpoints are LAZY: the end-of-round n_rem count
        # materializes topk and unsettled in ONE job instead of three
        # (the world round keeps an eager topk — it breaks before any
        # count, and a lazy block materializing after the cleanup's
        # pid snapshot would escape the block sweep)
        if k == 1:
            topk = (
                cand.groupBy("id").agg(
                    F.min(F.struct("d2", "neighbor")).alias("_m"),
                    F.first("_world").alias("_world"),
                    F.first("_g2").alias("_g2"),
                )
                .select(
                    "id",
                    F.col("_m.neighbor").alias("neighbor"),
                    F.col("_m.d2").alias("d2"),
                    (F.col("_world")
                     | (F.col("_m.d2") < F.col("_g2"))).alias("_settled"),
                )
            ).localCheckpoint(eager=world_covered)
        else:
            win = Window.partitionBy("id").orderBy("d2", "neighbor")
            topk = (
                cand.withColumn("rk", F.row_number().over(win))
                .where(F.col("rk") <= k)
                .withColumn(
                    "_settled",
                    F.col("_world")
                    | (
                        (F.max("rk").over(Window.partitionBy("id")) >= k)
                        & (F.max("d2").over(Window.partitionBy("id"))
                           < F.col("_g2"))
                    ),
                )
            ).localCheckpoint(eager=world_covered)
        edge_cols = [
            F.col("id").alias("focal"),
            F.col("neighbor"),
            (F.lit(1.0) if binary else (F.lit(1.0) / F.sqrt("d2")))
            .alias("weight"),
        ]
        if keep_d2:
            edge_cols.append(F.col("d2"))
        edges = topk.where(F.col("_settled")).select(*edge_cols)
        results.append(edges)
        if world_covered:
            break
        # unsettled focals = those entering this round minus those that
        # settled — both sides read checkpointed blocks, so this costs a
        # small anti-join, not a recompute of the candidate pipeline
        unsettled = (
            unsettled.join(
                topk.where(F.col("_settled")).select("id").distinct(),
                "id", "left_anti",
            )
            .withColumn("rad", F.col("rad") * 2)
            .localCheckpoint(eager=False)
        )
        n_rem = unsettled.count()
        if n_rem == 0:
            break
        force_world = n_rem <= 2048
        min_rad *= 2
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    # materialize the result, then free every intermediate checkpoint /
    # cache block this build created (they otherwise accumulate across
    # builds in one session and degrade later jobs): diff the persistent
    # RDD ids around the build and keep only the output's own blocks
    pids_mid = _pids()
    out = out.localCheckpoint(eager=True)
    keep = _pids() - pids_mid
    jmap = sc._jsc.getPersistentRDDs()
    for rid in (pids_mid - pids_before) - keep:
        jr = jmap.get(rid)
        if jr is not None:
            jr.unpersist()
    return out


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
