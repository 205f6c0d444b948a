"""Conditional-randomization engine — the one custom physical operator.

Re-expression of the reference engine (``crand.py:59-243`` driver,
``compute_chunk`` ``crand.py:246-351``, ``vec_permutations``
``crand.py:29-56``) in Spark's execution model:

1. One shared (permutations, max_cardinality) table of ids sampled
   from [0, n-1) is generated on the driver from ``seed`` and
   broadcast — identical tactic to the reference's shared permutation
   table, preserving its "one table reused for every site" semantics.
2. The full standardized value vector ``z`` (n doubles, or (n,2) for
   bivariate statistics) is broadcast.  This caps the operator at
   ~1e8-1e9 sites per executor-heap; beyond that the documented
   deviation is tile-conditional permutation (permute within salted
   spatial tiles).  At 1e8 sites the broadcast is 800 MB — fine for
   cluster executors.
3. The per-site neighborhood (sorted neighbor weights) is gathered
   with ``groupBy(focal).agg(sort_array(collect_list(...)))`` — the
   shuffle plays the role of the reference's joblib chunking
   (``crand.py:360-459``); one Arrow batch ≈ one chunk.
4. A ``mapInPandas`` kernel evaluates all k simulations with NO
   (m, k, c) temporaries at all: the reference's masked draw
   ``z_no_i[P] = z[P + (P >= i)]`` (``_prepare_univariate``,
   ``crand.py:584-592``) has prefix-of-ones structure once sites are
   sorted by id — each (rep, slot) pair of the shared table switches
   from z[P] to z[P+1] at exactly one site.  The sweep keeps a
   (c, k_blk) accumulator S (rank-1-updated at each switch) and emits
   each segment's lag block as ONE dgemm ``w_blk @ S``; for counting
   alternatives the significance streams over rep blocks with O(m)
   count state, so per-segment working sets stay cache-resident and
   the kernel scales with cores, not RAM bandwidth.

The RNG stream is ``numpy.random.default_rng(seed)`` rather than the
reference's numba ``np.random.choice`` — draws are statistically
equivalent but not bit-identical (SURVEY.md §7 hard part #1); seeds
are pinned and outputs deterministic across runs and partitionings.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esda_spark.operators.significance import permutation_significance
from esda_spark.plans import gate

# Site-chunk budget (m*k) and rep-block width for the streaming path;
# the rep block keeps per-segment working sets cache-resident, which is
# what makes the kernel scale with cores instead of RAM bandwidth.
_CHUNK_ELEMS = 8_000_000
_REP_BLOCK = 2048

# mode="auto" switchover (gate ``crand_tiled_sites``): below it the
# broadcast path (driver collect + broadcast of the value vector)
# measurably wins — interleaved A/B at 1M sites: broadcast 24.7 s vs
# tiled 35-45 s at 9999 perms on local[8], a tie at 999 perms — so the
# switch sits where the O(n) driver collect itself becomes the wall
# (~160 MB of doubles at 2e7 sites), not where the tiled path merely
# exists.  See PLANS.md.


# --- stat kernels -----------------------------------------------------------
# A kernel = (vectors, sims) where
#   vectors(z) -> list of (n,) value vectors whose masked-draw lag the
#                 statistic needs (z, z^2, products, ...)
#   sims(i, z, lags, self_w, scaling, rowsum) -> (m_blk, k) simulations
#                 from the per-block lag matrices (same order as vectors)


def _vec_uni(z):
    return [z if z.ndim == 1 else z[:, 0]]


def _k_moran_local(i, z, lags, self_w, scaling, rowsum):
    # reference _moran_local_crand (moran.py:3073-3078)
    zi = z[i]
    return zi[:, None] * (lags[0] + (self_w * zi)[:, None]) * scaling


def _k_moran_local_bv(i, z, lags, self_w, scaling, rowsum):
    # reference _moran_local_bv_crand (moran.py:3063-3070); permutes zy only
    zx, zy = z[:, 0], z[:, 1]
    return zx[i][:, None] * (lags[0] + (self_w * zy[i])[:, None]) * scaling


def _k_geary_local(i, z, lags, self_w, scaling, rowsum):
    # reference _local_geary (geary_local.py:221-225):
    # (zi - zr)^2 @ w = zi^2*rowsum - 2*zi*lag(z) + lag(z^2)
    zi = z[i]
    return (zi * zi * rowsum)[:, None] - 2.0 * zi[:, None] * lags[0] + lags[1]


def _k_g_local(i, z, lags, self_w, scaling, rowsum):
    # reference _g_local_crand (getisord.py:570-574); scaling = y.sum()
    return lags[0] / (scaling - z[i])[:, None]


def _k_g_local_star(i, z, lags, self_w, scaling, rowsum):
    # reference _g_local_star_crand (getisord.py:577-582)
    return (lags[0] + (self_w * z[i])[:, None]) / scaling


def _k_ljc_uni(i, z, lags, self_w, scaling, rowsum):
    # reference _ljc_uni (join_counts_local.py:214-219)
    return z[i][:, None] * lags[0]


def _k_ljc_bv_case1(i, z, lags, self_w, scaling, rowsum):
    # reference _ljc_bv_case1 (join_counts_local_bv.py:294-300)
    return z[:, 0][i][:, None] * lags[0]


def _k_ljc_bv_case2(i, z, lags, self_w, scaling, rowsum):
    # reference _ljc_bv_case2 (join_counts_local_bv.py:303-306): joint
    # draws share indices, so the product column permutes as one vector
    return z[:, 1][i][:, None] * lags[0]


def _k_lee_local(i, z, lags, self_w, scaling, rowsum):
    # reference Spatial_Pearson_Local.fit loop (lee.py:213-231)
    return lags[0] * lags[1] * (scaling if scaling else 1.0)


def _k_geary_local_mv(i, z, lags, self_w, scaling, rowsum):
    # reference geary_local_mv.py:199-211: joint draws of all variables
    nv = z.shape[1]
    out = None
    for v in range(nv):
        zi = z[:, v][i]
        term = (
            (zi * zi * rowsum)[:, None]
            - 2.0 * zi[:, None] * lags[2 * v]
            + lags[2 * v + 1]
        )
        out = term if out is None else out + term
    return out / nv


KERNELS = {
    "moran_local": (_vec_uni, _k_moran_local),
    "moran_local_bv": (lambda z: [z[:, 1]], _k_moran_local_bv),
    "geary_local": (lambda z: [z, z * z], _k_geary_local),
    "g_local": (_vec_uni, _k_g_local),
    "g_local_star": (_vec_uni, _k_g_local_star),
    "ljc_uni": (_vec_uni, _k_ljc_uni),
    "ljc_bv_case1": (lambda z: [z[:, 1]], _k_ljc_bv_case1),
    "ljc_bv_case2": (lambda z: [z[:, 0] * z[:, 1]], _k_ljc_bv_case2),
    # generic "site constant times permuted lag" — partial MV local Moran
    # components (moran_local_mv.py:213-257) share this shape
    "left_times_lag": (lambda z: [z[:, 1]], _k_ljc_bv_case1),
    "lee_local": (lambda z: [z[:, 0], z[:, 1]], _k_lee_local),
    "geary_local_mv": (
        lambda z: [f(z[:, v]) for v in range(z.shape[1])
                   for f in (lambda a: a, lambda a: a * a)],
        _k_geary_local_mv,
    ),
}


def vec_permutations(max_card: int, n: int, k: int, seed: int) -> np.ndarray:
    """Shared (k, max_card) permutation-id table, ids in [0, n-1)
    (reference ``vec_permutations``, crand.py:29-56)."""
    rng = np.random.default_rng(seed)
    out = np.empty((k, max_card), dtype=np.int64)
    for r in range(k):
        out[r] = rng.choice(n - 1, size=max_card, replace=False)
    return out


def gather_neighborhoods(
    edges: DataFrame,
    tiles: int | None = None,
    seed: int = 12345,
) -> DataFrame:
    """(id, wlist, self_weight): per-site neighbor weights sorted by
    neighbor id, plus the self-loop weight — the crand gather, exposed
    so a fit issuing several crand calls over the SAME weights
    (``moran_local_partial``: q+2 components) can pay the edge shuffle
    once: ``gather_neighborhoods(w).persist()`` (materialize with a
    ``count()``) then pass via ``conditional_randomization(gathered=...)``.

    With ``tiles`` set the output carries the tiled path's ``tile``
    column (``pmod(xxhash64(id, seed), tiles)``) and is
    pre-partitioned on it.  ``tiles`` and ``seed`` MUST match the
    crand call's: a mismatched gather lands wlists in the wrong tile
    groups, which would silently treat most sites as islands — so the
    gather stamps its (tiles, seed) on the returned DataFrame and
    ``conditional_randomization`` validates the stamp and raises on a
    mismatch (ADVICE r5).  Materialize with ``persist()`` (+ a
    ``count()``), NOT localCheckpoint: the cached repartition keeps
    its tile partitioning through the cogroup, so every tiled crand
    call reuses the gather with zero per-call exchange, while a
    checkpointed plan reports UnknownPartitioning in this Spark build
    and re-exchanges (still skipping the edge re-aggregation)."""
    others = edges.where(F.col("focal") != F.col("neighbor"))
    selfw = (
        edges.where(F.col("focal") == F.col("neighbor"))
        .select(F.col("focal").alias("id"),
                F.col("weight").alias("self_weight"))
    )
    g = (
        others.groupBy("focal")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(neighbor, weight))),"
                " s -> s.weight)"
            ).alias("wlist")
        )
        .withColumnRenamed("focal", "id")
    )
    out = g.join(selfw, "id", "full").select(
        "id",
        F.coalesce("wlist", F.array()).alias("wlist"),
        F.coalesce("self_weight", F.lit(0.0)).alias("self_weight"),
    )
    if tiles is not None:
        spark = edges.sparkSession
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        out = (
            out.select(
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(tiles))
                .alias("tile"),
                "id", "wlist", "self_weight",
            )
            .repartition(nparts, "tile")
        )
        # consistency stamp validated by _crand_tiled (a mismatched
        # tiles/seed would silently island-ify ~(1 - 1/tiles) of sites)
        out._esda_gather_meta = (int(tiles), int(seed))
    return out


def _moment_cols(res: dict, obs: np.ndarray, e_sim, v_sim) -> None:
    from esda_spark.functions.mathx import norm_sf

    se = np.sqrt(v_sim)
    with np.errstate(divide="ignore", invalid="ignore"):
        z_sim = np.where(se > 0, (obs - e_sim) / se, np.nan)
    res["E_sim"] = e_sim
    res["V_sim"] = v_sim
    res["z_sim"] = z_sim
    res["p_z_sim"] = np.where(
        np.isfinite(z_sim), norm_sf(np.abs(z_sim)), np.nan
    )


def conditional_randomization(
    values: DataFrame,
    edges: DataFrame,
    observed: DataFrame,
    stat_func: str,
    permutations: int = 999,
    seed: int = 12345,
    scaling: float | None = None,
    island_weight: float = 0.0,
    alternative: str = "directed",
    keep: bool = False,
    moments: bool = False,
    mode: str = "auto",
    tiles: int = 64,
    gathered: DataFrame | None = None,
    n_sites: int | None = None,
    base: DataFrame | None = None,
    max_card: int | None = None,
) -> DataFrame:
    """Per-site pseudo p-values under conditional permutation.

    values:   (id, z) or (id, zx, zy, ...) with dense ids 0..n-1
    edges:    transformed weight edges; self-loops become self-weights
    observed: (id, observed) — the statistic being tested
    moments:  also emit E_sim/V_sim/z_sim/p_z_sim per site (reference
              ``moran.py:1386-1399``; V is the ddof=0 variance of sims)
    mode:     "broadcast" (exact reference semantics: every site draws
              from the full n-1 other values; z vector + shared perm
              table broadcast — caps at ~1e8-1e9 sites/executor heap)
              or "tiled" (beyond-broadcast deviation: sites hash into
              ``tiles`` random tiles and draws come from the tile's
              value pool.  Tiles are uniform random samples of the
              global value distribution, so the conditional null is
              statistically equivalent; nothing n-sized ever reaches
              the driver or a broadcast).  "auto" (default) counts the
              sites and picks: broadcast below the
              ``crand_tiled_sites`` gate
              (measured faster through 1e6 sites, and the reference's
              exact-draw semantics are preserved where users test
              against the reference), tiled at or above it — the
              regime where the broadcast path's O(n) driver collect
              becomes the binding constraint.
    gathered: optional precomputed :func:`gather_neighborhoods` output
              (id, wlist, self_weight[, tile]) — lets a fit that issues
              several crand calls over the same weights pay the edge
              gather shuffle once (checkpoint it first).  Works in both
              modes: broadcast joins it to ``observed``; tiled feeds it
              straight into the tile cogroup (gather with
              ``tiles=/seed=`` matching this call so the checkpointed
              tile partitioning is reused verbatim — a tile-less gather
              is re-tiled by one projection + exchange, still skipping
              the edge re-aggregation).
    n_sites:  row count of ``values`` if the caller already knows it —
              skips the count job mode="auto" otherwise runs per call.
    base:     optional prebuilt site frame with AT LEAST
              (id, observed, wlist, self_weight) — wlist the per-site
              neighbor weights sorted by neighbor id, self_weight the
              self-loop weight.  A local statistic that already
              aggregates the edge table per focal (spatial lag, wi/wi2
              moments) can emit the gathered neighborhood from the
              SAME groupBy and hand it here: the broadcast path then
              runs the kernel directly on it — no second edge
              aggregation, no output join (every non-wlist column is
              passed through next to the p columns).  Ignored by the
              tiled path (which owns its one-exchange assembly).
    Returns (id, p_sim [, moment cols] [, sims array<double>]), or the
    passthrough columns + p columns when ``base`` is used.
    """
    if mode == "auto":
        if n_sites is None:
            n_sites = values.count()
        mode = ("tiled" if n_sites >= gate.LIMITS["crand_tiled_sites"]
                else "broadcast")
    if mode == "tiled":
        return _crand_tiled(
            values, edges, observed, stat_func, permutations, seed,
            scaling, island_weight, alternative, keep, moments, tiles,
            gathered=gathered,
        )
    kernel = KERNELS[stat_func]
    spark = values.sparkSession
    sc = spark.sparkContext

    zcols = [c for c in values.columns if c != "id"]
    pdf = values.toPandas()  # unsorted collect; sort driver-side (cheap)
    n = len(pdf)
    ids_np = pdf["id"].to_numpy(np.int64)
    order_np = np.argsort(ids_np, kind="stable")
    if not (ids_np[order_np] == np.arange(n)).all():
        raise ValueError("conditional_randomization requires dense ids 0..n-1")
    z_np = pdf[zcols].to_numpy(dtype=np.float64)[order_np]
    if z_np.shape[1] == 1:
        z_np = z_np[:, 0]

    if scaling is None:
        if z_np.ndim == 1:
            scaling = (n - 1) / float((z_np * z_np).sum())
        else:
            scaling = (n - 1) / float((z_np[:, 0] ** 2).sum())

    parallelism = max(sc.defaultParallelism, 8)
    passthrough = None
    if base is not None:
        # prebuilt site frame: the caller's focal-keyed aggregate
        # already holds (observed, wlist, self_weight) — the kernel
        # runs directly on it (LAZY: the base assembly streams into
        # the kernel inside ONE job, the shape the round-5 scaling
        # evidence was built on) with every non-wlist column passed
        # through (no output join).  ``max_card`` comes from the
        # caller (one cheap aggregate over the raw edges, overlapped
        # with the caller's own value aggregate).
        passthrough = [f for f in base.schema.fields if f.name != "wlist"]
        if max_card is None:
            max_card = base.agg(
                F.max(F.size("wlist"))
            ).collect()[0][0] or 1
    elif gathered is None:
        max_card = (
            edges.where(F.col("focal") != F.col("neighbor"))
            .groupBy("focal").count()
            .agg(F.max("count")).collect()[0][0] or 1
        )
        # join-free base (same shape as the tiled path): edges and
        # observed union into one long-form table; ONE explicit
        # repartition both gathers and spreads the CPU-bound kernel
        # (REPARTITION_BY_NUM also pins the partition count against
        # AQE coalescing, which would otherwise shrink a small gather
        # to a handful of kernel tasks) — the former shape paid the
        # gather exchange AND a second full repartition of the wlist
        dnull = F.lit(None).cast("double")
        edge_rows = edges.select(
            F.col("focal").alias("id"),
            F.when(F.col("focal") != F.col("neighbor"), F.col("neighbor"))
            .alias("neighbor"),
            F.col("weight"),
            dnull.alias("observed"),
            F.when(F.col("focal") == F.col("neighbor"), F.col("weight"))
            .alias("self_weight"),
        )
        obs_rows = observed.select(
            "id", F.lit(None).cast("long").alias("neighbor"),
            dnull.alias("weight"), F.col("observed"),
            dnull.alias("self_weight"),
        )
        base = (
            edge_rows.unionByName(obs_rows)
            .repartition(parallelism, "id")
            .groupBy("id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN neighbor"
                    " IS NOT NULL THEN struct(neighbor, weight) END)),"
                    " s -> s.weight)"
                ).alias("wlist"),
                F.max("observed").alias("observed"),
                F.coalesce(F.max("self_weight"), F.lit(0.0))
                .alias("self_weight"),
            )
            .where(F.col("observed").isNotNull())
            .select("id", "observed", "wlist", "self_weight")
        )
    else:
        # precomputed (and typically checkpointed) gather: derive the
        # cardinality bound from it instead of re-scanning the edges
        max_card = (
            gathered.agg(F.max(F.size("wlist"))).collect()[0][0] or 1
        )
        base = (
            observed.join(gathered, "id", "left")
            .select(
                "id", "observed",
                F.coalesce("wlist", F.array()).alias("wlist"),
                F.coalesce("self_weight", F.lit(0.0)).alias("self_weight"),
            )
            .repartition(parallelism)  # spread the CPU-bound kernel
        )
    perm_table = vec_permutations(int(max_card), n, permutations, seed)

    z_bc = sc.broadcast(z_np)
    perm_bc = sc.broadcast(perm_table)

    if passthrough is not None:
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in passthrough
        )
    else:
        out_schema = "id long"
    out_schema += ", p_sim double"
    if moments:
        out_schema += (", E_sim double, V_sim double, z_sim double,"
                       " p_z_sim double")
    if keep:
        out_schema += ", sims array<double>"
    kw = dict(
        scaling=float(scaling), island_weight=float(island_weight),
        alternative=alternative, keep=keep, permutations=permutations,
        stat_func=stat_func,
    )
    pass_names = [f.name for f in passthrough] if passthrough else None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        z = z_bc.value
        P_full = perm_bc.value
        for pdf_b in batches:
            m_all = len(pdf_b)
            if m_all == 0:
                continue
            ids = pdf_b["id"].to_numpy(np.int64)
            obs = pdf_b["observed"].to_numpy(np.float64)
            selfws = pdf_b["self_weight"].to_numpy(np.float64)
            wl = pdf_b["wlist"].tolist()
            p_out, sims_out, e_sim, v_sim = crand_partition(
                ids, obs, selfws, wl, z, P_full, **kw
            )
            if pass_names is not None:
                res = {c: pdf_b[c] for c in pass_names}
            else:
                res = {"id": ids}
            res["p_sim"] = p_out
            if moments:
                _moment_cols(res, obs, e_sim, v_sim)
            if kw["keep"]:
                res["sims"] = sims_out
            yield pd.DataFrame(res)

    return base.mapInPandas(run, schema=out_schema)


def _crand_tiled(
    values: DataFrame,
    edges: DataFrame,
    observed: DataFrame,
    stat_func: str,
    permutations: int,
    seed: int,
    scaling: float | None,
    island_weight: float,
    alternative: str,
    keep: bool,
    moments: bool,
    tiles: int,
    gathered: DataFrame | None = None,
) -> DataFrame:
    """Tile-conditional permutation: the beyond-broadcast scale path.

    Sites hash into ``tiles`` random tiles; each site's null draws come
    from the tile's other values (a uniform random sample of the global
    distribution) instead of all n-1.  No n-sized broadcast, no driver
    collect of the value vector; each tile task runs the identical
    ``crand_partition`` kernel on a tile-local dense relabeling.
    Global constants (the (n-1)/sum(z^2) scaling) stay GLOBAL so
    statistics remain comparable across tiles.

    The tile id is a pure function of the site id, so the whole base
    side is assembled WITHOUT joins and the neighborhood data pays
    exactly ONE exchange: edges (tile computed from ``focal``),
    observed values and self-weights union into one long-form table,
    repartition by tile once, and a single (tile, focal) aggregate
    produces (wlist, observed, self_weight) rows that flow into the
    cogroup on the very same tile partitioning.  Tile-local dense
    indices are assigned inside the kernel (searchsorted against the
    tile pool's sorted ids) instead of a window, so the value table is
    also shuffled exactly once — by the cogroup itself.  (The
    round-3/4 shape gathered by focal and re-shuffled the full wlist
    table for the cogroup — a doubled edge-sized shuffle, the dominant
    cost at 1e9 sites.)

    With ``gathered`` (a checkpointed :func:`gather_neighborhoods`
    output, ideally built with matching ``tiles``/``seed`` so its tile
    partitioning feeds the cogroup without any exchange) the
    neighborhood side pays NOTHING per call: ``observed`` rides the
    n-sized pool exchange as marker rows and the kernel splits them
    back out — a fit issuing several crand calls over one W (partial
    MV Moran: q+2 components) gathers the edge table exactly once,
    matching the reference's one-gather-per-fit behavior
    (``/root/reference/esda/crand.py:179-221``).
    """
    spark = values.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if gathered is not None and "tile" in gathered.columns:
        meta = getattr(gathered, "_esda_gather_meta", None)
        if meta is not None and meta != (int(tiles), int(seed)):
            raise ValueError(
                f"gathered neighborhoods were tiled with tiles/seed="
                f"{meta} but this crand call uses ({tiles}, {seed}) — "
                "a mismatched gather silently islands most sites; "
                "rebuild the gather with matching parameters"
            )

    def tile_of(col):
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(tiles))

    zcols = [c for c in values.columns if c != "id"]
    zfirst = zcols[0]
    agg = values.agg(
        F.count("*").alias("n"),
        F.sum(F.col(zfirst) * F.col(zfirst)).alias("ss"),
    ).collect()[0]
    n = int(agg["n"])
    if scaling is None:
        scaling = (n - 1) / float(agg["ss"])

    dnull = F.lit(None).cast("double")
    lnull = F.lit(None).cast("long")
    if gathered is None:
        edge_rows = edges.select(
            tile_of(F.col("focal")).alias("tile"),
            F.col("focal").alias("id"),
            F.when(F.col("focal") != F.col("neighbor"), F.col("neighbor"))
            .alias("neighbor"),
            F.col("weight"),
            dnull.alias("observed"),
            # self-loop edges carry their weight in the self_weight slot
            F.when(F.col("focal") == F.col("neighbor"), F.col("weight"))
            .alias("self_weight"),
        )
        obs_rows = observed.select(
            tile_of(F.col("id")).alias("tile"), F.col("id"),
            lnull.alias("neighbor"), dnull.alias("weight"),
            F.col("observed"), dnull.alias("self_weight"),
        )
        # THE single neighborhood exchange: the (tile, focal) gather runs
        # inside the tile partitioning and the cogroup reuses it verbatim
        base = (
            edge_rows.unionByName(obs_rows)
            .repartition(nparts, "tile")
            .groupBy("tile", "id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN neighbor IS"
                    " NOT NULL THEN struct(neighbor, weight) END)),"
                    " s -> s.weight)"
                ).alias("wlist"),
                F.max("observed").alias("observed"),
                F.coalesce(F.max("self_weight"), F.lit(0.0))
                .alias("self_weight"),
            )
            # sites come from `observed` (edges whose focal was never
            # scored drop out, islands with no edges stay in)
            .where(F.col("observed").isNotNull())
        )
        pool = values.select(
            tile_of(F.col("id")).alias("tile"), F.col("id").alias("pid"),
            *zcols,
        )
    else:
        # precomputed gather: the neighborhood side pays nothing per
        # call (tile column present -> checkpointed tile partitioning
        # flows into the cogroup; absent -> one projection + exchange,
        # still no edge re-aggregation).  `observed` rides the n-sized
        # pool exchange as _kind=1 marker rows; sites and islands come
        # from it exactly as in the union path.
        base = (
            gathered if "tile" in gathered.columns
            else gathered.select(
                tile_of(F.col("id")).alias("tile"),
                "id", "wlist", "self_weight",
            )
        ).select("tile", "id", "wlist", "self_weight")
        pool = (
            values.select(
                tile_of(F.col("id")).alias("tile"),
                F.col("id").alias("pid"), *zcols,
                dnull.alias("_obs"), F.lit(0).alias("_kind"),
            )
            .unionByName(observed.select(
                tile_of(F.col("id")).alias("tile"),
                F.col("id").alias("pid"),
                *[dnull.alias(c) for c in zcols],
                F.col("observed").alias("_obs"), F.lit(1).alias("_kind"),
            ))
        )

    out_schema = "id long, p_sim double"
    if moments:
        out_schema += (", E_sim double, V_sim double, z_sim double,"
                       " p_z_sim double")
    if keep:
        out_schema += ", sims array<double>"
    kw = dict(
        scaling=float(scaling), island_weight=float(island_weight),
        alternative=alternative, keep=keep, permutations=permutations,
        stat_func=stat_func,
    )

    def run_tile(key, base_pdf, pool_pdf):
        tile = int(key[0])
        if len(base_pdf) and len(pool_pdf) == 0:
            # loud, like the lids check below: silently dropping the
            # tile's sites would be an empty-output correctness hole
            raise ValueError(
                f"tile {tile} has {len(base_pdf)} observed sites but an "
                "empty value pool; values must cover every site's tile"
            )
        if len(base_pdf) == 0 or len(pool_pdf) == 0:
            return pd.DataFrame(
                {c.split(" ")[0]: [] for c in out_schema.split(", ")}
            )
        pool_sorted = pool_pdf.sort_values("pid")
        pool_ids = pool_sorted["pid"].to_numpy(np.int64)
        z = pool_sorted[zcols].to_numpy(np.float64)
        if z.shape[1] == 1:
            z = z[:, 0]
        n_t = len(pool_sorted)
        wl = base_pdf["wlist"].tolist()
        max_card = max((len(w) for w in wl), default=1) or 1
        if max_card >= n_t - 1:
            raise ValueError(
                f"tile {tile} has {n_t} sites but a site with {max_card} "
                "neighbors; use fewer tiles so each tile's pool exceeds "
                "the max cardinality"
            )
        P_full = vec_permutations(
            max_card, n_t, kw["permutations"],
            seed ^ (0x9E3779B9 * (tile + 1) & 0x7FFFFFFF),
        )
        # tile-local dense index = rank of id within the tile pool
        # (formerly a window over the values table; in-kernel it costs
        # one sort of the tile's ids and no extra shuffle)
        base_ids = base_pdf["id"].to_numpy(np.int64)
        lids = np.searchsorted(pool_ids, base_ids)
        if (lids >= n_t).any() or not (pool_ids[lids] == base_ids).all():
            raise ValueError(
                f"tile {tile}: observed contains ids absent from values"
            )
        obs = base_pdf["observed"].to_numpy(np.float64)
        selfws = base_pdf["self_weight"].to_numpy(np.float64)
        p_out, sims_out, e_sim, v_sim = crand_partition(
            lids, obs, selfws, wl, z, P_full, **kw
        )
        res = {"id": base_pdf["id"].to_numpy(np.int64), "p_sim": p_out}
        if moments:
            _moment_cols(res, obs, e_sim, v_sim)
        if kw["keep"]:
            res["sims"] = sims_out
        return pd.DataFrame(res)

    def run_tile_gathered(key, base_pdf, pool_pdf):
        tile = int(key[0])
        empty = pd.DataFrame(
            {c.split(" ")[0]: [] for c in out_schema.split(", ")}
        )
        kind = pool_pdf["_kind"].to_numpy()
        obs_pdf = pool_pdf[kind == 1]
        val_pdf = pool_pdf[kind == 0]
        if len(obs_pdf) and len(val_pdf) == 0:
            raise ValueError(
                f"tile {tile} has {len(obs_pdf)} observed sites but an "
                "empty value pool; values must cover every site's tile"
            )
        if len(obs_pdf) == 0 or len(val_pdf) == 0:
            return empty
        pool_sorted = val_pdf.sort_values("pid")
        pool_ids = pool_sorted["pid"].to_numpy(np.int64)
        z = pool_sorted[zcols].to_numpy(np.float64)
        if z.shape[1] == 1:
            z = z[:, 0]
        n_t = len(pool_sorted)
        site_ids = obs_pdf["pid"].to_numpy(np.int64)
        obs = obs_pdf["_obs"].to_numpy(np.float64)
        # neighborhood lookup: a site absent from the gather is an
        # island (empty wlist) — same semantics as the union path
        bids = base_pdf["id"].to_numpy(np.int64)
        border = np.argsort(bids, kind="stable")
        bsort = bids[border]
        if len(bsort):
            pos = np.minimum(
                np.searchsorted(bsort, site_ids), len(bsort) - 1
            )
            has = bsort[pos] == site_ids
            sw_all = base_pdf["self_weight"].to_numpy(np.float64)
            selfws = np.where(has, sw_all[border[pos]], 0.0)
            wl_all = base_pdf["wlist"].to_numpy()
            wl = [
                wl_all[border[p]] if ok else []
                for p, ok in zip(pos, has)
            ]
        else:
            selfws = np.zeros(len(site_ids))
            wl = [[] for _ in site_ids]
        max_card = max((len(w) for w in wl), default=1) or 1
        if max_card >= n_t - 1:
            raise ValueError(
                f"tile {tile} has {n_t} sites but a site with {max_card} "
                "neighbors; use fewer tiles so each tile's pool exceeds "
                "the max cardinality"
            )
        P_full = vec_permutations(
            max_card, n_t, kw["permutations"],
            seed ^ (0x9E3779B9 * (tile + 1) & 0x7FFFFFFF),
        )
        lids = np.searchsorted(pool_ids, site_ids)
        if (lids >= n_t).any() or not (pool_ids[lids] == site_ids).all():
            raise ValueError(
                f"tile {tile}: observed contains ids absent from values "
                "(gathered tiles/seed must match this call's)"
            )
        p_out, sims_out, e_sim, v_sim = crand_partition(
            lids, obs, selfws, wl, z, P_full, **kw
        )
        res = {"id": site_ids, "p_sim": p_out}
        if moments:
            _moment_cols(res, obs, e_sim, v_sim)
        if kw["keep"]:
            res["sims"] = sims_out
        return pd.DataFrame(res)

    kernel_fn = run_tile if gathered is None else run_tile_gathered
    return (
        base.groupBy("tile")
        .cogroup(pool.groupBy("tile"))
        .applyInPandas(kernel_fn, schema=out_schema)
    )


def crand_partition(
    ids: np.ndarray,
    obs: np.ndarray,
    selfws: np.ndarray,
    wl: list,
    z: np.ndarray,
    P_full: np.ndarray,
    stat_func: str,
    scaling: float,
    island_weight: float,
    alternative: str,
    keep: bool,
    permutations: int,
):
    """One partition's conditional-randomization compute (pure numpy).

    Module-level so the Spark closure and the bench's kernel-scaling
    harness drive the identical code path.
    """
    m_all = len(ids)
    k = permutations
    vectors_fn, sims_fn = KERNELS[stat_func]
    vecs = vectors_fn(z)
    # counting alternatives stream over rep-blocks with O(m) state;
    # distribution-shaped alternatives need the full (m, k) sims row
    streaming = (
        alternative in ("directed", "greater", "lesser") and not keep
    )
    kb_size = _REP_BLOCK if streaming else k

    def sweep_blocks(P, i_sel, wpad, m):
        """Yield (row_slice, lag_list) over the sorted-site sweep.

        Sites sorted by id make [P >= id] a prefix-of-ones per
        (rep, slot) pair, so each lag block is one dgemm against a
        rank-updated (c, k_blk) accumulator — no (m, k, c) arrays.
        """
        c_max = P.shape[1]
        tables = []
        for v in vecs:
            vlo = v[P]
            tables.append((vlo.T, (v[P + 1] - vlo)))
        t = np.searchsorted(i_sel, P.ravel(), side="right")
        act = np.argsort(-t, kind="stable")
        ts = t[act]
        act_k = act // c_max
        act_c = act % c_max
        full = (t.reshape(P.shape) >= m)
        states = [vloT + np.where(full, dv, 0.0).T for vloT, dv in tables]
        j = int(np.searchsorted(-ts, -(m - 1)))
        pos = m
        while pos > 0:
            while j < len(ts) and ts[j] == pos:
                kk_, cc_ = int(act_k[j]), int(act_c[j])
                for S, (vloT, dv) in zip(states, tables):
                    S[cc_, kk_] += dv[kk_, cc_]
                j += 1
            nxt = int(ts[j]) if j < len(ts) else 0
            lo = max(nxt, 0)
            blk = slice(lo, pos)
            yield blk, [wpad[blk] @ S for S in states]
            pos = lo

    cards = np.fromiter((len(wi) for wi in wl), dtype=np.int64, count=m_all)
    # flat ragged buffer + offsets: one concatenate instead of per-row
    # conversions (the Arrow batch is list-typed)
    flat_w = (
        np.concatenate([np.asarray(wi, dtype=np.float64)
                        for wi in wl if len(wi)])
        if cards.sum() else np.empty(0)
    )
    starts = np.zeros(m_all + 1, dtype=np.int64)
    np.cumsum(cards, out=starts[1:])
    # islands: single fake neighbor at island_weight (crand.py:333-339)
    island_mask = cards == 0
    cards = np.maximum(cards, 1)
    p_out = np.empty(m_all, dtype=np.float64)
    e_out = np.empty(m_all, dtype=np.float64)
    v_out = np.empty(m_all, dtype=np.float64)
    sims_out = [None] * m_all if keep else None

    order = np.argsort(ids, kind="stable")
    pos0 = 0
    while pos0 < m_all:
        # streaming path never materializes (m, k): site chunks only
        # bound the padded-weights matrix
        m_chunk = 8192 if streaming else max(64, _CHUNK_ELEMS // max(k, 1))
        sel = order[pos0:pos0 + m_chunk]
        pos0 += len(sel)
        c_max = int(cards[sel].max())
        i_sel = ids[sel]
        m = len(sel)
        # vectorized ragged->padded scatter
        wpad = np.zeros((m, c_max))
        real = ~island_mask[sel]
        real_rows = np.nonzero(real)[0]
        reps = np.minimum(cards[sel][real_rows], c_max)
        if len(real_rows):
            rowidx = np.repeat(real_rows, reps)
            offs = np.repeat(starts[sel[real_rows]], reps)
            within = (
                np.arange(len(rowidx))
                - np.repeat(np.cumsum(reps) - reps, reps)
            )
            wpad[rowidx, within] = flat_w[offs + within]
        isl_rows = np.nonzero(~real)[0]
        if len(isl_rows):
            wpad[isl_rows, 0] = island_weight
        rowsum = wpad.sum(axis=1)
        obs_sel = obs[sel]
        selfws_sel = selfws[sel]

        if streaming:
            cnt_ge = np.zeros(m, dtype=np.int64)
            cnt_le = np.zeros(m, dtype=np.int64)
            s1 = np.zeros(m)
            s2 = np.zeros(m)
            for kb in range(0, k, kb_size):
                Pb = P_full[kb:kb + kb_size, :c_max]
                for blk, lags in sweep_blocks(Pb, i_sel, wpad, m):
                    sims = sims_fn(
                        i_sel[blk], z, lags, selfws_sel[blk],
                        scaling, rowsum[blk],
                    )
                    ob = obs_sel[blk][:, None]
                    cnt_ge[blk] += (sims >= ob).sum(axis=1)
                    cnt_le[blk] += (sims <= ob).sum(axis=1)
                    s1[blk] += sims.sum(axis=1)
                    s2[blk] += (sims * sims).sum(axis=1)
            e_out[sel] = s1 / k
            v_out[sel] = np.maximum(s2 / k - (s1 / k) ** 2, 0.0)
            if alternative == "greater":
                p = (cnt_ge + 1.0) / (k + 1.0)
            elif alternative == "lesser":
                p = (cnt_le + 1.0) / (k + 1.0)
            else:  # directed
                larger = cnt_ge.copy()
                low = (k - larger) < larger
                larger[low] = k - larger[low]
                p = (larger + 1.0) / (k + 1.0)
            p_out[sel] = p
        else:
            P = P_full[:, :c_max]
            for blk, lags in sweep_blocks(P, i_sel, wpad, m):
                sims = sims_fn(
                    i_sel[blk], z, lags, selfws_sel[blk],
                    scaling, rowsum[blk],
                )
                rows = sel[blk]
                p_out[rows] = permutation_significance(
                    obs[rows], sims, alternative
                )
                e_out[rows] = sims.mean(axis=1)
                v_out[rows] = sims.var(axis=1)
                if keep:
                    for r, s in enumerate(rows):
                        sims_out[s] = sims[r].tolist()
    return p_out, sims_out, e_out, v_out
