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
3. The per-site neighborhood arrives, in both regimes, as flat rows:
   one ``(id=focal, neighbor, w)`` row per edge plus one marker row per
   site carrying the observed statistic (or the site's value).  Only
   three primitive columns cross the Arrow boundary (no
   ``list<double>`` column, no aggregate).  The broadcast regime hash
   partitions them on ``id`` into one task per core and sorts them by
   ``(id, neighbor, w)`` inside each partition; the kernel cuts the
   sorted stream into sites in numpy, carrying a site whose rows
   straddle an Arrow batch into the next, and the shuffle plays the
   role of the reference's joblib chunking (``crand.py:360-459``).
   The tiled regime cogroups the same rows with each tile's value pool
   and sorts a tile's rows in numpy before the same cut.
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

from esda_spark.functions.mathx import norm_sf
from esda_spark.operators.significance import permutation_significance
from esda_spark.operators.weights import transform_weights
from esda_spark.plans import gate

# Site-chunk budget (m*k) and rep-block width for the streaming path;
# the rep block keeps per-segment working sets cache-resident, which is
# what makes the kernel scale with cores instead of RAM bandwidth.
_CHUNK_ELEMS = 8_000_000
_REP_BLOCK = 2048
# Sites per crand_partition call on the flat path (its streaming chunk).
_SITE_CHUNK = 8192

# mode="auto" switchover (gate ``crand_tiled_sites``): below it the
# broadcast path (driver collect + broadcast of the value vector) wins
# or ties; the switch sits where the O(n) driver collect itself becomes
# the wall, not where the tiled path merely exists.  Measurements in
# PLANS.md (round 5).


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


def _p_schema(moments: bool, keep: bool) -> str:
    """Schema of the p columns a crand kernel appends."""
    out = ", p_sim double"
    if moments:
        out += ", E_sim double, V_sim double, z_sim double, p_z_sim double"
    if keep:
        out += ", sims array<double>"
    return out


def _p_frame(res: dict, rows, obs, selfws, cards, flat_w, z, P_full,
             kw: dict, moments: bool) -> pd.DataFrame:
    """Run :func:`crand_partition` on one batch of sites (``rows``:
    their rows in ``z``) and append its p columns to ``res``."""
    if (rows < 0).any():
        raise ValueError("observed contains ids absent from values")
    p_out, sims_out, e_sim, v_sim = crand_partition(
        rows, obs, selfws, cards, flat_w, z, P_full, **kw
    )
    res["p_sim"] = p_out
    if moments:
        se = np.sqrt(v_sim)
        with np.errstate(divide="ignore", invalid="ignore"):
            z_sim = np.where(se > 0, (obs - e_sim) / se, np.nan)
        res.update(E_sim=e_sim, V_sim=v_sim, z_sim=z_sim, p_z_sim=np.where(
            np.isfinite(z_sim), norm_sf(np.abs(z_sim)), np.nan))
    if kw["keep"]:
        res["sims"] = sims_out
    return pd.DataFrame(res)


def _max_card(edges: DataFrame) -> int:
    """Most non-self edges at one focal: the permutation table width
    (transform-independent, so raw edges serve)."""
    return int(
        edges.where(F.col("focal") != F.col("neighbor"))
        .groupBy("focal").count()
        .agg(F.max("count")).collect()[0][0] or 1
    )


def _broadcast_setup(values: DataFrame, permutations: int, seed: int,
                     scaling: float | None, max_card):
    """Driver side of the broadcast regime: collect the value table
    (the permutation-table width job ``max_card()`` runs concurrently),
    then broadcast its sorted ids, the value vector z in id order and
    the shared permutation table.  A site's row in z is the rank of its
    id (:func:`_rank`).  Returns (ids, z, table, scaling)."""
    from concurrent.futures import ThreadPoolExecutor

    sc = values.sparkSession.sparkContext
    with ThreadPoolExecutor(max_workers=1) as pool:
        card = pool.submit(max_card) if permutations else None
        pdf = values.toPandas()
        width = card.result() if card else None
    ids = pdf["id"].to_numpy(np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    if (ids[1:] == ids[:-1]).any():
        raise ValueError("conditional_randomization requires unique value ids")
    z = pdf[[c for c in values.columns if c != "id"]].to_numpy(np.float64)
    z = z[order] if z.shape[1] > 1 else z[order, 0]
    if scaling is None:
        z0 = z if z.ndim == 1 else z[:, 0]
        scaling = (len(z) - 1) / float((z0 * z0).sum())
    table = (vec_permutations(width, len(z), permutations, seed)
             if width else None)
    return (sc.broadcast(ids), sc.broadcast(z), sc.broadcast(table),
            float(scaling))


def _rank(ids: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row of each id of ``q`` in the sorted ``ids``, -1 where absent."""
    if not len(ids):
        return np.full(len(q), -1)
    pos = np.minimum(np.searchsorted(ids, q), len(ids) - 1)
    return np.where(ids[pos] == q, pos, -1)


# Marker rows carry this in the neighbor slot: it sorts before every
# real neighbor id, so each site's rows open with its marker.
_MARK = -(1 << 63)


def _site_runs(batches: Iterator[pd.DataFrame], min_sites: int):
    """Yield (id, neighbor, w) arrays holding whole sites, at least
    ``min_sites`` marker rows each except the last: the rows of the
    partition's last site so far may continue in the next Arrow batch,
    so they carry over."""
    parts, marks = [], 0
    for pdf in batches:
        cols = (pdf["id"].to_numpy(np.int64),
                pdf["neighbor"].to_numpy(np.int64),
                pdf["w"].to_numpy(np.float64))
        parts.append(cols)
        marks += int((cols[1] == _MARK).sum())
        if marks <= min_sites:
            continue
        ids, nb, w = (np.concatenate(c) for c in zip(*parts))
        cut = int(np.searchsorted(ids, ids[-1]))
        if cut:
            yield ids[:cut], nb[:cut], w[:cut]
        parts = [(ids[cut:], nb[cut:], w[cut:])]
        marks = int((nb[cut:] == _MARK).sum())
    if parts:
        ids, nb, w = (np.concatenate(c) for c in zip(*parts))
        if len(ids):
            yield ids, nb, w


def _sites(ids: np.ndarray, nb: np.ndarray, w: np.ndarray):
    """Cut an id-sorted run into sites: (site ids, marker values, site
    index / neighbor / w of every edge row).  Sites without a marker
    row (edges whose focal is not scored) drop out."""
    new = np.r_[True, ids[1:] != ids[:-1]]
    marked = nb[new] == _MARK
    if not marked.all():
        keep = marked[np.cumsum(new) - 1]
        ids, nb, w = ids[keep], nb[keep], w[keep]
        new = np.r_[True, ids[1:] != ids[:-1]]
    edge = nb != _MARK
    seg = (np.cumsum(new) - 1)[edge]
    return ids[new], w[new], seg, nb[edge], w[edge]


def _self_weights(sid, seg, nb, w):
    """(is_self mask over the edge rows, per-site self-loop weight):
    the largest weight of a site's self-loops, 0 without one."""
    is_self = nb == sid[seg]
    selfw = np.zeros(len(sid))
    if is_self.any():
        top = np.full(len(sid), -np.inf)
        np.maximum.at(top, seg[is_self], w[is_self])
        selfw = np.where(np.isneginf(top), 0.0, top)
    return is_self, selfw


def _site_rows(edges: DataFrame, marks: DataFrame, wcol) -> DataFrame:
    """The flat (id, neighbor, w) rows both regimes read: one row per
    edge (weight ``wcol``) plus one ``_MARK`` row per site of ``marks``
    with a non-null value."""
    edge_rows = edges.select(
        F.col("focal").cast("long").alias("id"),
        F.col("neighbor").cast("long"), wcol.cast("double").alias("w"),
    )
    mark_rows = marks.where(F.col("w").isNotNull()).select(
        F.col("id").cast("long"), F.lit(_MARK).alias("neighbor"),
        F.col("w").cast("double"),
    )
    return edge_rows.unionByName(mark_rows)


def flat_crand(
    values: DataFrame,
    edges: DataFrame,
    marks: DataFrame,
    stat_func: str,
    permutations: int = 999,
    seed: int = 12345,
    scaling: float | None = None,
    island_weight: float = 0.0,
    alternative: str = "directed",
    keep: bool = False,
    moments: bool = False,
    local: tuple | None = None,
) -> DataFrame:
    """Broadcast-regime crand on flat, focal-sorted edge rows, in ONE
    exchange.

    ``marks`` holds one (id, w) row per site: the observed statistic,
    or with ``local`` = (value_col, style, obs_col, observe) the site's
    value.  In the latter case ``edges`` are RAW and the kernel also
    forms, from the broadcast value vector, the site's spatial lag and
    row moments wi / wi2 under the weight ``style`` (R: sums of raw
    weights divided by the row sum afterwards, each neighbor weight the
    single division ``w / rowsum`` a windowed row-standardization
    makes; B: unit weights; O: weights as given; D/V: pre-transformed)
    and the observed value ``observe(value, lag)`` (numpy arrays in) —
    the path of a local statistic whose observed value is a function
    of the site's value and its lag.  Edges to ids absent from
    ``values`` drop out of the lag, as in a join.  Returns (id, p
    columns) or, with ``local``, (id, value_col, lag, wi, wi2, obs_col
    [, p columns]); with ``permutations=0`` no p columns."""
    ids_bc, z_bc, perm_bc, scaling = _broadcast_setup(
        values, permutations, seed, scaling, lambda: _max_card(edges))
    kw = dict(
        scaling=scaling, island_weight=float(island_weight),
        alternative=alternative, keep=keep, permutations=permutations,
        stat_func=stat_func,
    )
    wcol = F.col("weight")
    out_schema = "id long"
    if local is not None:
        value_col, style, obs_col, observe = local
        style = style.upper()
        if style not in ("R", "B", "O"):
            edges, style = transform_weights(edges, style), "O"
        if style == "B":
            wcol = F.lit(1.0)
        out_schema += (f", {value_col} double, lag double, wi double,"
                       f" wi2 double, {obs_col} double")
    if permutations:
        out_schema += _p_schema(moments, keep)
    site_chunk = _SITE_CHUNK  # read on the driver; ships in the closure

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        z, vids = z_bc.value, ids_bc.value
        for run in _site_runs(batches, site_chunk):
            sid, mark, seg, nb, w = _sites(*run)
            m = len(sid)
            res, obs = {"id": sid}, mark
            if local is not None:
                pos = _rank(vids, nb)
                ok = pos >= 0
                if not ok.all():
                    seg, nb, w, pos = seg[ok], nb[ok], w[ok], pos[ok]
            is_self, selfw = _self_weights(sid, seg, nb, w)
            if local is not None:
                wi = np.bincount(seg, weights=w, minlength=m)
                lag = np.bincount(seg, weights=w * z[pos], minlength=m)
                wi2 = np.bincount(seg, weights=w * w, minlength=m)
                if style == "R":
                    safe = np.where(wi != 0.0, wi, 1.0)
                    lag, wi, wi2 = lag / safe, wi / safe, wi2 / (safe * safe)
                    w, selfw = w / safe[seg], selfw / safe
                obs = observe(mark, lag)
                res.update({value_col: mark, "lag": lag, "wi": wi,
                            "wi2": wi2, obs_col: obs})
            if not permutations:
                yield pd.DataFrame(res)
                continue
            yield _p_frame(
                res, _rank(vids, sid), obs, selfw,
                np.bincount(seg[~is_self], minlength=m), w[~is_self],
                z, perm_bc.value, kw, moments,
            )

    # one task per core (REPARTITION_BY_NUM: AQE keeps the count); a
    # site's rows land contiguous, marker first, neighbors ascending
    sc = values.sparkSession.sparkContext
    return (
        _site_rows(edges, marks, wcol)
        .repartition(sc.defaultParallelism, "id")
        .sortWithinPartitions("id", "neighbor", "w")
        .mapInPandas(kernel, schema=out_schema)
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
    n_sites: int | None = None,
) -> DataFrame:
    """Per-site pseudo p-values under conditional permutation.

    values:   (id, z) or (id, zx, zy, ...), one row per unique id; a
              site draws from the values of the n-1 other rows
    edges:    transformed weight edges; self-loops become self-weights
    observed: (id, observed) — the statistic being tested
    moments:  also emit E_sim/V_sim/z_sim/p_z_sim per site (reference
              ``moran.py:1386-1399``; V is the ddof=0 variance of sims)
    mode:     "broadcast" (exact reference semantics: every site draws
              from the full n-1 other values; z vector + shared perm
              table broadcast, neighborhoods streamed to the kernel as
              flat focal-sorted edge rows — caps at ~1e8-1e9
              sites/executor heap)
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
    n_sites:  row count of ``values`` if the caller already knows it —
              skips the count job mode="auto" otherwise runs per call.
    Returns (id, p_sim [, moment cols] [, sims array<double>]).
    """
    if mode not in ("auto", "broadcast", "tiled"):
        raise ValueError(
            f"mode must be 'auto', 'broadcast' or 'tiled', got {mode!r}")
    if mode == "auto":
        if n_sites is None:
            n_sites = values.count()
        mode = ("tiled" if n_sites >= gate.LIMITS["crand_tiled_sites"]
                else "broadcast")
    marks = observed.select("id", F.col("observed").alias("w"))
    args = (stat_func, permutations, seed, scaling, island_weight,
            alternative, keep, moments)
    if mode == "tiled":
        return _crand_tiled(values, edges, marks, *args, tiles)
    return flat_crand(values, edges, marks, *args)


def _crand_tiled(
    values: DataFrame,
    edges: DataFrame,
    marks: DataFrame,
    stat_func: str,
    permutations: int,
    seed: int,
    scaling: float | None,
    island_weight: float,
    alternative: str,
    keep: bool,
    moments: bool,
    tiles: int,
) -> DataFrame:
    """Tile-conditional permutation: the beyond-broadcast scale path.

    Sites hash into ``tiles`` random tiles; each site's null draws come
    from the tile's other values (a uniform random sample of the global
    distribution) instead of all n-1.  No n-sized broadcast, no driver
    collect of the value vector; each tile task runs the identical
    ``crand_partition`` kernel on a tile-local dense relabeling.
    Global constants (the (n-1)/sum(z^2) scaling) stay GLOBAL so
    statistics remain comparable across tiles.

    The tile id is a pure function of the site id, so the flat site
    rows of :func:`_site_rows` (``marks`` = (id, w) observed values)
    take their tile by projection and cogroup with the value pool: each
    side pays exactly one exchange, the cogroup's.  The kernel sorts a
    tile's rows by (id, neighbor, w) and cuts them into sites as the
    broadcast regime does; tile-local dense indices are the ranks of
    the site ids in the tile pool's sorted ids.
    """
    def tile_of(col):
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(tiles))

    zcols = [c for c in values.columns if c != "id"]
    if scaling is None:
        zfirst = F.col(zcols[0])
        agg = values.agg(F.count("*").alias("n"),
                         F.sum(zfirst * zfirst).alias("ss")).collect()[0]
        scaling = (int(agg["n"]) - 1) / float(agg["ss"])
    rows = _site_rows(edges, marks, F.col("weight")).withColumn(
        "tile", tile_of(F.col("id")))
    pool = values.select(
        # hashed as the long the site rows carry, so both sides agree
        tile_of(F.col("id").cast("long")).alias("tile"),
        F.col("id").alias("pid"), *zcols,
    )
    out_schema = "id long" + _p_schema(moments, keep)
    kw = dict(
        scaling=float(scaling), island_weight=float(island_weight),
        alternative=alternative, keep=keep, permutations=permutations,
        stat_func=stat_func,
    )

    def run_tile(key, rows_pdf, pool_pdf):
        """crand over one tile: draws come from the tile's value pool."""
        tile = int(key[0])
        sid = np.empty(0, dtype=np.int64)
        if len(rows_pdf):
            ids = rows_pdf["id"].to_numpy(np.int64)
            nb = rows_pdf["neighbor"].to_numpy(np.int64)
            w = rows_pdf["w"].to_numpy(np.float64)
            o = np.lexsort((w, nb, ids))
            sid, obs, seg, nb, w = _sites(ids[o], nb[o], w[o])
        if not len(sid):
            return pd.DataFrame(
                {c.split(" ")[0]: [] for c in out_schema.split(", ")}
            )
        if not len(pool_pdf):
            # loud: silently dropping the tile's sites would be an
            # empty-output correctness hole
            raise ValueError(
                f"tile {tile} has {len(sid)} observed sites but an "
                "empty value pool; values must cover every site's tile"
            )
        pool_pdf = pool_pdf.sort_values("pid")
        pool_ids = pool_pdf["pid"].to_numpy(np.int64)
        z = pool_pdf[zcols].to_numpy(np.float64)
        if z.shape[1] == 1:
            z = z[:, 0]
        n_t = len(pool_ids)
        is_self, selfw = _self_weights(sid, seg, nb, w)
        cards = np.bincount(seg[~is_self], minlength=len(sid))
        max_card = int(cards.max(initial=0)) or 1
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
        return _p_frame({"id": sid}, _rank(pool_ids, sid), obs, selfw,
                        cards, w[~is_self], z, P_full, kw, moments)

    return (
        rows.groupBy("tile")
        .cogroup(pool.groupBy("tile"))
        .applyInPandas(run_tile, schema=out_schema)
    )


def crand_partition(
    ids: np.ndarray,
    obs: np.ndarray,
    selfws: np.ndarray,
    cards: np.ndarray,
    flat_w: np.ndarray,
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

    ``ids`` are the sites' rows in ``z``; site i's neighbor weights,
    sorted by neighbor id, are ``flat_w[sum(cards[:i]):][:cards[i]]``.
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

    cards = np.asarray(cards, dtype=np.int64)
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
