"""Global spatial-autocorrelation statistics (SURVEY.md §2.1).

Every statistic is expressed as: weight transform -> spatial lag or
edge-wise expression (join + aggregate) -> a handful of global
aggregates -> closed-form moments on the driver.  Moran, Geary and
Getis G form those aggregates in numpy instead when the edges and
values fit the ``stat_rows`` gate (``plans/gate.py``).  Analytic
inference (normal approximation under normality / randomization
nulls) uses the exact formulas of the reference:

- Moran's I:   ``moran.py:230-271``
- Geary's C:   ``geary.py:162-188``
- Getis-Ord G: ``getisord.py:150-183``
- Gamma:       ``gamma.py:202-234``
- Join counts: ``join_counts.py:234-251``
- Lee's L:     ``lee.py:93-97``

Permutation inference (total randomization, reference P4 pattern e.g.
``moran.py:206-215``) is *distributed*: one shuffle assigns each of k
replicates an independent uniform permutation of the value column
(rank of a seeded hash), then all k replicate statistics evaluate in a
single edge-join + grouped aggregate — no driver-side loop over
replicates, no collect of the value vector.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esda_spark.functions.mathx import chi2_sf, norm_cdf, norm_sf
from esda_spark.operators.crand import _rank
from esda_spark.operators.lag import spatial_lag
from esda_spark.operators.weights import (
    EDGE_COLS,
    summary_arrays,
    summary_for,
    transform_weights,
)
from esda_spark.plans import gate


# ---------------------------------------------------------------------------
# distributed total-randomization machinery (P4)
# ---------------------------------------------------------------------------

def permuted_values(
    values: DataFrame, value_col: str, permutations: int, seed: int,
    buckets: int | None = None,
) -> DataFrame:
    """(rep, id, zp): ``permutations`` independent uniform permutations.

    Permutation r assigns row i the value held by the row at i's
    position in a random total order.  The order is *bucket-major*:
    rows hash to ``_h = xxhash64(id, rep, seed)``, bucket
    ``_b = pmod(_h, B)``, and the order is (_b, _h, id).  Because _h is
    uniform random, any deterministic tie-free order keyed on it
    induces a uniform permutation — bucket-major order is exactly as
    uniform as a single global sort on _h, but ranks only need a
    window over (rep, _b) groups of ~n/B rows each.

    Scale: no per-replicate single-task sort (the old form windowed
    over partitionBy(rep), putting each replicate's full n-row sort in
    one task).  Work per task is n/B rows; bucket offsets are a k x B
    metadata aggregate joined back via broadcast; the position->value
    join is a plain equi-join that AQE broadcasts when values is small.
    Requires dense ids 0..n-1.
    """
    spark = values.sparkSession
    vals = values.select("id", F.col(value_col).alias("_z"))
    reps = spark.range(permutations).toDF("rep")
    n_buckets = buckets or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    keyed = vals.crossJoin(reps).select(
        "rep", "id", F.xxhash64("id", "rep", F.lit(seed)).alias("_h")
    ).withColumn("_b", F.pmod(F.col("_h"), F.lit(n_buckets)))
    counts = keyed.groupBy("rep", "_b").count()
    off_win = (
        Window.partitionBy("rep").orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "rep", "_b",
        F.coalesce(F.sum("count").over(off_win), F.lit(0)).alias("_off"),
    )
    rank_win = Window.partitionBy("rep", "_b").orderBy("_h", "id")
    ranked = (
        keyed.withColumn("_rk", F.row_number().over(rank_win) - 1)
        .join(F.broadcast(offsets), ["rep", "_b"])
        .select("rep", "id", (F.col("_off") + F.col("_rk")).alias("_pos"))
    )
    src = vals.select(F.col("id").alias("_pos"), F.col("_z").alias("zp"))
    return ranked.join(src, "_pos").select("rep", "id", "zp")


def _edge_rep_values(edges: DataFrame, perm: DataFrame) -> DataFrame:
    """Edges x reps with permuted values mapped onto both endpoints."""
    pf = perm.select(
        F.col("rep"), F.col("id").alias("focal"), F.col("zp").alias("zf")
    )
    pn = perm.select(
        F.col("rep"), F.col("id").alias("neighbor"), F.col("zp").alias("zn")
    )
    return edges.join(pf, "focal").join(pn, ["rep", "neighbor"])


def _fold_pseudo_p(sims: np.ndarray, observed: float, permutations: int) -> float:
    """Tail-folded pseudo p (reference ``moran.py:209-215``)."""
    larger = int((sims >= observed).sum())
    if (permutations - larger) < larger:
        larger = permutations - larger
    return (larger + 1.0) / (permutations + 1.0)


def _sim_summary(sims: np.ndarray, observed: float, prefix: str) -> dict:
    k = len(sims)
    e = sims.sum() / k
    se = sims.std()
    out = {
        f"p_sim": _fold_pseudo_p(sims, observed, k),
        f"E{prefix}_sim": float(e),
        f"V{prefix}_sim": float(se * se),
        f"se{prefix}_sim": float(se),
    }
    z_sim = (observed - e) / se if se > 0 else float("nan")
    out[f"z_sim"] = float(z_sim)
    return out


# ---------------------------------------------------------------------------
# Moran's I  (reference class Moran, moran.py:59-331)
# ---------------------------------------------------------------------------

def _value_moments(points: DataFrame, value_col: str):
    """ONE pass over the value column: n, mu and the raw power sums
    the centered moments derive from (round-6 job fusion — the former
    shape paid a second sequential pass for sum(z^2)/sum(z^4))."""
    y = F.col(value_col)
    return points.agg(
        F.count("*").alias("n"), F.avg(value_col).alias("mu"),
        F.sum(y * y).alias("m2r"),
        F.sum(y * y * y).alias("m3r"),
        F.sum(y * y * y * y).alias("m4r"),
    ).collect()[0]


def _centered_moments(points: DataFrame, value_col: str, agg) -> tuple:
    """(z2ss, z4ss) = sum((y-mu)^2), sum((y-mu)^4) via binomial
    expansion of the raw sums, with the cancellation guard (and exact
    second-pass fallback) moran_local already uses for its den."""
    n, mu = int(agg.n), float(agg.mu)
    m2r, m3r, m4r = float(agg.m2r), float(agg.m3r), float(agg.m4r)
    z2ss = m2r - n * mu * mu
    z4ss = m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * n * mu ** 4
    ok = (
        z2ss > 0 and z2ss > 1e-10 * abs(m2r)
        and z4ss > 0 and z4ss > 1e-10 * abs(m4r)
    )
    if not ok:
        z = F.col(value_col) - F.lit(mu)
        z2 = z * z
        row = points.agg(
            F.sum(z2).alias("a"), F.sum(z2 * z2).alias("b")
        ).collect()[0]
        z2ss, z4ss = float(row.a), float(row.b)
    return z2ss, z4ss


def _edge_pair_agg(w: DataFrame, points: DataFrame, value_col: str,
                   *aggs) -> "object":
    """Edge-wise aggregate with the raw values joined onto both
    endpoints (yf/yn); AQE broadcasts the value side when its runtime
    size is under the join threshold."""
    y = F.col(value_col)
    yf = points.select(F.col("id").alias("focal"), y.alias("yf"))
    yn = points.select(F.col("id").alias("neighbor"), y.alias("yn"))
    return w.join(yf, "focal").join(yn, "neighbor").agg(*aggs).collect()[0]


def _wave(points: DataFrame, edges: DataFrame, w: DataFrame,
          value_col: str, style: str, values_job, *edge_aggs) -> tuple:
    """The distributed plan: the value moments (``values_job()``), the
    edge-pair aggregate and the memoized W summary are mutually
    independent jobs — they run concurrently (guide §2.6)."""
    with ThreadPoolExecutor(max_workers=3) as pool:
        jobs = (pool.submit(values_job),
                pool.submit(_edge_pair_agg, w, points, value_col,
                            *edge_aggs),
                pool.submit(summary_for, edges, style))
        return tuple(f.result() for f in jobs)


def _incore_arrays(points: DataFrame, edges: DataFrame, w: DataFrame,
                   value_col: str, style: str):
    """The ``stat_rows`` gate of the global statistics: TWO concurrent
    probes, the edges and the values, as numpy arrays — or None (take
    the distributed wave).

    Returns (y, yf, yn, wv, summary): the values; the endpoint values
    and transformed weight of every edge whose ends are both in
    ``points`` (the others drop out, as in the join); and s0 / s1 / s2
    over ALL edges, as :func:`weights.summary_for` has them.  R and B
    transform in numpy (R: the single division ``w / rowsum`` the
    windowed transform makes); D and V are probed as ``w``, the
    transform's output."""
    style = style.upper()
    src = edges if style in ("R", "B", "O") else w
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_e = pool.submit(gate.collect_if_fits, src.select(*EDGE_COLS),
                          "stat_rows")
        f_p = pool.submit(gate.collect_if_fits,
                          points.select("id", value_col), "stat_rows")
        e, p = f_e.result(), f_p.result()
    if e is None or p is None:
        return None
    focal = e["focal"].to_numpy(np.int64)
    nb = e["neighbor"].to_numpy(np.int64)
    wv = e["weight"].to_numpy(np.float64)
    if style == "B":
        wv = np.ones(len(wv))
    elif style == "R":
        _, row = np.unique(focal, return_inverse=True)
        wv = wv / np.bincount(row, weights=wv)[row]
    ids = p["id"].to_numpy(np.int64)
    order = np.argsort(ids)
    ids, y = ids[order], p[value_col].to_numpy(np.float64)[order]
    pf, pn = _rank(ids, focal), _rank(ids, nb)
    ok = (pf >= 0) & (pn >= 0)
    return y, y[pf[ok]], y[pn[ok]], wv[ok], summary_arrays(focal, nb, wv)


def _array_moments(y: np.ndarray) -> tuple:
    """(n, mu, z2ss, z4ss) of a value array, centered directly."""
    mu = float(y.mean())
    z2 = (y - mu) ** 2
    return len(y), mu, float(z2.sum()), float(z2 @ z2)


def moran(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    transformation: str = "r",
    permutations: int = 0,
    two_tailed: bool = True,
    seed: int = 12345,
) -> dict:
    """Job plan, by the ``stat_rows`` gate (``plans/gate.py``):

    - Edges and values within it: two concurrent probes collect them
      (two jobs) and numpy forms n, mu, the centered z2ss / z4ss, the
      numerator sum w (yf-mu)(yn-mu) and s0 / s1 / s2
      (:func:`_incore_arrays`).
    - Above it (the round-6 plan, :func:`_wave`): the value moments,
      the edge numerator and the W summary run as one concurrent wave
      of independent jobs.  The numerator uses raw values with the
      driver-side mu correction  sum w (yf-mu)(yn-mu) = sum w yf yn
      - mu sum w (yf+yn) + mu^2 sum w,  so nothing waits on the mean;
      a relative guard takes a centered second pass where
      |mu| >> spread cancels it.  The W summary is memoized per
      (edges, style) — see ``weights.summary_for``.

    Both regimes feed the one closed form below; permutation
    inference is distributed in both."""
    w = transform_weights(edges, transformation)
    got = _incore_arrays(points, edges, w, value_col, transformation)
    if got is not None:
        y, yf, yn, wv, s = got
        n, mu, z2ss, z4ss = _array_moments(y)
        inum = float(wv @ ((yf - mu) * (yn - mu)))
    else:
        wc = F.col("weight")
        agg, er, s = _wave(
            points, edges, w, value_col, transformation,
            lambda: _value_moments(points, value_col),
            F.sum(wc * F.col("yf") * F.col("yn")).alias("pyy"),
            F.sum(wc * (F.col("yf") + F.col("yn"))).alias("py"),
            F.sum(wc).alias("pw"),
        )
        n, mu = int(agg.n), float(agg.mu)
        z2ss, z4ss = _centered_moments(points, value_col, agg)
        # pw, not s0: edges to ids without a value drop out of the join
        inum = float(er.pyy) - mu * float(er.py) + mu * mu * float(er.pw)
        if not abs(inum) > 1e-10 * abs(float(er.pyy)):
            # |mu| >> spread cancels the raw identity: centered pass
            yc = [F.col(c) - F.lit(mu) for c in ("yf", "yn")]
            inum = float(_edge_pair_agg(
                w, points, value_col, F.sum(wc * yc[0] * yc[1])
            )[0])
    s0, s1, s2 = s["s0"], s["s1"], s["s2"]
    I = n / s0 * inum / z2ss  # noqa: E741

    EI = -1.0 / (n - 1)
    n2 = n * n
    s02 = s0 * s0
    VI_norm = (n2 * s1 - n * s2 + 3 * s02) / ((n - 1) * (n + 1) * s02) - EI * EI
    k = (z4ss / n) / ((z2ss / n) ** 2)
    A = n * ((n2 - 3 * n + 3) * s1 - n * s2 + 3 * s02)
    B = k * ((n2 - n) * s1 - 2 * n * s2 + 6 * s02)
    VI_rand = (A - B) / ((n - 1) * (n - 2) * (n - 3) * s02) - EI * EI
    z_norm = (I - EI) / math.sqrt(VI_norm)
    z_rand = (I - EI) / math.sqrt(VI_rand)
    p_norm = float(norm_sf(z_norm) if z_norm > 0 else norm_cdf(z_norm))
    p_rand = float(norm_sf(z_rand) if z_rand > 0 else norm_cdf(z_rand))
    if two_tailed:
        p_norm *= 2.0
        p_rand *= 2.0
    out = {
        "I": float(I), "EI": EI, "VI_norm": VI_norm, "VI_rand": VI_rand,
        "z_norm": float(z_norm), "z_rand": float(z_rand),
        "p_norm": p_norm, "p_rand": p_rand,
        "n": n, "s0": s0, "s1": s1, "s2": s2, "z2ss": z2ss,
    }
    if permutations:
        zvals = points.select(
            "id", (F.col(value_col) - F.lit(mu)).alias("z")
        )
        perm = permuted_values(zvals, "z", permutations, seed)
        sims_df = (
            _edge_rep_values(w, perm)
            .groupBy("rep")
            .agg(F.sum(F.col("weight") * F.col("zf") * F.col("zn")).alias("num"))
        )
        sims = np.array(
            [r.num for r in sims_df.collect()], dtype=np.float64
        ) * (n / s0 / z2ss)
        summ = _sim_summary(sims, I, "I")
        z_sim = summ["z_sim"]
        summ["p_z_sim"] = float(norm_sf(z_sim) if z_sim > 0 else norm_cdf(z_sim))
        out.update(summ)
    return out


# ---------------------------------------------------------------------------
# Bivariate Moran (moran.py:435-572; ddof=1 standardization at :539-540)
# ---------------------------------------------------------------------------

def moran_bv(
    points: DataFrame,
    edges: DataFrame,
    x_col: str,
    y_col: str,
    transformation: str = "r",
    permutations: int = 0,
    seed: int = 12345,
) -> dict:
    w = transform_weights(edges, transformation)
    agg = points.agg(
        F.count("*").alias("n"),
        F.avg(x_col).alias("mx"), F.stddev_samp(x_col).alias("sx"),
        F.avg(y_col).alias("my"), F.stddev_samp(y_col).alias("sy"),
    ).collect()[0]
    n = int(agg.n)
    zvals = points.select(
        "id",
        ((F.col(x_col) - F.lit(float(agg.mx))) / F.lit(float(agg.sx))).alias("zx"),
        ((F.col(y_col) - F.lit(float(agg.my))) / F.lit(float(agg.sy))).alias("zy"),
    )
    lag = spatial_lag(w, zvals, "zy")
    num = (
        zvals.join(lag, "id").agg(F.sum(F.col("zx") * F.col("lag"))).collect()[0][0]
    )
    I = float(num) / (n - 1)  # noqa: E741
    out = {"I": I, "n": n}
    if permutations:
        perm = permuted_values(zvals, "zy", permutations, seed)
        zx_f = zvals.select(F.col("id").alias("focal"), "zx")
        sims_df = (
            edges.join(
                perm.select("rep", F.col("id").alias("neighbor"), "zp"), "neighbor"
            )
            .join(zx_f, "focal")
            .groupBy("rep")
            .agg(F.sum(F.col("weight") * F.col("zx") * F.col("zp")).alias("num"))
        )
        sims = np.array([r.num for r in sims_df.collect()]) / (n - 1)
        out.update(_sim_summary(sims, I, "I"))
    return out


# ---------------------------------------------------------------------------
# Geary's C  (geary.py:15-188)
# ---------------------------------------------------------------------------

def geary(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    transformation: str = "r",
    permutations: int = 0,
    seed: int = 12345,
) -> dict:
    w = transform_weights(edges, transformation)
    got = _incore_arrays(points, edges, w, value_col, transformation)
    if got is not None:
        y, yf, yn, wv, s = got
        n, _, yss, y4ss = _array_moments(y)
        num = float(wv @ ((yf - yn) ** 2))
    else:
        d = F.col("yf") - F.col("yn")
        # the edge numerator takes raw y: the difference cancels the mean
        agg, er, s = _wave(
            points, edges, w, value_col, transformation,
            lambda: _value_moments(points, value_col),
            F.sum(F.col("weight") * d * d).alias("num"),
        )
        n, num = int(agg.n), float(er.num)
        yss, y4ss = _centered_moments(points, value_col, agg)
    s0, s1, s2 = s["s0"], s["s1"], s["s2"]
    den = yss * s0 * 2.0
    C = (n - 1) * num / den

    n2 = n * n
    s02 = s0 * s0
    k = (y4ss / n) / ((yss / n) ** 2)
    A = (n - 1) * s1 * (n2 - 3 * n + 3 - (n - 1) * k)
    B = 0.25 * ((n - 1) * s2 * (n2 + 3 * n - 6 - (n2 - n + 2) * k))
    Cterm = s02 * (n2 - 3 - (n - 1) ** 2 * k)
    VC_rand = (A - B + Cterm) / (n * (n - 2) * (n - 3) * s02)
    VC_norm = (1.0 / (2 * (n + 1) * s02)) * ((2 * s1 + s2) * (n - 1) - 4 * s02)
    de = C - 1.0
    z_norm = de / math.sqrt(VC_norm)
    z_rand = de / math.sqrt(VC_rand)
    p_norm = float(norm_sf(z_norm) if de > 0 else norm_cdf(z_norm))
    p_rand = float(norm_sf(z_rand) if de > 0 else norm_cdf(z_rand))
    out = {
        "C": float(C), "EC": 1.0, "VC_norm": VC_norm, "VC_rand": VC_rand,
        "z_norm": float(z_norm), "z_rand": float(z_rand),
        "p_norm": p_norm, "p_rand": p_rand, "n": n, "s0": s0,
    }
    if permutations:
        yd = points.select("id", F.col(value_col).alias("y"))
        perm = permuted_values(yd, "y", permutations, seed)
        dd = F.col("zf") - F.col("zn")
        sims_df = (
            _edge_rep_values(w, perm)
            .groupBy("rep")
            .agg(F.sum(F.col("weight") * dd * dd).alias("num"))
        )
        sims = np.array([r.num for r in sims_df.collect()]) * (n - 1) / den
        summ = _sim_summary(sims, C, "C")
        summ["p_z_sim"] = float(norm_sf(abs(summ["z_sim"])))
        out.update(summ)
    return out


# ---------------------------------------------------------------------------
# Getis-Ord global G  (getisord.py:23-188; binary weights forced)
# ---------------------------------------------------------------------------

def getis_g(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    permutations: int = 0,
    seed: int = 12345,
) -> dict:
    w = transform_weights(edges, "B")
    yv = points.select("id", F.col(value_col).alias("y"))
    got = _incore_arrays(points, edges, w, value_col, "B")
    if got is not None:
        y, yf, yn, wv, s = got
        y2 = y * y
        n = len(y)
        sy, sy2, sy3, sy4 = (float(y.sum()), float(y2.sum()),
                             float(y2 @ y), float(y2 @ y2))
        num = float(wv @ (yf * yn))
    else:
        yc = F.col("y")
        agg, er, s = _wave(
            points, edges, w, value_col, "B",
            lambda: yv.agg(
                F.count("*").alias("n"),
                F.sum("y").alias("sy"),
                F.sum(yc * yc).alias("sy2"),
                F.sum(yc * yc * yc).alias("sy3"),
                F.sum(yc * yc * yc * yc).alias("sy4"),
            ).collect()[0],
            F.sum(F.col("weight") * F.col("yf") * F.col("yn")).alias("num"),
        )
        n, num = int(agg.n), float(er.num)
        sy, sy2, sy3, sy4 = map(float, (agg.sy, agg.sy2, agg.sy3, agg.sy4))
    s0, s1, s2 = s["s0"], s["s1"], s["s2"]
    den_sum = sy * sy - sy2
    G = num / den_sum

    n2 = n * n
    s02 = s0 * s0
    EG = s0 / (n * (n - 1))
    b0 = (n2 - 3 * n + 3) * s1 - n * s2 + 3 * s02
    b1 = -((n2 - n) * s1 - 2 * n * s2 + 6 * s02)
    b2 = -(2 * n * s1 - (n + 3) * s2 + 6 * s02)
    b3 = 4 * (n - 1) * s1 - 2 * (n + 1) * s2 + 8 * s02
    b4 = s1 - s2 + s02
    EG2 = (
        b0 * sy2 * sy2 + b1 * sy4 + b2 * sy * sy * sy2
        + b3 * sy * sy3 + b4 * sy**4
    )
    EG2 /= den_sum * den_sum * n * (n - 1) * (n - 2) * (n - 3)
    VG = EG2 - EG * EG
    if not VG > 0:
        # the raw moments cancel at constant y or |mean| >> spread
        raise ValueError(f"getis_g: non-positive VG = {VG!r}; G's variance "
                         "is undefined for constant or near-constant y")
    z_norm = (G - EG) / math.sqrt(VG)
    p_norm = float(1.0 - norm_cdf(abs(z_norm)))
    out = {
        "G": G, "EG": EG, "VG": VG, "z_norm": float(z_norm), "p_norm": p_norm,
        "n": n, "s0": s0,
    }
    if permutations:
        perm = permuted_values(yv, "y", permutations, seed)
        sims_df = (
            _edge_rep_values(w, perm)
            .groupBy("rep")
            .agg(F.sum(F.col("weight") * F.col("zf") * F.col("zn")).alias("num"))
        )
        sims = np.array([r.num for r in sims_df.collect()]) / den_sum
        summ = _sim_summary(sims, G, "G")
        summ["p_z_sim"] = float(1.0 - norm_cdf(abs(summ["z_sim"])))
        out.update(summ)
    return out


# ---------------------------------------------------------------------------
# Gamma index  (gamma.py:22-270; ops 'c', 's', 'a')
# ---------------------------------------------------------------------------

def gamma(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    operation: str = "c",
    standardize: bool = False,
    permutations: int = 0,
    seed: int = 12345,
) -> dict:
    yv = points.select("id", F.col(value_col).alias("y"))
    if standardize:
        agg = yv.agg(F.avg("y").alias("m"), F.stddev_pop("y").alias("s")).collect()[0]
        yv = yv.select(
            "id", ((F.col("y") - F.lit(float(agg.m))) / F.lit(float(agg.s))).alias("y")
        )

    def op_expr(zf, zn):
        if operation == "c":
            return zf * zn
        if operation == "s":
            return (zf - zn) * (zf - zn)
        if operation == "a":
            return F.abs(zf - zn)
        raise NotImplementedError(
            f"gamma operation {operation!r}: only 'c','s','a' are supported "
            "(mirrors the Graph path, reference gamma.py:259-260)"
        )

    yf = yv.select(F.col("id").alias("focal"), F.col("y").alias("yf"))
    yn = yv.select(F.col("id").alias("neighbor"), F.col("y").alias("yn"))
    g = (
        edges.join(yf, "focal").join(yn, "neighbor")
        .agg(F.sum(F.col("weight") * op_expr(F.col("yf"), F.col("yn"))))
        .collect()[0][0]
    )
    out = {"g": float(g)}
    if permutations:
        perm = permuted_values(yv, "y", permutations, seed)
        sims_df = (
            _edge_rep_values(edges, perm)
            .groupBy("rep")
            .agg(F.sum(F.col("weight") * op_expr(F.col("zf"), F.col("zn"))).alias("num"))
        )
        sims = np.array([r.num for r in sims_df.collect()])
        larger = int((sims >= g).sum())
        psim = (larger + 1.0) / (permutations + 1.0)
        if psim > 0.5:
            psim = (permutations - larger + 1.0) / (permutations + 1.0)
        out.update(
            {
                "p_sim_g": psim,
                "mean_g": float(sims.mean()),
                "min_g": float(sims.min()),
                "max_g": float(sims.max()),
                "g_z": float((g - sims.mean()) / sims.std()),
            }
        )
    return out


# ---------------------------------------------------------------------------
# Join counts  (join_counts.py:21-261; binary y on binary W)
# ---------------------------------------------------------------------------

def _yates_chi2_2x2(table: np.ndarray) -> tuple[float, float, int, np.ndarray]:
    """2x2 chi-square with Yates continuity correction — matches
    ``scipy.stats.chi2_contingency`` defaults used at ``join_counts.py:245``."""
    obs = np.asarray(table, dtype=np.float64)
    rows = obs.sum(axis=1, keepdims=True)
    cols = obs.sum(axis=0, keepdims=True)
    total = obs.sum()
    expected = rows @ cols / total
    if (expected == 0).any():
        raise ValueError("expected count of 0")
    diff = np.abs(obs - expected) - 0.5
    diff = np.maximum(diff, 0.0)
    stat = float((diff * diff / expected).sum())
    p = float(chi2_sf(stat, 1))
    return stat, p, 1, expected


def join_counts(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_bin",
    permutations: int = 0,
    seed: int = 12345,
) -> dict:
    w = transform_weights(edges, "B")
    yv = points.select("id", F.col(value_col).cast("double").alias("y"))
    yf = yv.select(F.col("id").alias("focal"), F.col("y").alias("yf"))
    yn = yv.select(F.col("id").alias("neighbor"), F.col("y").alias("yn"))
    pairs = w.join(yf, "focal").join(yn, "neighbor")

    same = (F.col("yf") == F.col("yn")).cast("double")
    agg = pairs.agg(
        (F.sum(F.col("yf") * same) / 2.0).alias("bb"),
        (F.sum((1.0 - F.col("yf")) * same) / 2.0).alias("ww"),
        (F.sum(F.col("yf") * (1.0 - same)) / 2.0).alias("bw_half"),
        (F.sum((1.0 - F.col("yf")) * (1.0 - same)) / 2.0).alias("wb_half"),
        F.sum("weight").alias("s0"),
    ).collect()[0]
    bb, ww = float(agg.bb), float(agg.ww)
    bw = float(agg.bw_half) + float(agg.wb_half)
    table = np.array([[ww, float(agg.wb_half)], [float(agg.bw_half), bb]])
    stat, pval, dof, expected = _yates_chi2_2x2(table)
    out = {
        "bb": bb, "ww": ww, "bw": bw, "J": float(agg.s0) / 2.0,
        "chi2": stat, "chi2_p": pval, "chi2_dof": dof,
        "autocorr_pos": bb + ww, "autocorr_neg": bw,
        "crosstab": table, "expected": expected,
    }
    if permutations:
        # Extra replicates cover the reference's retry-on-degenerate-table
        # loop (join_counts.py:188-198): draws whose 2x2 expected table has
        # a zero margin are inadmissible and skipped.
        overdraw = int(permutations * 1.2) + 8
        perm = permuted_values(yv, "y", overdraw, seed)
        rep_pairs = _edge_rep_values(w, perm)
        same_r = (F.col("zf") == F.col("zn")).cast("double")
        sims_df = (
            rep_pairs.groupBy("rep")
            .agg(
                (F.sum(F.col("zf") * same_r) / 2.0).alias("bb"),
                (F.sum((1.0 - F.col("zf")) * same_r) / 2.0).alias("ww"),
                (F.sum(F.col("zf") * (1.0 - same_r)) / 2.0).alias("bwh"),
                (F.sum((1.0 - F.col("zf")) * (1.0 - same_r)) / 2.0).alias("wbh"),
            )
            .orderBy("rep")
        )
        sim_bb, sim_bw, sim_chi2, sim_pos = [], [], [], []
        for r in sims_df.collect():
            if len(sim_bb) >= permutations:
                break
            try:
                t = np.array([[r.ww, r.wbh], [r.bwh, r.bb]])
                c2, _, _, _ = _yates_chi2_2x2(t)
            except ValueError:
                continue
            sim_bb.append(r.bb)
            sim_bw.append(r.bwh + r.wbh)
            sim_pos.append(r.bb + r.ww)
            sim_chi2.append(c2)
        kk = len(sim_bb)

        def pseudop(sim, obs):
            return ((np.array(sim) >= obs).sum() + 1.0) / (kk + 1.0)

        out.update(
            {
                "p_sim_bb": float(pseudop(sim_bb, bb)),
                "p_sim_bw": float(pseudop(sim_bw, bw)),
                "p_sim_chi2": float(pseudop(sim_chi2, stat)),
                "p_sim_autocorr_pos": float(pseudop(sim_pos, bb + ww)),
                "p_sim_autocorr_neg": float(pseudop(sim_bw, bw)),
                "mean_bb": float(np.mean(sim_bb)),
                "mean_bw": float(np.mean(sim_bw)),
            }
        )
    return out


# ---------------------------------------------------------------------------
# Lee's spatial Pearson  (lee.py:10-97)
# ---------------------------------------------------------------------------

def lee_spatial_pearson(
    points: DataFrame,
    edges: DataFrame,
    x_col: str,
    y_col: str,
    permutations: int = 0,
    seed: int = 12345,
) -> dict:
    agg = points.agg(
        F.avg(x_col).alias("mx"), F.stddev_pop(x_col).alias("sx"),
        F.avg(y_col).alias("my"), F.stddev_pop(y_col).alias("sy"),
    ).collect()[0]
    zvals = points.select(
        "id",
        ((F.col(x_col) - F.lit(float(agg.mx))) / F.lit(float(agg.sx))).alias("zx"),
        ((F.col(y_col) - F.lit(float(agg.my))) / F.lit(float(agg.sy))).alias("zy"),
    )

    def _assoc(zdf: DataFrame, rep_key: list[str]) -> DataFrame:
        """L as 3 dot products of the lag columns: Z'(W'W)Z = (WZ)'(WZ)."""
        zn = zdf.select(
            *rep_key, F.col("id").alias("neighbor"), "zx", "zy"
        )
        lags = (
            edges.join(zn, "neighbor")
            .groupBy("focal", *rep_key)
            .agg(
                F.sum(F.col("weight") * F.col("zx")).alias("lx"),
                F.sum(F.col("weight") * F.col("zy")).alias("ly"),
                F.sum("weight").alias("l1"),
            )
        )
        return lags.groupBy(*rep_key).agg(
            F.sum(F.col("lx") * F.col("lx")).alias("lxx"),
            F.sum(F.col("lx") * F.col("ly")).alias("lxy"),
            F.sum(F.col("ly") * F.col("ly")).alias("lyy"),
            F.sum(F.col("l1") * F.col("l1")).alias("den"),
        )

    row = _assoc(zvals, []).collect()[0]
    L = np.array(
        [[row.lxx, row.lxy], [row.lxy, row.lyy]], dtype=np.float64
    ) / float(row.den)
    out = {"association": L, "L_xy": float(L[0, 1])}
    if permutations:
        # reference permutes rows of Z jointly (lee.py:81-84)
        permx = permuted_values(zvals, "zx", permutations, seed)
        permy = permuted_values(zvals, "zy", permutations, seed)
        perm = permx.join(permy.withColumnRenamed("zp", "zpy"), ["rep", "id"]).select(
            "rep", "id", F.col("zp").alias("zx"), F.col("zpy").alias("zy")
        )
        sims_rows = _assoc(perm, ["rep"]).collect()
        sims = np.array(
            [
                np.array([[r.lxx, r.lxy], [r.lxy, r.lyy]]) / r.den
                for r in sims_rows
            ]
        )
        above = (sims >= L).sum(axis=0)
        extreme = np.minimum(permutations - above, above)
        out["significance"] = (extreme + 1.0) / (permutations + 1.0)
        out["p_sim_xy"] = float(out["significance"][0, 1])
    return out


# ---------------------------------------------------------------------------
# Moran on Assunção-Reis EB-standardized rates (moran.py:923-1051 +
# smoothing.py:529-578)
# ---------------------------------------------------------------------------

def moran_rate(
    points: DataFrame,
    edges: DataFrame,
    e_col: str = "e",
    b_col: str = "b",
    transformation: str = "r",
    permutations: int = 0,
    seed: int = 12345,
) -> dict:
    from esda_spark.operators.rates import assuncao_rate

    rated = assuncao_rate(points, e_col, b_col, out_col="_ar")
    return moran(
        rated, edges, value_col="_ar",
        transformation=transformation, permutations=permutations, seed=seed,
    )


def moran_bv_matrix(
    points: DataFrame,
    edges: DataFrame,
    value_cols: list[str],
    permutations: int = 0,
    seed: int = 12345,
) -> dict[tuple[int, int], dict]:
    """All ordered pairs of variables -> Moran_BV results
    (reference ``moran.py:717-811``).

    Observed statistics follow SURVEY §2.1-G3's prescription: the k
    standardizations and the k spatial lags are materialized ONCE (one
    aggregate, one edge join lagging all k z-columns), and every
    ordered pair's numerator is one of k(k-1) sum expressions in a
    single final aggregate — instead of re-standardizing and re-lagging
    per pair (2x waste at k=2, growing with k).  With permutations the
    inference falls back to the per-pair path (each pair permutes its
    own y).
    """
    out: dict[tuple[int, int], dict] = {}
    k = len(value_cols)
    if permutations:
        for i in range(k):
            for j in range(i + 1, k):
                out[(i, j)] = moran_bv(
                    points, edges, value_cols[i], value_cols[j],
                    permutations=permutations, seed=seed,
                )
                out[(j, i)] = moran_bv(
                    points, edges, value_cols[j], value_cols[i],
                    permutations=permutations, seed=seed,
                )
        return out
    w = transform_weights(edges, "r")
    aggs = [F.count("*").alias("n")]
    for i, c in enumerate(value_cols):
        aggs += [F.avg(c).alias(f"m{i}"), F.stddev_samp(c).alias(f"s{i}")]
    row = points.agg(*aggs).collect()[0]
    n = int(row["n"])
    z = points.select(
        "id",
        *[
            ((F.col(c) - F.lit(float(row[f"m{i}"])))
             / F.lit(float(row[f"s{i}"]))).alias(f"z{i}")
            for i, c in enumerate(value_cols)
        ],
    )
    nbr = z.select(
        F.col("id").alias("neighbor"),
        *[F.col(f"z{i}").alias(f"zn{i}") for i in range(k)],
    )
    lags = (
        w.join(nbr, "neighbor")
        .groupBy("focal")
        .agg(*[
            F.sum(F.col("weight") * F.col(f"zn{i}")).alias(f"l{i}")
            for i in range(k)
        ])
        .withColumnRenamed("focal", "id")
    )
    joined = z.join(lags, "id")
    sums = joined.agg(*[
        F.sum(F.col(f"z{i}") * F.coalesce(F.col(f"l{j}"), F.lit(0.0)))
        .alias(f"p_{i}_{j}")
        for i in range(k) for j in range(k) if i != j
    ]).collect()[0]
    for i in range(k):
        for j in range(k):
            if i != j:
                out[(i, j)] = {
                    "I": float(sums[f"p_{i}_{j}"]) / (n - 1), "n": n,
                }
    return out
