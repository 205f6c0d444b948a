"""Local (LISA-family) statistics (SURVEY.md §2.2).

Each statistic: observed values via spatial lag / edge-wise join
(pure DataFrame ops, whole-stage codegen), analytic moments via
grouped aggregates over the edge table, conditional-permutation
inference via :mod:`esda_spark.operators.crand`.

Reference formula sources are cited per function.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from esda_spark.functions.mathx import chi2_sf, norm_sf
from esda_spark.operators.crand import conditional_randomization
from esda_spark.operators.lag import spatial_lag
from esda_spark.operators.weights import add_self_edges, transform_weights
from esda_spark.plans import gate


def _fused_site_frame(edges: DataFrame, values: DataFrame,
                      value_col: str, transformation: str) -> DataFrame:
    """ONE exchange producing everything a crand-backed local
    statistic needs per site: the value column, the spatial lag, the
    wi/wi2 row moments AND the conditional-randomization neighborhood
    (neighbor weights sorted by neighbor id + the self-loop weight).

    Round-6 shape (guide §2.4): neighbor values attach to the RAW edge
    table by a broadcast join (map-side), value rows ride the same
    keyed exchange as marker rows, and one groupBy(id) — reusing the
    pinned repartition's partitioning — aggregates it all.  For
    R/B/O transforms the weight transform happens INSIDE the
    aggregate (R: aggregate raw sums, divide by the row sum after —
    each wlist element is the identical single division w/rowsum the
    windowed transform produced, so kernel inputs stay bit-identical);
    the former shape paid a window (exchange + sort) for the
    transform plus three separate focal aggregates and a join.
    D/V transforms pre-transform and aggregate as 'O'."""
    style = transformation.upper()
    if style not in ("R", "B", "O"):
        edges = transform_weights(edges, style)
        style = "O"
    spark = values.sparkSession
    parallelism = max(spark.sparkContext.defaultParallelism, 8)
    wcol = F.lit(1.0) if style == "B" else F.col("weight").cast("double")
    vn = values.select(
        F.col("id").alias("neighbor"), F.col(value_col).alias("_vn")
    )
    dnull = F.lit(None).cast("double")
    edge_rows = edges.join(F.broadcast(vn), "neighbor").select(
        F.col("focal").alias("id"), F.col("neighbor"),
        wcol.alias("w"), F.col("_vn"), dnull.alias("_z"),
    )
    val_rows = values.select(
        "id", F.lit(None).cast("long").alias("neighbor"),
        dnull.alias("w"), dnull.alias("_vn"),
        F.col(value_col).alias("_z"),
    )
    g = (
        edge_rows.unionByName(val_rows)
        .repartition(parallelism, "id")
        .groupBy("id")
        .agg(
            F.max("_z").alias(value_col),
            F.coalesce(F.sum(F.col("w") * F.col("_vn")), F.lit(0.0))
            .alias("_lag"),
            F.coalesce(F.sum("w"), F.lit(0.0)).alias("_wi"),
            F.coalesce(F.sum(F.col("w") * F.col("w")), F.lit(0.0))
            .alias("_wi2"),
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN neighbor"
                " IS NOT NULL AND neighbor != id THEN struct(neighbor,"
                " w) END)), s -> s.w)"
            ).alias("_wl"),
            F.coalesce(
                F.max(F.when(F.col("neighbor") == F.col("id"),
                             F.col("w"))),
                F.lit(0.0),
            ).alias("_sw"),
        )
        .where(F.col(value_col).isNotNull())
    )
    if style == "R":
        rs = F.col("_wi")
        safe = F.when(rs != 0.0, rs).otherwise(F.lit(1.0))
        g = g.select(
            "id", value_col,
            (F.col("_lag") / safe).alias("lag"),
            (F.col("_wi") / safe).alias("wi"),
            (F.col("_wi2") / (safe * safe)).alias("wi2"),
            F.expr("transform(_wl, x -> x / (CASE WHEN _wi <> 0.0 THEN"
                   " _wi ELSE 1.0 END))").alias("wlist"),
            (F.col("_sw") / safe).alias("self_weight"),
        )
    else:
        g = g.select(
            "id", value_col,
            F.col("_lag").alias("lag"), F.col("_wi").alias("wi"),
            F.col("_wi2").alias("wi2"), F.col("_wl").alias("wlist"),
            F.col("_sw").alias("self_weight"),
        )
    return g


def _crand_on_base(
    base: DataFrame,
    values: DataFrame,
    w: DataFrame,
    obs_col: str,
    stat_func: str,
    permutations: int,
    seed: int,
    scaling: float,
    alternative: str,
    keep: bool,
    moments: bool,
    n: int,
    out_cols: list[str],
    max_card: int | None = None,
) -> DataFrame:
    """Run conditional randomization on a fused site frame.

    Broadcast regime: the LAZY base (with its wlist) streams straight
    into the kernel — exchange, aggregate and permutation kernel run
    as ONE job (the round-5 scaling shape; an eager checkpoint barrier
    here measured 11 s at 1M sites and broke 8->32 scaling) — and
    every output column rides along, no output join.  The fused
    frame's pinned REPARTITION_BY_NUM keeps AQE from coalescing the
    kernel's parallelism away.  ``max_card`` is the caller-supplied
    cardinality bound (one aggregate over the raw edges).  Tiled
    regime (beyond the broadcast gate): classic path — crand assembles
    its own one-exchange tile base; the p columns join back by id."""
    if n < gate.LIMITS["crand_tiled_sites"]:
        bk = base.select(
            *out_cols, F.col(obs_col).alias("observed"),
            "wlist", "self_weight",
        )
        res = conditional_randomization(
            values, w, None, stat_func, permutations=permutations,
            seed=seed, scaling=scaling, alternative=alternative,
            keep=keep, moments=moments, n_sites=n, mode="broadcast",
            base=bk, max_card=max_card,
        )
        return res.drop("observed", "self_weight")
    p = conditional_randomization(
        values, w, base.select("id", F.col(obs_col).alias("observed")),
        stat_func, permutations=permutations, seed=seed, scaling=scaling,
        alternative=alternative, keep=keep, moments=moments, n_sites=n,
    )
    return base.select(*out_cols).join(p, "id", "left")


def _max_card_future(edges: DataFrame):
    """Start the neighbor-cardinality bound aggregate on a worker
    thread so it overlaps the caller's value aggregate (guide §2.6).
    Cardinality is transform-independent, so the RAW edges suffice."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)

    def _mc() -> int:
        return int(
            edges.where(F.col("focal") != F.col("neighbor"))
            .groupBy("focal").count()
            .agg(F.max("count")).collect()[0][0] or 1
        )

    fut = pool.submit(_mc)
    pool.shutdown(wait=False)
    return fut


def _norm_sf_col(df: DataFrame, z_col: str, out: str) -> DataFrame:
    """p = norm.sf(|z|) as an Arrow-batched column."""

    @F.pandas_udf(T.DoubleType())
    def _sf(s: pd.Series) -> pd.Series:
        return pd.Series(norm_sf(s.abs().to_numpy()))

    return df.withColumn(out, _sf(F.col(z_col)))


# ---------------------------------------------------------------------------
# Local Moran (moran.py:1175-1473)
# ---------------------------------------------------------------------------

def moran_local(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    transformation: str = "r",
    permutations: int = 999,
    seed: int = 12345,
    geoda_quads: bool = False,
    alternative: str = "directed",
    keep_simulations: bool = False,
    moments: bool = True,
) -> DataFrame:
    """Columns: id, Is, q, lag, EI, VI, EIc, VIc, p_sim and (with
    ``moments``) E_sim/V_sim/z_sim/p_z_sim (``moran.py:1386-1399``).

    z standardized by the population std (``moran.py:1352-1357``,
    ddof=0); quadrants per ``__quads`` (``moran.py:1412-1422``),
    moments per Sokal 1998 A3/A4/A7/A8 (``moran.py:1424-1468``).
    """
    y = F.col(value_col)
    mc_fut = _max_card_future(edges) if permutations else None
    agg = points.agg(
        F.count("*").alias("n"), F.avg(value_col).alias("mu"),
        F.stddev_pop(value_col).alias("sd"),
        F.sum(y * y).alias("m2r"), F.sum(y * y * y).alias("m3r"),
        F.sum(y * y * y * y).alias("m4r"),
    ).collect()[0]
    n, mu, sd = int(agg.n), float(agg.mu), float(agg.sd)
    zvals = points.select(
        "id", ((F.col(value_col) - F.lit(mu)) / F.lit(sd)).alias("z")
    )
    # single-pass moments: z is population-standardized, so
    # den = sum(z^2) = n exactly; sum(z^4) from raw moments
    den = float(n)
    m2r, m3r, m4r = float(agg.m2r), float(agg.m3r), float(agg.m4r)
    # central 4th moment via binomial expansion of sum((y-mu)^4);
    # second pass only if the expansion cancels catastrophically
    c4 = m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * n * mu**4
    if not (c4 > 0 and c4 > 1e-10 * abs(m4r)):
        z2c = F.col("z") * F.col("z")
        c4 = float(zvals.agg(F.sum(z2c * z2c)).collect()[0][0]) * sd**4
    z4ss = c4 / sd**4
    w = transform_weights(edges, transformation)
    base = _fused_site_frame(edges, zvals, "z", transformation)
    q1, q2, q3, q4 = (1, 3, 2, 4) if geoda_quads else (1, 2, 3, 4)
    base = base.withColumn(
        "Is", F.lit(n - 1) * F.col("z") * F.col("lag") / F.lit(den)
    ).withColumn(
        "q",
        F.when((F.col("z") > 0) & (F.col("lag") > 0), q1)
        .when((F.col("z") <= 0) & (F.col("lag") > 0), q2)
        .when((F.col("z") <= 0) & (F.col("lag") <= 0), q3)
        .otherwise(q4),
    )
    # analytic moments (moran.py:1424-1468); m2 = den/n
    m2 = den / n
    z2 = F.col("z") * F.col("z")
    base = (
        base.withColumn("EIc", -(z2 * F.col("wi")) / F.lit((n - 1) * m2))
        .withColumn(
            "VIc",
            (z2 / F.lit(m2 * m2)) * F.lit(n / (n - 2.0))
            * (F.col("wi2") - F.col("wi") * F.col("wi") / F.lit(n - 1.0))
            * F.lit(m2) * (F.lit(1.0) - z2 / F.lit((n - 1.0) * m2)),
        )
        .withColumn("EI", -F.col("wi") / F.lit(n - 1.0))
    )
    # VI (total randomization): wi2*(n-b2)/(n-1) + (wi^2-wi2)*(2*b2-n)/((n-1)(n-2)) - (wi/(n-1))^2
    b2 = z4ss / n / (m2 * m2)
    base = base.withColumn(
        "VI",
        F.col("wi2") * F.lit((n - b2) / (n - 1.0))
        + (F.col("wi") * F.col("wi") - F.col("wi2")) * F.lit((2 * b2 - n) / ((n - 1.0) * (n - 2.0)))
        - (F.col("wi") / F.lit(n - 1.0)) * (F.col("wi") / F.lit(n - 1.0)),
    )
    if permutations:
        return _crand_on_base(
            base, zvals, w, "Is", "moran_local",
            permutations=permutations, seed=seed, scaling=(n - 1) / den,
            alternative=alternative, keep=keep_simulations,
            moments=moments, n=n,
            out_cols=["id", "z", "lag", "Is", "q", "EIc", "VIc",
                      "EI", "VI"],
            max_card=mc_fut.result(),
        )
    return base.drop("wi", "wi2", "wlist", "self_weight")


def moran_local_bv(
    points: DataFrame,
    edges: DataFrame,
    x_col: str,
    y_col: str,
    transformation: str = "r",
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
) -> DataFrame:
    """Bivariate local Moran (moran.py:1740-2029): permutes zy only;
    standardization uses sample std (ddof=1, moran.py ddof parity)."""
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
    denx = float(zvals.agg(F.sum(F.col("zx") * F.col("zx"))).collect()[0][0])
    w = transform_weights(edges, transformation)
    lag = spatial_lag(w, zvals, "zy")
    base = (
        zvals.join(lag, "id", "left")
        .withColumn("lag", F.coalesce("lag", F.lit(0.0)))
        .withColumn("Is", F.lit(n - 1) * F.col("zx") * F.col("lag") / F.lit(denx))
    )
    if permutations:
        p = conditional_randomization(
            zvals, w, base.select("id", F.col("Is").alias("observed")),
            "moran_local_bv", permutations=permutations, seed=seed,
            scaling=(n - 1) / denx, alternative=alternative, n_sites=n,
        )
        base = base.join(p, "id", "left")
    return base


def moran_local_rate(
    points: DataFrame,
    edges: DataFrame,
    e_col: str = "e",
    b_col: str = "b",
    **kwargs,
) -> DataFrame:
    """Local Moran on Assunção-Reis rates (moran.py:2205-2481)."""
    from esda_spark.operators.rates import assuncao_rate

    rated = assuncao_rate(points, e_col, b_col, out_col="_ar")
    return moran_local(rated, edges, value_col="_ar", **kwargs)


# ---------------------------------------------------------------------------
# Local Geary (geary_local.py:11-225)
# ---------------------------------------------------------------------------

def geary_local(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
    labels: bool = False,
    sig: float = 0.05,
) -> DataFrame:
    """Columns: id, localG, p_sim [, labs]."""
    agg = points.agg(
        F.count("*").alias("n"),
        F.avg(value_col).alias("mu"), F.stddev_pop(value_col).alias("sd")
    ).collect()[0]
    n, mu, sd = int(agg.n), float(agg.mu), float(agg.sd)
    zvals = points.select(
        "id", ((F.col(value_col) - F.lit(mu)) / F.lit(sd)).alias("z")
    )
    zf = zvals.select(F.col("id").alias("focal"), F.col("z").alias("zf"))
    zn = zvals.select(F.col("id").alias("neighbor"), F.col("z").alias("zn"))
    d = F.col("zf") - F.col("zn")
    obs = (
        edges.join(F.broadcast(zf), "focal").join(F.broadcast(zn), "neighbor")
        .groupBy("focal")
        .agg(F.sum(F.col("weight") * d * d).alias("localG"))
        .withColumnRenamed("focal", "id")
    )
    base = points.select("id", F.col(value_col).alias("_y")).join(
        obs, "id", "left"
    ).withColumn("localG", F.coalesce("localG", F.lit(0.0)))
    if permutations:
        p = conditional_randomization(
            zvals, edges, base.select("id", F.col("localG").alias("observed")),
            "geary_local", permutations=permutations, seed=seed,
            alternative=alternative, n_sites=n,
        )
        base = base.join(p, "id", "left")
    if labels and permutations:
        stats_row = base.agg(
            F.avg("localG").alias("eij"), F.avg("_y").alias("xm")
        ).collect()[0]
        eij, xm = float(stats_row.eij), float(stats_row.xm)
        base = base.withColumn(
            "labs",
            F.when(
                (F.col("localG") < eij) & (F.col("_y") > xm) & (F.col("p_sim") <= sig), 1
            )
            .when(
                (F.col("localG") < eij) & (F.col("_y") < xm) & (F.col("p_sim") <= sig), 2
            )
            .when((F.col("localG") > eij) & (F.col("p_sim") <= sig), 3)
            .when(F.col("p_sim") > sig, 4),
        )
    return base.drop("_y")


# ---------------------------------------------------------------------------
# Getis-Ord local Gi / Gi* (getisord.py:191-562)
# ---------------------------------------------------------------------------

def g_local(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    star: bool = False,
    transform: str = "R",
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
    moments: bool = True,
) -> DataFrame:
    """Columns: id, Gs, EGs, VGs, Zs, p_norm, p_sim and (with
    ``moments``) E_sim/V_sim/z_sim/p_z_sim.

    Gi: G_i = (Wy)_i / (sum y - y_i); Gi*: self-weight included and
    denominator sum y (``getisord.py:445-481``).  The star variant adds
    unit self-edges before the transform (``_infer_star_and_structure_w``
    diagonal fill, ``getisord.py:489-562``).
    """
    if star:
        edges = add_self_edges(edges, points, 1.0)
    mc_fut = _max_card_future(edges) if permutations else None
    w = transform_weights(edges, transform)
    yv = points.select("id", F.col(value_col).alias("y"))
    agg = yv.agg(
        F.count("*").alias("n"), F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    ).collect()[0]
    n, y_sum, y2_sum = int(agg.n), float(agg.sy), float(agg.sy2)
    remove_self = 0 if star else 1
    N = n - remove_self
    base = _fused_site_frame(edges, yv, "y", transform)
    base = base.withColumn(
        "Gs", F.col("lag") / (F.lit(y_sum) - F.col("y") * F.lit(remove_self))
    )
    emp_mean = (F.lit(y_sum) - F.col("y") * F.lit(remove_self)) / F.lit(N)
    mean_sq = (F.lit(y2_sum) - F.col("y") * F.col("y") * F.lit(remove_self)) / F.lit(N)
    emp_var = mean_sq - emp_mean * emp_mean
    base = (
        base.withColumn("EGs", F.col("wi") / F.lit(N))
        .withColumn(
            "VGs",
            F.col("wi") * (F.lit(N) - F.col("wi")) / F.lit(N - 1.0)
            / F.lit(float(N) ** 2) * (emp_var / (emp_mean * emp_mean)),
        )
        .withColumn("Zs", (F.col("Gs") - F.col("EGs")) / F.sqrt("VGs"))
    )
    if permutations:
        res = _crand_on_base(
            base, yv.select("id", F.col("y").alias("z")), w, "Gs",
            "g_local_star" if star else "g_local",
            permutations=permutations, seed=seed, scaling=y_sum,
            alternative=alternative, keep=False, moments=moments, n=n,
            out_cols=["id", "y", "lag", "Gs", "EGs", "VGs", "Zs"],
            max_card=mc_fut.result(),
        )
        # p_norm from the passed-through Zs AFTER the kernel — the
        # former pre-kernel pandas_udf inserted a second Python eval
        # pass over the whole base inside the kernel job (same values:
        # identical norm_sf on identical Zs)
        return _norm_sf_col(res, "Zs", "p_norm")
    base = _norm_sf_col(base, "Zs", "p_norm")
    return base.drop("wi", "wi2", "wlist", "self_weight")


# ---------------------------------------------------------------------------
# Local join counts: univariate / bivariate / multivariate
# ---------------------------------------------------------------------------

def join_counts_local(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_bin",
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
) -> DataFrame:
    """LJC_i = sum_j w_ij [y_i=1 & y_j=1], binary W, diag zeroed
    (join_counts_local.py:13-219); p_sim NaN where LJC=0."""
    w = transform_weights(
        edges.where(F.col("focal") != F.col("neighbor")), "B"
    )
    yv = points.select("id", F.col(value_col).cast("double").alias("z"))
    yf = yv.select(F.col("id").alias("focal"), F.col("z").alias("yf"))
    yn = yv.select(F.col("id").alias("neighbor"), F.col("z").alias("yn"))
    obs = (
        w.join(F.broadcast(yf), "focal").join(F.broadcast(yn), "neighbor")
        .groupBy("focal")
        .agg(
            F.sum(
                ((F.col("yf") == 1) & (F.col("yn") == 1)).cast("double")
                * F.col("weight")
            ).alias("LJC")
        )
        .withColumnRenamed("focal", "id")
    )
    base = yv.select("id").join(obs, "id", "left").withColumn(
        "LJC", F.coalesce("LJC", F.lit(0.0))
    )
    if permutations:
        p = conditional_randomization(
            yv, w, base.select("id", F.col("LJC").alias("observed")),
            "ljc_uni", permutations=permutations, seed=seed,
            alternative=alternative,
        )
        base = base.join(p, "id", "left").withColumn(
            "p_sim", F.when(F.col("LJC") == 0, F.lit(None)).otherwise(F.col("p_sim"))
        )
    return base


def join_counts_local_bv(
    points: DataFrame,
    edges: DataFrame,
    x_col: str,
    z_col: str,
    case: str = "CLC",
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
) -> DataFrame:
    """Bivariate LJC (join_counts_local_bv.py:13-306).

    case='BJC': x_i=1,z_i=0,x_j=0,z_j=1; case='CLC': all four = 1.
    """
    w = transform_weights(edges.where(F.col("focal") != F.col("neighbor")), "B")
    vals = points.select(
        "id", F.col(x_col).cast("double").alias("zx"),
        F.col(z_col).cast("double").alias("zy"),
    )
    vf = vals.select(F.col("id").alias("focal"), F.col("zx").alias("xf"),
                     F.col("zy").alias("zf"))
    vn = vals.select(F.col("id").alias("neighbor"), F.col("zx").alias("xn"),
                     F.col("zy").alias("zn"))
    if case == "BJC":
        cond = (
            (F.col("xf") == 1) & (F.col("zf") == 0)
            & (F.col("xn") == 0) & (F.col("zn") == 1)
        )
        kernel = "ljc_bv_case1"
    elif case == "CLC":
        cond = (
            (F.col("xf") == 1) & (F.col("zf") == 1)
            & (F.col("xn") == 1) & (F.col("zn") == 1)
        )
        kernel = "ljc_bv_case2"
    else:
        raise NotImplementedError(f"LJC case {case!r}")
    obs = (
        w.join(F.broadcast(vf), "focal").join(F.broadcast(vn), "neighbor")
        .groupBy("focal")
        .agg(F.sum(cond.cast("double") * F.col("weight")).alias("LJC"))
        .withColumnRenamed("focal", "id")
    )
    base = vals.select("id").join(obs, "id", "left").withColumn(
        "LJC", F.coalesce("LJC", F.lit(0.0))
    )
    if permutations:
        p = conditional_randomization(
            vals, w, base.select("id", F.col("LJC").alias("observed")),
            kernel, permutations=permutations, seed=seed,
            alternative=alternative,
        )
        base = base.join(p, "id", "left").withColumn(
            "p_sim", F.when(F.col("LJC") == 0, F.lit(None)).otherwise(F.col("p_sim"))
        )
    return base


def join_counts_local_mv(
    points: DataFrame,
    edges: DataFrame,
    value_cols: list[str],
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
) -> DataFrame:
    """Multivariate LJC (join_counts_local_mv.py:13-221): the product
    column reduces it to the univariate path."""
    prod = F.lit(1.0)
    for c in value_cols:
        prod = prod * F.col(c).cast("double")
    pts = points.withColumn("_ext", prod)
    return join_counts_local(
        pts, edges, "_ext", permutations=permutations, seed=seed,
        alternative=alternative,
    ).withColumnRenamed("LJC", "MCLC")


# ---------------------------------------------------------------------------
# Local Lee (lee.py:100-249)
# ---------------------------------------------------------------------------

def lee_local(
    points: DataFrame,
    edges: DataFrame,
    x_col: str,
    y_col: str,
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
) -> DataFrame:
    """L_i = (W~zx)_i (W~zy)_i on row-standardized W (lee.py:236-238);
    inference follows the fit loop at lee.py:197-231 (joint draws of
    the centered pair; row-standardized weights)."""
    agg = points.agg(
        F.count("*").alias("n"),
        F.avg(x_col).alias("mx"), F.stddev_pop(x_col).alias("sx"),
        F.avg(y_col).alias("my"), F.stddev_pop(y_col).alias("sy"),
    ).collect()[0]
    w = transform_weights(edges, "R")
    zvals = points.select(
        "id",
        ((F.col(x_col) - F.lit(float(agg.mx))) / F.lit(float(agg.sx))).alias("zx"),
        ((F.col(y_col) - F.lit(float(agg.my))) / F.lit(float(agg.sy))).alias("zy"),
    )
    lx = spatial_lag(w, zvals, "zx", "lx")
    ly = spatial_lag(w, zvals, "zy", "ly")
    base = (
        zvals.select("id")
        .join(lx, "id", "left").join(ly, "id", "left")
        .withColumn("L", F.coalesce("lx", F.lit(0.0)) * F.coalesce("ly", F.lit(0.0)))
        .drop("lx", "ly")
    )
    if permutations:
        p = conditional_randomization(
            zvals, w, base.select("id", F.col("L").alias("observed")),
            "lee_local", permutations=permutations, seed=seed, scaling=1.0,
            alternative=alternative, n_sites=int(agg.n),
        )
        base = base.join(p, "id", "left")
    return base


# ---------------------------------------------------------------------------
# LOSH (losh.py:17-158)
# ---------------------------------------------------------------------------

def losh(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    a: float = 2.0,
    inference: str | None = "chi-square",
) -> DataFrame:
    """Columns: id, Hi, ylag, yresid, VarHi [, pval].

    H_i = W|y - ylag|^a / (mean(resid) * rowsum); chi-square inference
    Zi = 2 Hi / VarHi with dof 2/VarHi (losh.py:102-152).
    """
    yv = points.select("id", F.col(value_col).alias("y"))
    n = yv.count()
    rowsum = (
        edges.groupBy("focal").agg(
            F.sum("weight").alias("rowsum"),
            F.sum(F.col("weight") * F.col("weight")).alias("sq_rowsum"),
        ).withColumnRenamed("focal", "id")
    )
    lag_y = spatial_lag(edges, yv, "y", "wy")
    base = (
        yv.join(lag_y, "id", "left").join(rowsum, "id", "left")
        .withColumn("ylag", F.col("wy") / F.col("rowsum"))
        .withColumn("yresid", F.pow(F.abs(F.col("y") - F.col("ylag")), F.lit(float(a))))
    )
    resid_stats = base.agg(
        F.avg("yresid").alias("rm"),
        F.sum(F.col("yresid") * F.col("yresid")).alias("r2s"),
    ).collect()[0]
    rmean, r2sum = float(resid_stats.rm), float(resid_stats.r2s)
    lag_res = spatial_lag(edges, base.select("id", F.col("yresid").alias("v")), "v", "wres")
    base = (
        base.join(lag_res, "id", "left")
        .withColumn("denom", F.lit(rmean) * F.col("rowsum"))
        .withColumn("Hi", F.col("wres") / F.col("denom"))
        .withColumn(
            "VarHi",
            F.lit(1.0 / (n - 1))
            * F.pow(F.col("denom"), F.lit(-2.0))
            * F.lit(r2sum / n - rmean * rmean)
            * (F.lit(float(n)) * F.col("sq_rowsum") - F.col("rowsum") * F.col("rowsum")),
        )
    )
    if inference == "chi-square":
        if a != 2:
            raise ValueError("chi-square inference assumes a=2 (losh.py:107-114)")

        @F.pandas_udf(T.DoubleType())
        def _chi2_p(hi: pd.Series, varhi: pd.Series) -> pd.Series:
            v = varhi.to_numpy()
            return pd.Series(chi2_sf(2.0 * hi.to_numpy() / v, 2.0 / v))

        base = base.withColumn("pval", _chi2_p(F.col("Hi"), F.col("VarHi")))
    elif inference is not None:
        raise NotImplementedError(
            f"LOSH inference {inference!r} (reference losh.py:118-122 also "
            "raises for non-chi-square)"
        )
    return base.drop("wy", "wres", "denom", "rowsum", "sq_rowsum")


# ---------------------------------------------------------------------------
# Multivariate local Geary (geary_local_mv.py:9-213)
# ---------------------------------------------------------------------------

def geary_local_mv(
    points: DataFrame,
    edges: DataFrame,
    value_cols: list[str],
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
) -> DataFrame:
    """c_i = (1/k) sum_v sum_j w_ij (z_vi - z_vj)^2, z-scored per
    variable (ddof=0); joint conditional permutation of the row tuple."""
    k = len(value_cols)
    aggs = points.agg(
        F.count("*").alias("n"),
        *[F.avg(c).alias(f"m_{c}") for c in value_cols],
        *[F.stddev_pop(c).alias(f"s_{c}") for c in value_cols],
    ).collect()[0]
    zcols = [
        ((F.col(c) - F.lit(float(aggs[f"m_{c}"])))
         / F.lit(float(aggs[f"s_{c}"]))).alias(f"z{i}")
        for i, c in enumerate(value_cols)
    ]
    zvals = points.select("id", *zcols)
    zf = zvals.select(
        F.col("id").alias("focal"),
        *[F.col(f"z{i}").alias(f"zf{i}") for i in range(k)],
    )
    zn = zvals.select(
        F.col("id").alias("neighbor"),
        *[F.col(f"z{i}").alias(f"zn{i}") for i in range(k)],
    )
    term = None
    for i in range(k):
        d = F.col(f"zf{i}") - F.col(f"zn{i}")
        term = d * d if term is None else term + d * d
    obs = (
        edges.join(F.broadcast(zf), "focal").join(F.broadcast(zn), "neighbor")
        .groupBy("focal")
        .agg((F.sum(F.col("weight") * term) / F.lit(float(k))).alias("localG"))
        .withColumnRenamed("focal", "id")
    )
    base = zvals.select("id").join(obs, "id", "left").withColumn(
        "localG", F.coalesce("localG", F.lit(0.0))
    )
    if permutations:
        p = conditional_randomization(
            zvals, edges, base.select("id", F.col("localG").alias("observed")),
            "geary_local_mv", permutations=permutations, seed=seed,
            scaling=1.0, alternative=alternative, n_sites=int(aggs.n),
        )
        base = base.join(p, "id", "left")
    return base


# ---------------------------------------------------------------------------
# Conditional multivariate local Moran (moran_local_mv.py:300-476):
# LISA on the OLS residuals of y ~ X
# ---------------------------------------------------------------------------

def moran_local_conditional(
    points: DataFrame,
    edges: DataFrame,
    y_col: str,
    x_cols: list[str],
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
    unit_scale: bool = True,
) -> DataFrame:
    """Columns: id, yf (filtered y), lag, assoc, labels, p_sim.

    OLS fit = closed-form normal equations from a collected (p+1)x(p+1)
    Gram matrix (tiny), residual is a pure column expression; the LISA
    on residuals reuses the crand engine.
    """
    import numpy as np

    p = len(x_cols)
    aggs = points.agg(
        F.avg(y_col).alias("my"), F.stddev_pop(y_col).alias("sy"),
        *[F.avg(c).alias(f"m{i}") for i, c in enumerate(x_cols)],
        *[F.stddev_pop(c).alias(f"s{i}") for i, c in enumerate(x_cols)],
    ).collect()[0]
    ycol = F.col(y_col) - F.lit(float(aggs.my))
    xcols = [F.col(c) - F.lit(float(aggs[f"m{i}"])) for i, c in enumerate(x_cols)]
    if unit_scale:
        ycol = ycol / F.lit(float(aggs.sy))
        xcols = [xc / F.lit(float(aggs[f"s{i}"])) for i, xc in enumerate(xcols)]
    zd = points.select(
        "id", ycol.alias("yc"),
        *[xc.alias(f"x{i}") for i, xc in enumerate(xcols)],
    )
    # Gram matrix with intercept (centered data -> intercept ~ 0, but
    # keep it for exact parity with sklearn LinearRegression)
    names = ["one"] + [f"x{i}" for i in range(p)]
    zd1 = zd.withColumn("one", F.lit(1.0))
    gram_aggs = []
    for i, a in enumerate(names):
        for b in names[i:]:
            gram_aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"g_{a}_{b}"))
        gram_aggs.append(F.sum(F.col(a) * F.col("yc")).alias(f"gy_{a}"))
    g = zd1.agg(*gram_aggs).collect()[0]
    G = np.zeros((p + 1, p + 1))
    v = np.zeros(p + 1)
    for i, a in enumerate(names):
        for j, b in enumerate(names):
            key = f"g_{a}_{b}" if j >= i else f"g_{b}_{a}"
            G[i, j] = float(g[key])
        v[i] = float(g[f"gy_{a}"])
    beta = np.linalg.solve(G, v)
    pred = F.lit(float(beta[0]))
    for i in range(p):
        pred = pred + F.lit(float(beta[i + 1])) * F.col(f"x{i}")
    yf = zd.select("id", (F.col("yc") - pred).alias("yf"))
    den = float(yf.agg(F.sum(F.col("yf") * F.col("yf"))).collect()[0][0])
    n = yf.count()
    w = transform_weights(edges, "R")
    lagd = spatial_lag(w, yf, "yf")
    base = (
        yf.join(lagd, "id", "left")
        .withColumn("lag", F.coalesce("lag", F.lit(0.0)))
        .withColumn(
            "assoc", F.col("yf") * F.col("lag") / F.lit(den) * F.lit(n - 1.0)
        )
        .withColumn(
            "labels",
            # quads table [[3,2],[4,1]] indexed by (yf>0, lag>0)
            F.when((F.col("yf") > 0) & (F.col("lag") > 0), 1)
            .when((F.col("yf") > 0) & (F.col("lag") <= 0), 4)
            .when((F.col("yf") <= 0) & (F.col("lag") > 0), 2)
            .otherwise(3),
        )
    )
    if permutations:
        pdf = conditional_randomization(
            yf.withColumnRenamed("yf", "z"), w,
            base.select("id", F.col("assoc").alias("observed")),
            "moran_local", permutations=permutations, seed=seed,
            scaling=(n - 1) / den, alternative=alternative, n_sites=n,
        )
        base = base.join(pdf, "id", "left")
    return base


# ---------------------------------------------------------------------------
# LocalCrossPlot composite diagnostic (inspection.py:8-255): fits LOSH,
# Moran_Local and G_Local together over the same weights
# ---------------------------------------------------------------------------

def local_crossplot(
    points: DataFrame,
    edges: DataFrame,
    value_col: str = "y_cont",
    permutations: int = 999,
    seed: int = 12345,
) -> DataFrame:
    """(id, Is, q, p_sim_moran, Gs, Zs, p_sim_g, Hi, losh_pval):
    thin composition of L1 + L6 + L11 on row-standardized weights."""
    w = transform_weights(edges, "R")
    m = moran_local(
        points, edges, value_col, permutations=permutations, seed=seed
    ).select("id", "Is", "q", F.col("p_sim").alias("p_sim_moran"))
    g = g_local(
        points, edges, value_col, star=True, transform="R",
        permutations=permutations, seed=seed,
    ).select("id", "Gs", "Zs", F.col("p_sim").alias("p_sim_g"))
    h = losh(points, w, value_col).select(
        "id", "Hi", F.col("pval").alias("losh_pval")
    )
    return m.join(g, "id").join(h, "id")


# ---------------------------------------------------------------------------
# Partial multivariate local Moran (moran_local_mv.py:39-257):
# lmos = (D (D'D)^-1) o tile(Wy) * (n-1), D = [1 y X]
# ---------------------------------------------------------------------------

def moran_local_partial(
    points: DataFrame,
    edges: DataFrame,
    y_col: str,
    x_cols: list[str],
    permutations: int = 999,
    seed: int = 12345,
    alternative: str = "directed",
    unit_scale: bool = True,
) -> DataFrame:
    """Columns: id, lmo_0..lmo_P, p_sim_0..p_sim_P.

    Component 0 is the y~Wy partial; components 1..P the covariate
    partials.  (D'D)^-1 is a collected (P+2)x(P+2) Gram inverse; each
    left column is a broadcast linear combination, and each component's
    conditional randomization is "site constant x permuted lag"
    (reference's bespoke loop at moran_local_mv.py:213-257 re-expressed
    through the shared crand engine).
    """
    import numpy as np

    p = len(x_cols)
    aggs = points.agg(
        F.avg(y_col).alias("my"), F.stddev_pop(y_col).alias("sy"),
        F.count("*").alias("n"),
        *[F.avg(c).alias(f"m{i}") for i, c in enumerate(x_cols)],
        *[F.stddev_pop(c).alias(f"s{i}") for i, c in enumerate(x_cols)],
    ).collect()[0]
    n = int(agg_n := aggs.n)
    ycol = F.col(y_col) - F.lit(float(aggs.my))
    xcols = [F.col(c) - F.lit(float(aggs[f"m{i}"])) for i, c in enumerate(x_cols)]
    if unit_scale:
        ycol = ycol / F.lit(float(aggs.sy))
        xcols = [xc / F.lit(float(aggs[f"s{i}"])) for i, xc in enumerate(xcols)]
    zd = points.select(
        "id", ycol.alias("yc"),
        *[xc.alias(f"x{i}") for i, xc in enumerate(xcols)],
    ).withColumn("one", F.lit(1.0))
    dnames = ["one", "yc"] + [f"x{i}" for i in range(p)]
    gram_aggs = []
    for i, a in enumerate(dnames):
        for b in dnames[i:]:
            gram_aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"g_{a}_{b}"))
    g = zd.agg(*gram_aggs).collect()[0]
    q = len(dnames)
    G = np.zeros((q, q))
    for i, a in enumerate(dnames):
        for j, b in enumerate(dnames):
            key = f"g_{a}_{b}" if j >= i else f"g_{b}_{a}"
            G[i, j] = float(g[key])
    DtDi = np.linalg.inv(G)

    w = transform_weights(edges, "R")
    wy = spatial_lag(w, zd.select("id", F.col("yc").alias("v")), "v", "wy")
    base = zd.join(wy, "id", "left").withColumn(
        "wy", F.coalesce("wy", F.lit(0.0))
    )
    # left_j = sum_i D_i * DtDi[i, j]
    for j in range(q):
        expr = F.lit(0.0)
        for i, a in enumerate(dnames):
            expr = expr + F.col(a) * F.lit(float(DtDi[i, j]))
        base = base.withColumn(f"left_{j}", expr)
        base = base.withColumn(
            f"lmo_{j}", F.col(f"left_{j}") * F.col("wy") * F.lit(n - 1.0)
        )
    if permutations:
        # one edge gather shared by all q+2 component calls (the same
        # W backs every component; re-gathering per call multiplied the
        # dominant shuffle by the component count).  The mode is decided
        # ONCE from n so the tiled regime gathers tile-partitioned and
        # every component call reuses the checkpointed partitioning.
        from esda_spark.operators.crand import gather_neighborhoods

        mode = ("tiled" if n >= gate.LIMITS["crand_tiled_sites"]
                else "broadcast")
        # persist, NOT localCheckpoint: a cached repartition keeps its
        # tile partitioning through the cogroup (InMemoryTableScan
        # reports the cached plan's outputPartitioning), so the tiled
        # components reuse the gather with ZERO per-call exchange;
        # checkpointed plans come back as UnknownPartitioning in this
        # Spark build and would re-exchange every call.
        gathered = gather_neighborhoods(
            w, tiles=64 if mode == "tiled" else None, seed=seed
        ).persist()
        gathered.count()
        for j in range(q):
            vals = base.select(
                "id", F.col(f"left_{j}").alias("zx"), F.col("yc").alias("zy")
            )
            obs = base.select(
                "id", (F.col(f"left_{j}") * F.col("wy")).alias("observed")
            )
            pj = conditional_randomization(
                vals, w, obs, "left_times_lag",
                permutations=permutations, seed=seed, scaling=1.0,
                alternative=alternative, mode=mode, gathered=gathered,
            ).withColumnRenamed("p_sim", f"p_sim_{j}")
            base = base.join(pj, "id", "left")
    keep_cols = (
        ["id"]
        + [f"lmo_{j}" for j in range(q)]
        + ([f"p_sim_{j}" for j in range(q)] if permutations else [])
    )
    out = base.select(*keep_cols)
    if permutations:
        # materialize before releasing the shared gather — the lazy
        # result is its only remaining consumer, and without this the
        # edge-sized cached table leaks for the session lifetime
        out = out.localCheckpoint(eager=True)
        gathered.unpersist()
    return out


def by_col(
    points: DataFrame,
    edges: DataFrame,
    stat,
    cols: list[str],
    prefix: str | None = None,
    **kwargs,
) -> DataFrame:
    """Apply a local statistic column-wise and append suffixed result
    columns — the engine's analogue of the reference's tabular
    ``by_col`` handlers (tabular.py:12-198)."""
    out = points.select("id")
    for c in cols:
        res = stat(points, edges, c, **kwargs)
        stat_name = prefix or stat.__name__
        renames = {
            rc: f"{c}_{stat_name}_{rc}" for rc in res.columns if rc != "id"
        }
        for old, new in renames.items():
            res = res.withColumnRenamed(old, new)
        out = out.join(res, "id", "left")
    return out
