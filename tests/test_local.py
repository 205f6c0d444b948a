import numpy as np
import pytest
from pyspark.sql import functions as F

from esda_spark.operators import local_stats as ls
from esda_spark.operators.crand import vec_permutations
from esda_spark.operators.weights import lattice_edges
from tests import oracle_numpy as onp


@pytest.fixture(scope="module")
def fx(spark):
    rng = np.random.default_rng(7)
    n = 64
    y = rng.normal(5, 2, n)
    x2 = rng.normal(0, 1, n)
    ybin = (rng.random(n) < 0.4).astype(float)
    zbin = (rng.random(n) < 0.4).astype(float)
    rows = [
        (int(i), float(y[i]), float(x2[i]), float(ybin[i]), float(zbin[i]))
        for i in range(n)
    ]
    pts = spark.createDataFrame(
        rows, "id long, y_cont double, x2 double, y_bin double, z_bin double"
    )
    edges = lattice_edges(spark, 8, 8, rook=True)
    edges_np = np.array([(r.focal, r.neighbor) for r in edges.collect()])
    return {"y": y, "x2": x2, "ybin": ybin, "zbin": zbin, "pts": pts,
            "edges": edges, "edges_np": edges_np, "n": n}


def _collect_by_id(df, col):
    rows = df.orderBy("id").collect()
    return np.array([getattr(r, col) for r in rows], dtype=float)


def test_moran_local_observed_and_quads(fx):
    res = ls.moran_local(fx["pts"], fx["edges"], "y_cont",
                         permutations=99, seed=3).cache()
    w = onp.row_standardize(fx["edges_np"], np.ones(len(fx["edges_np"])))
    want = onp.moran_local(fx["y"], fx["edges_np"], w)
    np.testing.assert_allclose(_collect_by_id(res, "Is"), want["Is"], rtol=1e-10)
    np.testing.assert_array_equal(
        _collect_by_id(res, "q").astype(int), want["q"]
    )
    p = _collect_by_id(res, "p_sim")
    assert ((p > 0) & (p <= 1)).all()


def test_moran_local_moments(fx):
    # Sokal 1998 conditional/total moments vs direct numpy evaluation
    res = ls.moran_local(fx["pts"], fx["edges"], "y_cont", permutations=0)
    w = onp.row_standardize(fx["edges_np"], np.ones(len(fx["edges_np"])))
    n = fx["n"]
    y = fx["y"]
    z = (y - y.mean()) / y.std()
    m2 = (z * z).sum() / n
    wi = np.zeros(n)
    wi2 = np.zeros(n)
    for (f, _), wgt in zip(fx["edges_np"], w):
        wi[f] += wgt
        wi2[f] += wgt * wgt
    EIc = -(z**2 * wi) / ((n - 1) * m2)
    VIc = (z / m2) ** 2 * (n / (n - 2.0)) * (wi2 - wi**2 / (n - 1.0)) * (
        m2 - z**2 / (n - 1.0)
    )
    EI = -wi / (n - 1)
    np.testing.assert_allclose(_collect_by_id(res, "EIc"), EIc, rtol=1e-10)
    np.testing.assert_allclose(_collect_by_id(res, "VIc"), VIc, rtol=1e-10)
    np.testing.assert_allclose(_collect_by_id(res, "EI"), EI, rtol=1e-10)


def test_moran_local_deterministic(fx):
    a = ls.moran_local(fx["pts"], fx["edges"], "y_cont", permutations=99, seed=3)
    b = ls.moran_local(
        fx["pts"].repartition(7), fx["edges"].repartition(5), "y_cont",
        permutations=99, seed=3,
    )
    np.testing.assert_array_equal(
        _collect_by_id(a, "p_sim"), _collect_by_id(b, "p_sim")
    )


def test_moran_local_rate(spark, fx):
    rng = np.random.default_rng(17)
    n = fx["n"]
    e = rng.integers(1, 50, n).astype(float)
    b = rng.integers(50, 500, n).astype(float)
    pts = spark.createDataFrame(
        [(i, float(e[i]), float(b[i])) for i in range(n)],
        "id long, e double, b double",
    )
    res = ls.moran_local_rate(pts, fx["edges"], "e", "b", permutations=99,
                              seed=4).toPandas().sort_values("id")
    # Assuncao-Reis EB-standardized rates (reference smoothing.py:529-578)
    r, ebi_b = e / b, e.sum() / b.sum()
    ebi_a = (b * (r - ebi_b) ** 2).sum() / b.sum() - ebi_b / (b.sum() / n)
    v = ebi_a + ebi_b / b
    ar = (r - ebi_b) / np.sqrt(np.where(v < 0, ebi_b / b, v))
    en = fx["edges_np"]
    w = onp.row_standardize(en, np.ones(len(en)))
    want = onp.moran_local(ar, en, w)
    np.testing.assert_allclose(res["Is"], want["Is"], rtol=1e-10)
    np.testing.assert_array_equal(res["q"], want["q"])
    z, scale = want["z"], (n - 1) / (want["z"] ** 2).sum()
    P = vec_permutations(int(np.bincount(en[:, 0]).max()), n, 99, 4)
    larger, ties = onp.crand_counts(
        z, en, w, want["Is"], P, lambda i, lag, sw: z[i] * lag * scale)
    got = np.rint(res["p_sim"].to_numpy() * 100).astype(int) - 1
    assert (np.abs(got - larger) <= ties).all()


def test_geary_local_observed(fx):
    # reference Geary_Local uses the connectivity as given; row-standardize
    # first (the documented usage, geary_local.py docstring)
    from esda_spark.operators.weights import transform_weights

    res = ls.geary_local(
        fx["pts"], transform_weights(fx["edges"], "R"),
        "y_cont", permutations=49, seed=5,
    )
    w = onp.row_standardize(fx["edges_np"], np.ones(len(fx["edges_np"])))
    want = onp.geary_local(fx["y"], fx["edges_np"], w)
    np.testing.assert_allclose(_collect_by_id(res, "localG"), want, rtol=1e-10)


def test_g_local_observed_and_moments(fx):
    res = ls.g_local(fx["pts"], fx["edges"], "y_cont", star=False,
                     transform="B", permutations=49, seed=5)
    want = onp.g_local(fx["y"], fx["edges_np"], np.ones(len(fx["edges_np"])),
                       star=False)
    np.testing.assert_allclose(_collect_by_id(res, "Gs"), want["Gs"], rtol=1e-10)
    np.testing.assert_allclose(_collect_by_id(res, "Zs"), want["Zs"], rtol=1e-10)


def test_g_local_star(fx):
    res = ls.g_local(fx["pts"], fx["edges"], "y_cont", star=True,
                     transform="B", permutations=0)
    # star: self-edge weight 1; oracle with explicit self edges
    edges_star = np.vstack(
        [fx["edges_np"], np.array([(i, i) for i in range(fx["n"])])]
    )
    want = onp.g_local(fx["y"], edges_star, np.ones(len(edges_star)), star=True)
    np.testing.assert_allclose(_collect_by_id(res, "Gs"), want["Gs"], rtol=1e-10)
    np.testing.assert_allclose(_collect_by_id(res, "Zs"), want["Zs"], rtol=1e-10)


def test_ljc_lattice_golden(spark):
    # Golden array from reference tests/test_ljc.py:22-31: lat2W(4,4),
    # y=[0]*8+[1]*8 -> [0,0,0,0,0,0,0,0,2,3,3,2,2,3,3,2]; p NaN where LJC=0.
    y = [0.0] * 8 + [1.0] * 8
    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(y)], "id long, y_bin double"
    )
    edges = lattice_edges(spark, 4, 4, rook=True)
    res = ls.join_counts_local(pts, edges, "y_bin", permutations=99, seed=1)
    got = _collect_by_id(res, "LJC")
    np.testing.assert_array_equal(
        got, [0, 0, 0, 0, 0, 0, 0, 0, 2, 3, 3, 2, 2, 3, 3, 2]
    )
    rows = res.orderBy("id").collect()
    assert all(r.p_sim is None for r in rows[:8])
    assert all(r.p_sim is not None for r in rows[8:])


def test_ljc_bv_and_mv(fx):
    bjc = ls.join_counts_local_bv(fx["pts"], fx["edges"], "y_bin", "z_bin",
                                  case="BJC", permutations=49, seed=2)
    clc = ls.join_counts_local_bv(fx["pts"], fx["edges"], "y_bin", "z_bin",
                                  case="CLC", permutations=49, seed=2)
    x, z = fx["ybin"], fx["zbin"]
    bjc_want = np.zeros(fx["n"])
    clc_want = np.zeros(fx["n"])
    for f, nb in fx["edges_np"]:
        bjc_want[f] += (x[f] == 1) & (z[f] == 0) & (x[nb] == 0) & (z[nb] == 1)
        clc_want[f] += (x[f] == 1) & (z[f] == 1) & (x[nb] == 1) & (z[nb] == 1)
    np.testing.assert_array_equal(_collect_by_id(bjc, "LJC"), bjc_want)
    np.testing.assert_array_equal(_collect_by_id(clc, "LJC"), clc_want)
    mv = ls.join_counts_local_mv(fx["pts"], fx["edges"], ["y_bin", "z_bin"],
                                 permutations=0)
    mv_want = np.zeros(fx["n"])
    prod = x * z
    for f, nb in fx["edges_np"]:
        mv_want[f] += (prod[f] == 1) & (prod[nb] == 1)
    np.testing.assert_array_equal(_collect_by_id(mv, "MCLC"), mv_want)


def test_lee_local_observed(fx):
    res = ls.lee_local(fx["pts"], fx["edges"], "y_cont", "x2", permutations=49,
                       seed=9)
    n = fx["n"]
    w = onp.row_standardize(fx["edges_np"], np.ones(len(fx["edges_np"])))
    zx = (fx["y"] - fx["y"].mean()) / fx["y"].std()
    zy = (fx["x2"] - fx["x2"].mean()) / fx["x2"].std()
    want = onp.lag(n, fx["edges_np"], w, zx) * onp.lag(n, fx["edges_np"], w, zy)
    np.testing.assert_allclose(_collect_by_id(res, "L"), want, rtol=1e-10)


def test_losh(fx):
    res = ls.losh(fx["pts"], fx["edges"], "y_cont")
    w = onp.row_standardize(fx["edges_np"], np.ones(len(fx["edges_np"])))
    want = onp.losh(fx["y"], fx["edges_np"], w)
    np.testing.assert_allclose(_collect_by_id(res, "Hi"), want["Hi"], rtol=1e-10)
    np.testing.assert_allclose(_collect_by_id(res, "VarHi"), want["VarHi"],
                               rtol=1e-10)
    p = _collect_by_id(res, "pval")
    assert ((p >= 0) & (p <= 1)).all()


def test_crand_alternatives_invariants(fx):
    # significance invariants (reference tests/test_significance.py:18-54)
    from esda_spark.operators.crand import conditional_randomization
    from esda_spark.operators.weights import transform_weights

    pts, edges = fx["pts"], fx["edges"]
    agg = pts.agg(F.avg("y_cont"), F.stddev_pop("y_cont")).collect()[0]
    z = pts.select(
        "id", ((F.col("y_cont") - agg[0]) / agg[1]).alias("z")
    )
    w = transform_weights(edges, "R")
    obs = ls.moran_local(pts, edges, "y_cont", permutations=0).select(
        "id", F.col("Is").alias("observed")
    )
    ps = {}
    for alt in ["two-sided", "lesser", "greater", "directed", "folded"]:
        ps[alt] = _collect_by_id(
            conditional_randomization(z, w, obs, "moran_local",
                                      permutations=99, seed=42, alternative=alt),
            "p_sim",
        )
    k = 99
    for alt, p in ps.items():
        assert ((p > 0) & (p <= 1)).all(), alt
    assert (ps["directed"] <= ps["two-sided"] + 1e-12).all()
    np.testing.assert_allclose(
        ps["lesser"] + ps["greater"], 1.0 + 1.0 / (k + 1), rtol=1e-12
    )
    assert (
        (np.abs(ps["directed"] - ps["lesser"]) < 1e-12)
        | (np.abs(ps["directed"] - ps["greater"]) < 1e-12)
    ).all()


def test_crand_moment_columns(fx):
    # z_sim/p_z_sim parity: E/V from keep=True sims rows must equal the
    # streaming accumulators' E_sim/V_sim (reference moran.py:1386-1399)
    res = ls.moran_local(
        fx["pts"], fx["edges"], "y_cont", permutations=199, seed=5,
        keep_simulations=True, moments=True,
    ).orderBy("id").collect()
    from esda_spark.functions.mathx import norm_sf

    for r in res[::5]:
        sims = np.array(r.sims)
        assert r.E_sim == pytest.approx(sims.mean(), rel=1e-9)
        assert r.V_sim == pytest.approx(sims.var(), rel=1e-9, abs=1e-15)
        if sims.std() > 0:
            want_z = (r.Is - sims.mean()) / sims.std()
            assert r.z_sim == pytest.approx(want_z, rel=1e-9)
            assert r.p_z_sim == pytest.approx(float(norm_sf(abs(want_z))),
                                              rel=1e-9)


def test_crand_streaming_moments_match_keep(fx):
    # streaming path (keep=False) computes E/V via accumulators; compare
    from esda_spark.operators.crand import conditional_randomization
    from esda_spark.operators.weights import transform_weights

    pts, edges = fx["pts"], fx["edges"]
    agg = pts.agg(F.avg("y_cont"), F.stddev_pop("y_cont")).collect()[0]
    z = pts.select("id", ((F.col("y_cont") - agg[0]) / agg[1]).alias("z"))
    w = transform_weights(edges, "R")
    obs = ls.moran_local(pts, edges, "y_cont", permutations=0).select(
        "id", F.col("Is").alias("observed"))
    a = conditional_randomization(z, w, obs, "moran_local", permutations=99,
                                  seed=42, moments=True)
    b = conditional_randomization(z, w, obs, "moran_local", permutations=99,
                                  seed=42, moments=True, keep=True,
                                  alternative="two-sided")
    ea = _collect_by_id(a, "E_sim"); eb = _collect_by_id(b, "E_sim")
    va = _collect_by_id(a, "V_sim"); vb = _collect_by_id(b, "V_sim")
    np.testing.assert_allclose(ea, eb, rtol=1e-9)
    np.testing.assert_allclose(va, vb, rtol=1e-9, atol=1e-15)


def test_crand_tiled_mode_parity(spark):
    # tiled tile-conditional nulls should be statistically equivalent to
    # full conditional permutation: per-site p-values highly correlated,
    # and significant/insignificant calls mostly agree
    from esda_spark.operators.crand import conditional_randomization
    from esda_spark.operators.weights import knn_edges, transform_weights

    rng = np.random.default_rng(11)
    n = 400
    xy = rng.uniform(0, 100, size=(n, 2))
    # spatially autocorrelated field: smooth ramp + noise
    y = xy[:, 0] / 20.0 + rng.normal(0, 1, n)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(yy), float(v))
         for i, ((x, yy), v) in enumerate(zip(xy, y))],
        "id long, x double, y double, y_cont double",
    )
    edges = knn_edges(pts, k=6)
    w = transform_weights(edges, "R")
    mu, sd = float(y.mean()), float(y.std())
    z = pts.select("id", ((F.col("y_cont") - mu) / sd).alias("z"))
    obs = ls.moran_local(pts, edges, "y_cont", permutations=0).select(
        "id", F.col("Is").alias("observed"))
    full = _collect_by_id(
        conditional_randomization(z, w, obs, "moran_local",
                                  permutations=499, seed=9), "p_sim")
    tiled = _collect_by_id(
        conditional_randomization(z, w, obs, "moran_local",
                                  permutations=499, seed=9,
                                  mode="tiled", tiles=4), "p_sim")
    assert len(tiled) == n
    assert ((tiled > 0) & (tiled <= 1)).all()
    r = np.corrcoef(full, tiled)[0, 1]
    assert r > 0.9, r
    agree = ((full <= 0.05) == (tiled <= 0.05)).mean()
    assert agree > 0.9, agree


def test_crand_tiled_moments_and_keep(spark):
    from esda_spark.operators.crand import conditional_randomization
    from esda_spark.operators.weights import knn_edges, transform_weights

    rng = np.random.default_rng(19)
    n = 200
    xy = rng.uniform(0, 60, size=(n, 2))
    y = rng.normal(0, 1, n)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(yy), float(v))
         for i, ((x, yy), v) in enumerate(zip(xy, y))],
        "id long, x double, y double, y_cont double",
    )
    edges = knn_edges(pts, k=5)
    w = transform_weights(edges, "R")
    z = pts.select("id", (F.col("y_cont") / float(y.std())).alias("z"))
    obs = ls.moran_local(pts, edges, "y_cont", permutations=0).select(
        "id", F.col("Is").alias("observed"))
    res = conditional_randomization(
        z, w, obs, "moran_local", permutations=99, seed=3,
        mode="tiled", tiles=3, moments=True, keep=True,
        alternative="two-sided",
    ).orderBy("id").collect()
    assert len(res) == n
    for r in res[::11]:
        sims = np.array(r.sims)
        assert len(sims) == 99
        assert r.E_sim == pytest.approx(sims.mean(), rel=1e-9)
        assert r.V_sim == pytest.approx(sims.var(), rel=1e-9, abs=1e-15)
        assert 0 < r.p_sim <= 1


# per-site directed counts of the tiled regime on the fixture of
# test_crand_tiled_recorded_parity (seed 5, 99 perms), recorded when the
# regime still read collect_list neighborhoods, in the format of
# _RECORDED_COUNTS
_TILED_COUNTS = {
    3:
        "0114101528384800153934324518284827112332281415284526161409480601"
        "2340090300143943280830381648461518443824272427384415363438384611"
        "2949274845434137000533173234263235184536043737244729393205202405"
        "2518254227063323033529390801123920213217133220364501361121443604"
        "3238232601344942283001262241333106000018261903224618082410042824"
        "0011410627450046434444141630144600480048120609061504433407221829"
        "1215112821150216094842481549422822402803203402113232091327363748"
        "1446101945233526452443200216214426393305004239491303360129194111"
        "1507121720033140052900124426404339350236491507473823124034194306"
        "40074113000201304309",
    5:
        "0112142237392600173947482832494429044143221924194040021903190402"
        "1949040901033449210442402544490708282618221026413007284707204901"
        "4722214949343936010848153106182113123831124040403143351213170406"
        "0817344110164641082745380402033911363711071436404505160934413900"
        "4940121504263043413005212433303507010108202801063525131712032917"
        "0019460036410134363933251322044600440047281116040303254501183045"
        "1212222529060234103633481640491935314306362301233325160727252548"
        "1446143139182630243132280309313423354711014749451907370233084304"
        "2112321344024537112100103515264041460249334702414637054819243729"
        "40164522000500444710",
}


def test_crand_tiled_recorded_parity(spark):
    # the tiled regime's exact output, through an island, self-loops at
    # 0.5, a null observed value (site 11) and an unscored focal (13)
    from esda_spark.operators.crand import conditional_randomization
    from esda_spark.operators.weights import knn_edges, transform_weights

    rng = np.random.default_rng(23)
    n = 300
    xy = rng.uniform(0, 80, size=(n, 2))
    y = rng.normal(0, 1, n)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(yy), float(v))
         for i, ((x, yy), v) in enumerate(zip(xy, y))],
        "id long, x double, y double, y_cont double",
    )
    edges = knn_edges(pts, k=5)
    island = 7
    edges = edges.where(
        (F.col("focal") != island) & (F.col("neighbor") != island)
    )
    w = transform_weights(edges, "R").unionByName(spark.createDataFrame(
        [(i, i, 0.5) for i in range(0, n, 37)],
        "focal long, neighbor long, weight double"))
    z = pts.select("id", (F.col("y_cont") / float(y.std())).alias("z"))
    obs = ls.moran_local(pts, edges, "y_cont", permutations=0).select(
        "id", F.when(F.col("id") == 11, None).otherwise(F.col("Is"))
        .alias("observed")).where(F.col("id") != 13)
    for tiles, rec in _TILED_COUNTS.items():
        pdf = conditional_randomization(
            z, w, obs, "moran_local", permutations=99, seed=5,
            mode="tiled", tiles=tiles, moments=True,
        ).toPandas().sort_values("id")
        np.testing.assert_array_equal(
            pdf["id"], [i for i in range(n) if i not in (11, 13)])
        got = np.rint(pdf["p_sim"].to_numpy() * 100).astype(int) - 1
        want = [int(rec[i:i + 2]) for i in range(0, len(rec), 2)]
        np.testing.assert_array_equal(got, want, err_msg=f"tiles={tiles}")


# ---------------------------------------------------------------------------
# flat-kernel parity matrix: moran_local, g_local (star and non-star) and
# the generic conditional_randomization broadcast path, over R/B/O/D/V and
# degenerate inputs, against tests/oracle_numpy.py and recorded p_sim
# ---------------------------------------------------------------------------

_ISLAND = 9
_SELF_LOOPS = (0, 10, 20, 30, 40, 50, 60)
_OPS = ("moran_local", "g_local", "g_local_star", "crand")
_CASES = [(op, s, "mixed") for op in _OPS for s in "RBODV"] + [
    (op, "R", v) for op in _OPS for v in ("perm0", "keep", "straddle")
    if not (v == "perm0" and op == "crand")
    and not (v == "keep" and op.startswith("g_local"))
]
_CRAND_COLS = ["p_sim", "E_sim", "V_sim", "z_sim", "p_z_sim"]


@pytest.fixture(scope="module")
def mixed(spark, fx):
    """The 8x8 rook lattice with an island (site 9 loses every edge),
    self-loop edges at weight 0.5 and tied non-unit weights 1/2/3."""
    e = [(int(f), int(nb)) for f, nb in fx["edges_np"]
         if _ISLAND not in (f, nb)]
    e = np.array(sorted(e + [(i, i) for i in _SELF_LOOPS]))
    w = np.where(e[:, 0] == e[:, 1], 0.5, 1.0 + (e[:, 0] + e[:, 1]) % 3)
    edges = spark.createDataFrame(
        [(int(f), int(nb), float(x)) for (f, nb), x in zip(e, w)],
        "focal long, neighbor long, weight double",
    )
    return {"e": e, "w": w, "edges": edges}


def _run_case(spark, fx, mixed, op, style, variant):
    from esda_spark.operators.crand import conditional_randomization
    from esda_spark.operators.weights import transform_weights

    perms = 0 if variant == "perm0" else 99
    keep = variant == "keep"
    if op == "moran_local":
        return ls.moran_local(fx["pts"], mixed["edges"], "y_cont",
                              transformation=style, permutations=perms,
                              seed=3, keep_simulations=keep)
    if op.startswith("g_local"):
        return ls.g_local(fx["pts"], mixed["edges"], "y_cont",
                          star=op == "g_local_star", transform=style,
                          permutations=perms, seed=3)
    y = fx["y"]
    z = (y - y.mean()) / y.std()
    obs = onp.moran_local(
        y, mixed["e"], onp.transform(mixed["e"], mixed["w"], style))["Is"]
    vals = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(z)], "id long, z double")
    observed = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(obs)],
        "id long, observed double")
    return conditional_randomization(
        vals, transform_weights(mixed["edges"], style), observed,
        "moran_local", permutations=perms, seed=3, keep=keep, moments=True)


def _schema(op, variant):
    crand = [] if variant == "perm0" else _CRAND_COLS
    sims = ["sims"] if variant == "keep" else []
    if op == "moran_local":
        return (["id", "z", "lag", "Is", "q", "EIc", "VIc", "EI", "VI"]
                + crand + sims)
    if op.startswith("g_local"):
        return ["id", "y", "lag", "Gs", "EGs", "VGs", "Zs"] + crand + ["p_norm"]
    return ["id"] + crand + sims


# Per-site directed counts (p_sim = (count + 1) / 100), two digits a
# site in id order, recorded from the earlier collect_list site-frame
# implementation of the same statistics.
_RECORDED_COUNTS = {
    "moran_local-R-mixed":
        "4846323921423217350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "moran_local-B-mixed":
        "4547364117252517180016351241370541030405370533411008300222472528"
        "4832012312323142323004314100240805111222122405393100101841132616",
    "moran_local-O-mixed":
        "4846323921423217350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "moran_local-D-mixed":
        "4846323921423218350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "moran_local-V-mixed":
        "4846323921423218350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "g_local-R-mixed":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "g_local-B-mixed":
        "0247364117252518180013351241370541030405490533411008300222473928"
        "4832012312323142133004314100240805110122122405393100101807132616",
    "g_local-O-mixed":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "g_local-D-mixed":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "g_local-V-mixed":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "g_local_star-R-mixed":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "g_local_star-B-mixed":
        "0247364117252518180013351241370541030405490533411008300222473928"
        "4832012312323142133004314100240805110122122405393100101807132616",
    "g_local_star-O-mixed":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "g_local_star-D-mixed":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "g_local_star-V-mixed":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "crand-R-mixed":
        "4846323921423217350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "crand-B-mixed":
        "4547364117252517180016351241370541030405370533411008300222472528"
        "4832012312323142323004314100240805111222122405393100101841132616",
    "crand-O-mixed":
        "4846323921423217350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "crand-D-mixed":
        "4846323921423218350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "crand-V-mixed":
        "4846323921423218350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "moran_local-R-keep":
        "4846323921423217350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "moran_local-R-straddle":
        "4846323921423217350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "g_local-R-straddle":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "g_local_star-R-straddle":
        "3646323921423218350024321249270844010102430521341315080131233220"
        "3741013514223644433305142900151805174922231905313100084844142418",
    "crand-R-keep":
        "4846323921423217350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
    "crand-R-straddle":
        "4846323921423217350007321249270844010102470521341315080131232820"
        "3741013514223644303305142900151805173522231905313100084836142418",
}


@pytest.mark.parametrize("min_sites", [0, 1, 3])
@pytest.mark.parametrize("batch", [1, 2, 3, 7, 50])
def test_site_runs_carry(min_sites, batch):
    # a site's rows may cross any number of Arrow batches; every site
    # must come out of exactly one run, whole and in order
    import pandas as pd

    from esda_spark.operators.crand import _MARK, _site_runs

    rng = np.random.default_rng(batch)
    rows = []
    for sid in (2, 3, 5, 8, 9, 13, 14, 20, 21, 22):
        rows.append((sid, _MARK, float(sid)))
        rows += [(sid, int(nb), 0.5) for nb in
                 np.sort(rng.choice(30, int(rng.integers(0, 9)), False))]
    rows.append((25, 1, 1.0))  # edges of an unscored focal, no marker
    data = np.array(rows, dtype=object)
    batches = [
        pd.DataFrame({"id": data[i:i + batch, 0].astype(np.int64),
                      "neighbor": data[i:i + batch, 1].astype(np.int64),
                      "w": data[i:i + batch, 2].astype(np.float64)})
        for i in range(0, len(data), batch)
    ]
    batches.insert(1, batches[0].iloc[:0])  # an empty batch
    runs = list(_site_runs(iter(batches), min_sites))
    for ids, nb, w in runs:
        assert len(ids) and len(ids) == len(nb) == len(w)
    got = np.concatenate([np.stack([r[0], r[1]], axis=1) for r in runs])
    np.testing.assert_array_equal(got, data[:, :2].astype(np.int64))
    np.testing.assert_array_equal(np.concatenate([r[2] for r in runs]),
                                  data[:, 2].astype(np.float64))
    site_runs = [np.unique(r[0]) for r in runs]
    all_sites = np.concatenate(site_runs)
    assert len(all_sites) == len(np.unique(all_sites))  # none split
    for r in runs[:-1]:
        assert (r[1] == _MARK).sum() >= min_sites


def _check_oracle(fx, mixed, op, style, pdf):
    """Site columns against oracle_numpy; returns the oracle's directed
    counts and near-tie draws for the p_sim check."""
    n, y = fx["n"], fx["y"]
    e, w = mixed["e"], mixed["w"]
    if op == "g_local_star":
        e = np.vstack([e, np.stack([np.arange(n)] * 2, axis=1)])
        w = np.concatenate([w, np.ones(n)])
    ow = onp.transform(e, w, style)
    if op.startswith("g_local"):
        want = onp.g_local(y, e, ow, star=op == "g_local_star")
        for c in ("Gs", "EGs", "VGs", "Zs"):
            np.testing.assert_allclose(pdf[c], want[c], rtol=1e-10,
                                       atol=1e-14, err_msg=c)
        zv, obs, ys = y, want["Gs"], y.sum()
        if op == "g_local_star":
            def stat(i, lag, sw):
                return (lag + sw * y[i]) / ys
        else:
            def stat(i, lag, sw):
                return lag / (ys - y[i])
    else:
        want = onp.moran_local(y, e, ow)
        zv, obs = want["z"], want["Is"]
        scale = (n - 1) / (zv * zv).sum()

        def stat(i, lag, sw):
            return zv[i] * (lag + sw * zv[i]) * scale
        if op == "moran_local":
            wi = np.bincount(e[:, 0], weights=ow, minlength=n)
            m2 = (zv * zv).sum() / n
            np.testing.assert_allclose(pdf["z"], zv, rtol=1e-12)
            np.testing.assert_allclose(pdf["lag"], want["zl"], rtol=1e-10,
                                       atol=1e-14)
            np.testing.assert_allclose(pdf["Is"], obs, rtol=1e-10,
                                       atol=1e-14)
            np.testing.assert_array_equal(pdf["q"], want["q"])
            np.testing.assert_allclose(pdf["EI"], -wi / (n - 1), rtol=1e-10)
            np.testing.assert_allclose(
                pdf["EIc"], -(zv * zv * wi) / ((n - 1) * m2), rtol=1e-10)
    card = np.bincount(e[e[:, 0] != e[:, 1], 0]).max()
    P = vec_permutations(int(card), n, 99, 3)
    return onp.crand_counts(zv, e, ow, obs, P, stat)


@pytest.mark.parametrize(
    "op,style,variant", _CASES, ids=[f"{o}-{s}-{v}" for o, s, v in _CASES])
def test_flat_kernel_parity(spark, fx, mixed, monkeypatch, op, style,
                            variant):
    from esda_spark.operators import crand

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    if variant == "straddle":
        # 5-row Arrow batches: every site's edge rows + marker row
        # straddle a batch boundary somewhere in the partition, and
        # 2-site kernel chunks make the kernel cut and carry at each
        spark.conf.set(conf, "5")
        monkeypatch.setattr(crand, "_SITE_CHUNK", 2)
    try:
        df = _run_case(spark, fx, mixed, op, style, variant)
        pdf = df.toPandas().sort_values("id").reset_index(drop=True)
    finally:
        spark.conf.set(conf, before)
    assert df.columns == _schema(op, variant)
    for name, dtype in df.dtypes:
        assert dtype == {"id": "bigint", "q": "int",
                         "sims": "array<double>"}.get(name, "double"), name
    assert len(pdf) == fx["n"]
    np.testing.assert_array_equal(pdf["id"], np.arange(fx["n"]))
    larger, ties = _check_oracle(fx, mixed, op, style, pdf)
    if variant == "perm0":
        return
    if variant == "keep":
        for r in pdf.itertuples():
            assert len(r.sims) == 99
            assert r.E_sim == pytest.approx(np.mean(r.sims), rel=1e-9)
    got = np.rint(pdf["p_sim"].to_numpy() * 100).astype(int) - 1
    rec = _RECORDED_COUNTS[f"{op}-{style}-{variant}"]
    recorded = np.array([int(rec[i:i + 2]) for i in range(0, len(rec), 2)])
    # equal counts at every site, except that a draw tying the observed
    # value in exact arithmetic may land on either side of it
    for want in (larger, recorded):
        off = np.abs(got - want) > ties
        assert not off.any(), (np.flatnonzero(off), got[off], want[off])


@pytest.mark.parametrize("op", ["moran_local", "g_local_star"])
def test_local_stats_tiled_regime(spark, fx, mixed, monkeypatch, op):
    # beyond the crand_tiled_sites gate a Spark aggregate forms the site
    # columns and the tiled crand's p columns join back by id
    from functools import partial

    from esda_spark.operators import crand
    from esda_spark.plans import gate

    monkeypatch.setitem(gate.LIMITS, "crand_tiled_sites", 0)
    monkeypatch.setattr(ls, "conditional_randomization",
                        partial(crand.conditional_randomization, tiles=2))
    df = _run_case(spark, fx, mixed, op, "R", "mixed")
    pdf = df.toPandas().sort_values("id").reset_index(drop=True)
    assert df.columns == _schema(op, "mixed")
    assert len(pdf) == fx["n"]
    _check_oracle(fx, mixed, op, "R", pdf)
    p = pdf["p_sim"].to_numpy()
    assert ((p > 0) & (p <= 1)).all()


def _sparse(df, *cols):
    # the same rows with ids 1000 + 7*id: not dense, order kept
    return df.select(*[(F.col(c) * 7 + 1000).alias(c) if c in cols
                       else F.col(c) for c in df.columns])


def test_flat_crand_sparse_ids(spark, fx, mixed):
    # the broadcast regime ranks value ids, so any unique ids give the
    # dense run's statistics site for site
    from esda_spark.operators.crand import conditional_randomization
    from esda_spark.operators.weights import transform_weights

    pts, edges = fx["pts"], mixed["edges"]
    dense = ls.moran_local(pts, edges, permutations=99, seed=3).toPandas()
    sparse = ls.moran_local(
        _sparse(pts, "id"), _sparse(edges, "focal", "neighbor"),
        permutations=99, seed=3).toPandas()
    dense, sparse = (d.sort_values("id").reset_index(drop=True)
                     for d in (dense, sparse))
    np.testing.assert_array_equal(sparse["id"], dense["id"] * 7 + 1000)
    for c in ("z", "lag", "Is", "q", "EIc", "VIc", "p_sim", "E_sim"):
        np.testing.assert_allclose(sparse[c], dense[c], rtol=1e-12,
                                   atol=1e-15, err_msg=c)
    vals = dense[["id", "z"]]
    obs = dense[["id", "Is"]].rename(columns={"Is": "observed"})
    w = transform_weights(edges, "R")
    p = []
    for ids in (lambda i: i, lambda i: i * 7 + 1000):
        e = w.select(*[(ids(F.col(c)) if c != "weight" else F.col(c))
                       .alias(c) for c in w.columns])
        got = conditional_randomization(
            spark.createDataFrame(vals.assign(id=ids(vals["id"]))),
            e, spark.createDataFrame(obs.assign(id=ids(obs["id"]))),
            "moran_local", permutations=99, seed=3,
        ).toPandas().sort_values("id")
        p.append(got["p_sim"].to_numpy())
    np.testing.assert_array_equal(p[1], p[0])


def test_flat_crand_bad_ids(spark, fx, mixed):
    from esda_spark.operators.crand import conditional_randomization

    z = spark.createDataFrame([(i % 63, float(i)) for i in range(64)],
                              "id long, z double")
    obs = spark.createDataFrame([(i, 1.0) for i in range(64)],
                                "id long, observed double")
    with pytest.raises(ValueError, match="unique value ids"):
        conditional_randomization(z, mixed["edges"], obs, "moran_local",
                                  permutations=9, mode="broadcast")
    z = spark.createDataFrame([(i, float(i)) for i in range(63)],
                              "id long, z double")
    with pytest.raises(Exception, match="absent from values"):
        conditional_randomization(z, mixed["edges"], obs, "moran_local",
                                  permutations=9, mode="broadcast").collect()
    with pytest.raises(ValueError, match="'auto', 'broadcast' or 'tiled'"):
        conditional_randomization(z, mixed["edges"], obs, "moran_local",
                                  permutations=9, mode="tile")
