import numpy as np
import pytest

from esda_spark.operators import global_stats as gs
from esda_spark.operators.weights import lattice_edges, transform_weights
from tests import oracle_numpy as onp


@pytest.fixture(scope="module")
def fixture(spark):
    rng = np.random.default_rng(42)
    n = 64
    y = rng.normal(10, 3, n)
    ybin = (rng.random(n) < 0.5).astype(float)
    e = rng.integers(1, 50, n).astype(float)
    b = rng.integers(50, 500, n).astype(float)
    rows = [
        (int(i), float(y[i]), float(ybin[i]), float(e[i]), float(b[i]))
        for i in range(n)
    ]
    pts = spark.createDataFrame(
        rows, "id long, y_cont double, y_bin double, e double, b double"
    )
    edges = lattice_edges(spark, 8, 8, rook=True)
    edges_np = np.array([(r.focal, r.neighbor) for r in edges.collect()])
    return {"y": y, "ybin": ybin, "e": e, "b": b, "pts": pts,
            "edges": edges, "edges_np": edges_np, "n": n}


def test_moran_matches_oracle(fixture):
    res = gs.moran(fixture["pts"], fixture["edges"], "y_cont", "r",
                   permutations=99, seed=1)
    w = onp.row_standardize(fixture["edges_np"], np.ones(len(fixture["edges_np"])))
    want = onp.moran(fixture["y"], fixture["edges_np"], w)
    assert res["I"] == pytest.approx(want["I"], rel=1e-12)
    assert res["VI_norm"] == pytest.approx(want["VI_norm"], rel=1e-12)
    assert res["VI_rand"] == pytest.approx(want["VI_rand"], rel=1e-12)
    assert 0 < res["p_sim"] <= 1
    assert 0 < res["p_norm"] <= 1


def test_moran_binary_weights(fixture):
    res = gs.moran(fixture["pts"], fixture["edges"], "y_cont", "b")
    want = onp.moran(
        fixture["y"], fixture["edges_np"], np.ones(len(fixture["edges_np"]))
    )
    assert res["I"] == pytest.approx(want["I"], rel=1e-12)


def test_geary_matches_oracle(fixture):
    res = gs.geary(fixture["pts"], fixture["edges"], "y_cont", "r")
    w = onp.row_standardize(fixture["edges_np"], np.ones(len(fixture["edges_np"])))
    want = onp.geary(fixture["y"], fixture["edges_np"], w)
    assert res["C"] == pytest.approx(want["C"], rel=1e-12)
    assert res["VC_norm"] == pytest.approx(want["VC_norm"], rel=1e-12)
    assert res["VC_rand"] == pytest.approx(want["VC_rand"], rel=1e-12)


def test_getis_g_matches_oracle(fixture):
    res = gs.getis_g(fixture["pts"], fixture["edges"], "y_cont")
    want = onp.getis_g(fixture["y"], fixture["edges_np"])
    assert res["G"] == pytest.approx(want["G"], rel=1e-12)
    assert res["EG"] == pytest.approx(want["EG"], rel=1e-12)
    assert res["VG"] == pytest.approx(want["VG"], rel=1e-12)


def test_gamma_lattice_golden(spark):
    # Golden doctest values from reference gamma.py:90-105 on lat2W(4,4)
    # with y = [0]*8 + [1]*8: op 'c' -> 20.0, op 's' -> 8.0.
    y = [0.0] * 8 + [1.0] * 8
    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(y)], "id long, y_cont double"
    )
    edges = lattice_edges(spark, 4, 4, rook=True)
    assert gs.gamma(pts, edges, "y_cont", "c")["g"] == pytest.approx(20.0)
    assert gs.gamma(pts, edges, "y_cont", "s")["g"] == pytest.approx(8.0)
    assert gs.gamma(pts, edges, "y_cont", "a")["g"] == pytest.approx(8.0)


def test_join_counts_lattice_golden(spark):
    # Golden doctest values from reference join_counts.py:107-114:
    # bb=10, ww=10, bw=4, J=24 on lat2W(4,4), y=[0]*8+[1]*8.
    y = [0.0] * 8 + [1.0] * 8
    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(y)], "id long, y_bin double"
    )
    edges = lattice_edges(spark, 4, 4, rook=True)
    res = gs.join_counts(pts, edges, "y_bin", permutations=49, seed=3)
    assert res["bb"] == pytest.approx(10.0)
    assert res["ww"] == pytest.approx(10.0)
    assert res["bw"] == pytest.approx(4.0)
    assert res["J"] == pytest.approx(24.0)
    assert 0 < res["p_sim_bb"] <= 1


def test_join_counts_oracle(fixture):
    pts = fixture["pts"]
    res = gs.join_counts(pts, fixture["edges"], "y_bin")
    want = onp.join_counts(fixture["ybin"], fixture["edges_np"])
    assert res["bb"] == pytest.approx(want["bb"])
    assert res["ww"] == pytest.approx(want["ww"])
    assert res["bw"] == pytest.approx(want["bw"])


def test_moran_bv_and_lee(fixture):
    pts = fixture["pts"]
    res = gs.moran_bv(pts, fixture["edges"], "y_cont", "e", permutations=49, seed=5)
    assert np.isfinite(res["I"])
    lee = gs.lee_spatial_pearson(pts, fixture["edges"], "y_cont", "e",
                                 permutations=49, seed=5)
    L = lee["association"]
    assert L.shape == (2, 2)
    assert L[0, 1] == pytest.approx(L[1, 0])
    # diagonal of L for (x,x) equals global Moran-like positive quantity
    assert np.isfinite(lee["p_sim_xy"])


def test_moran_rate_runs(fixture):
    res = gs.moran_rate(fixture["pts"], fixture["edges"], "e", "b")
    # oracle: assuncao then moran
    e, b, n = fixture["e"], fixture["b"], fixture["n"]
    yy = e / b
    ebi_b = e.sum() / b.sum()
    s2 = (b * (yy - ebi_b) ** 2).sum() / b.sum()
    ebi_a = s2 - ebi_b / (b.sum() / n)
    ebi_v = ebi_a + ebi_b / b
    ebi_v = np.where(ebi_v < 0, ebi_b / b, ebi_v)
    ar = (yy - ebi_b) / np.sqrt(ebi_v)
    w = onp.row_standardize(fixture["edges_np"], np.ones(len(fixture["edges_np"])))
    want = onp.moran(ar, fixture["edges_np"], w)
    assert res["I"] == pytest.approx(want["I"], rel=1e-12)


def test_moran_large_mean(fixture):
    # |mean| >> spread: the raw-sum numerator identity cancels to noise
    spark = fixture["pts"].sparkSession
    y = 1e9 + np.random.default_rng(3).normal(0, 1, fixture["n"])
    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(y)], "id long, y_cont double"
    )
    res = gs.moran(pts, fixture["edges"], "y_cont", "r")
    w = onp.row_standardize(fixture["edges_np"], np.ones(len(fixture["edges_np"])))
    want = onp.moran(y, fixture["edges_np"], w)
    for k in ("I", "VI_rand"):
        assert res[k] == pytest.approx(want[k], rel=1e-6), k


def test_permutation_pvalues_sane(fixture):
    # strongly autocorrelated surface -> tiny p
    spark = fixture["pts"].sparkSession
    n = 64
    y = [float(i // 8) for i in range(n)]  # smooth gradient on the lattice
    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(y)], "id long, y_cont double"
    )
    res = gs.moran(pts, fixture["edges"], "y_cont", "r", permutations=99, seed=11)
    assert res["I"] > 0.5
    assert res["p_sim"] == pytest.approx(1.0 / 100.0)


def test_global_without_broadcast_joins(fixture, monkeypatch):
    # the distributed plans carry no broadcast hint on n-sized value
    # frames: with broadcast joins off they give the default values
    from esda_spark.plans import gate

    pts, edges = fixture["pts"], fixture["edges"]
    spark = pts.sparkSession
    keys = ("bb", "ww", "bw", "J", "chi2", "chi2_p")
    want_m = gs.moran(pts, edges, "y_cont", "r")
    want_j = gs.join_counts(pts, edges, "y_bin")
    monkeypatch.setitem(gate.LIMITS, "stat_rows", 0)
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        got_m = gs.moran(pts, edges, "y_cont", "r")
        got_j = gs.join_counts(pts, edges, "y_bin")
    finally:
        spark.conf.set(conf, old)
    assert got_m == pytest.approx(want_m, rel=1e-12)
    assert {k: got_j[k] for k in keys} == {k: want_j[k] for k in keys}
