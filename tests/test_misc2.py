import numpy as np
import pytest
from pyspark.sql import functions as F

from esda_spark.operators.rates import spatial_filtering
from esda_spark.operators.topo import isolation
from tests import oracle_numpy as onp


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(21)
    xy = rng.uniform(0, 40, size=(120, 2))
    v = rng.normal(10, 3, 120)
    e = rng.integers(1, 30, 120).astype(float)
    b = rng.integers(40, 200, 120).astype(float)
    df = spark.createDataFrame(
        [(int(i), float(x), float(y), float(v[i]), float(e[i]), float(b[i]))
         for i, (x, y) in enumerate(xy)],
        "id long, x double, y double, y_cont double, e double, b double",
    )
    return xy, v, e, b, df


def test_isolation_vs_brute(spark, pts):
    xy, v, _, _, df = pts
    res = {r.id: (r.isolation, r.nearest_higher)
           for r in isolation(df, "y_cont", cell_size=5.0).collect()}
    n = len(xy)
    for i in range(n):
        higher = [j for j in range(n) if v[j] > v[i]]
        if not higher:
            assert res[i][0] is None, i
            continue
        d = {j: np.hypot(*(xy[j] - xy[i])) for j in higher}
        want_j = min(d, key=lambda j: (d[j], j))
        assert res[i][1] == want_j, i
        assert res[i][0] == pytest.approx(d[want_j])


def test_spatial_filtering_fixed_radius(spark, pts):
    xy, _, e, b, df = pts
    bbox = (0.0, 0.0, 40.0, 40.0)
    res = spatial_filtering(df, bbox, 5, 5, radius=8.0).collect()
    assert len(res) == 25
    for r in res:
        mask = np.hypot(xy[:, 0] - r.x, xy[:, 1] - r.y) <= 8.0
        if mask.any():
            assert r.r == pytest.approx(e[mask].sum() / b[mask].sum())
        else:
            assert r.r is None


def test_spatial_filtering_pop(spark, pts):
    xy, _, e, b, df = pts
    bbox = (0.0, 0.0, 40.0, 40.0)
    res = spatial_filtering(df, bbox, 3, 3, pop=500.0).collect()
    assert len(res) == 9
    for r in res:
        d = np.hypot(xy[:, 0] - r.x, xy[:, 1] - r.y)
        order = np.argsort(d, kind="stable")
        ce, cb = e[order].cumsum(), b[order].cumsum()
        keep = cb <= 500.0
        if not keep.any():
            want = ce[0] / cb[0]
        else:
            last = np.nonzero(keep)[0].max()
            want = ce[last] / cb[last]
        assert r.r == pytest.approx(want), (r.gid,)


def test_moran_local_partial(spark, pts):
    from esda_spark.operators.local_stats import moran_local_partial
    from esda_spark.operators.weights import lattice_edges

    rng = np.random.default_rng(17)
    n = 36
    x1 = rng.normal(size=n)
    y = 1.5 * x1 + rng.normal(size=n)
    df = spark.createDataFrame(
        [(i, float(y[i]), float(x1[i])) for i in range(n)],
        "id long, y double, x1 double",
    )
    edges = lattice_edges(spark, 6, 6, rook=True)
    res = moran_local_partial(df, edges, "y", ["x1"], permutations=49, seed=3)
    rows = res.orderBy("id").collect()
    # numpy oracle for component values
    yc = (y - y.mean()) / y.std()
    xc = (x1 - x1.mean()) / x1.std()
    D = np.column_stack([np.ones(n), yc, xc])
    DtDi = np.linalg.inv(D.T @ D)
    edges_np = np.array([(r.focal, r.neighbor) for r in edges.collect()])
    w = onp.row_standardize(edges_np, np.ones(len(edges_np)))
    Wy = onp.lag(n, edges_np, w, yc)
    left = D @ DtDi
    for j in range(3):
        want = left[:, j] * Wy * (n - 1)
        got = np.array([getattr(r, f"lmo_{j}") for r in rows])
        np.testing.assert_allclose(got, want, rtol=1e-9)
        p = np.array([getattr(r, f"p_sim_{j}") for r in rows])
        assert ((p > 0) & (p <= 1)).all()


def test_by_col(spark, pts):
    from esda_spark.operators.local_stats import by_col, moran_local
    from esda_spark.operators.weights import knn_edges

    _, _, _, _, df = pts
    edges = knn_edges(df.select("id", "x", "y"), k=4)
    out = by_col(df, edges, moran_local, ["y_cont", "e"], permutations=0)
    cols = set(out.columns)
    assert "y_cont_moran_local_Is" in cols and "e_moran_local_Is" in cols
    assert out.count() == df.count()


def test_silhouette_alist_and_nearest_label(spark):
    from esda_spark.operators.silhouettes import nearest_label, silhouette_alist
    from esda_spark.operators.weights import knn_edges

    rng = np.random.default_rng(13)
    a = rng.normal((0, 0), 1.0, size=(30, 2))
    b = rng.normal((10, 0), 1.0, size=(30, 2))
    xy = np.vstack([a, b])
    labels_np = np.array([0] * 30 + [1] * 30)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    )
    labs = spark.createDataFrame(
        [(int(i), int(l)) for i, l in enumerate(labels_np)],
        "id long, label int",
    )
    edges = knn_edges(pts, k=5)
    sil = silhouette_alist(pts, labs, edges, ["x", "y"]).collect()
    # numpy oracle per edge
    for r in sil[:50]:
        i = r.focal
        if r.label_focal == r.label_neighbor:
            assert r.silhouette == 0.0
            continue
        d = np.hypot(xy[:, 0] - xy[i, 0], xy[:, 1] - xy[i, 1])
        own = d[labels_np == r.label_focal].mean()
        other = d[labels_np == r.label_neighbor].mean()
        want = (other - own) / max(other, own)
        assert r.silhouette == pytest.approx(want, rel=1e-9)
    nl = {r.id: (r.nearest_label, r.dissim)
          for r in nearest_label(pts, labs, ["x", "y"]).collect()}
    # with 2 well-separated clusters, nearest alternative is the other one
    for i in range(60):
        assert nl[i][0] == (1 - labels_np[i])
        d = np.hypot(xy[:, 0] - xy[i, 0], xy[:, 1] - xy[i, 1])
        other_mask = labels_np == (1 - labels_np[i])
        want = d[other_mask].sum() / max(other_mask.sum() - 1, 1)
        assert nl[i][1] == pytest.approx(want, rel=1e-9)


def test_np_mixture_smoother(spark):
    from esda_spark.operators.mixture import np_mixture_smoother

    rng = np.random.default_rng(7)
    n = 200
    # two latent rate groups
    theta = np.where(rng.random(n) < 0.5, 0.02, 0.10)
    b = rng.integers(200, 1000, n).astype(float)
    e = rng.poisson(b * theta).astype(float)
    pts = spark.createDataFrame(
        [(int(i), float(e[i]), float(b[i])) for i in range(n)],
        "id long, e double, b double",
    )
    res = np_mixture_smoother(pts, k=30).orderBy("id").collect()
    r = np.array([row.r for row in res])
    assert np.isfinite(r).all()
    # smoothing: posterior rates closer to the true rates than raw ones
    raw = e / b
    assert np.abs(r - theta).mean() <= np.abs(raw - theta).mean() + 1e-9
    # shrinks toward the two modes
    lo = r[theta == 0.02].mean()
    hi = r[theta == 0.10].mean()
    assert 0.01 < lo < 0.05 < hi < 0.15


def test_choynowski_reference_golden(spark):
    # reference doctest (smoothing.py:470-527): 2 regions x 4 age groups
    from esda_spark.operators.rates import choynowski

    e = [30, 25, 25, 15, 33, 21, 30, 20]
    b = [100, 100, 110, 90, 100, 90, 110, 90]
    rows = [(i // 4, float(e[i]), float(b[i])) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, e double, b double")
    res = {r.id: r.p for r in choynowski(df).collect()}
    assert round(res[0], 3) == 0.304
    assert round(res[1], 3) == 0.294


def test_direct_age_standardization_ci(spark):
    # reference doctest rates (smoothing.py:228-300): 0.0237 / 0.0267;
    # gamma CI formulas re-derived in numpy on the same mathx quantiles
    from esda_spark.functions.mathx import gamma_ppf
    from esda_spark.operators.rates import direct_age_standardization_ci

    e = np.array([30, 25, 25, 15, 33, 21, 30, 20], float)
    b = np.array([1000, 1000, 1100, 900, 1000, 900, 1100, 900], float)
    s = np.array([1000, 900, 1000, 900, 1000, 900, 1000, 900], float)
    rows = [(i // 4, float(e[i]), float(b[i]), float(s[i])) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, e double, b double, s double")
    res = {r.id: (r.rate, r.lower, r.upper)
           for r in direct_age_standardization_ci(df).collect()}
    assert round(res[0][0], 4) == 0.0237
    assert round(res[1][0], 4) == 0.0267
    for u in (0, 1):
        sl = slice(u * 4, u * 4 + 4)
        S = s[sl].sum()
        aw = (1.0 / b[sl]) * (s[sl] / S)
        rate = (e[sl] * aw).sum()
        var = (e[sl] * aw * aw).sum()
        k = aw.max()
        lo = float(gamma_ppf(0.025, rate * rate / var, var / rate))
        hi = float(gamma_ppf(0.975, (rate + k) ** 2 / (var + k * k),
                             (var + k * k) / (rate + k)))
        assert res[u][1] == pytest.approx(lo, rel=1e-9)
        assert res[u][2] == pytest.approx(hi, rel=1e-9)
        assert lo < res[u][0] < hi


def test_indirect_age_standardization_ci(spark):
    from esda_spark.operators.rates import indirect_age_standardization_ci

    e = [30, 25, 25, 15, 33, 21, 30, 20]
    b = [100, 100, 110, 90, 100, 90, 110, 90]
    s_e = [100, 45, 120, 100, 50, 30, 200, 80]
    s_b = [1000, 900, 1000, 900, 1000, 900, 1000, 900]
    rows = [(i // 4, float(e[i]), float(b[i]), float(s_e[i]), float(s_b[i]))
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "id long, e double, b double, s_e double, s_b double")
    res = {r.id: (r.rate, r.lower, r.upper)
           for r in indirect_age_standardization_ci(df).collect()}
    # reference doctest rates (smoothing.py:313-396)
    assert res[0][0] == pytest.approx(0.23723821989528798)
    assert res[1][0] == pytest.approx(0.2610803324099723)
    for u in (0, 1):
        assert res[u][1] < res[u][0] < res[u][2]
    # log-normal interval re-derivation
    smr0 = sum(e[:4]) / sum(bb * se / sb for bb, se, sb
                            in zip(b[:4], s_e[:4], s_b[:4]))
    s_r_all = sum(s_e) / sum(s_b)
    z = 1.959963984540054
    sd = 1.0 / np.sqrt(sum(e[:4]))
    assert res[0][1] == pytest.approx(
        np.exp(np.log(smr0) - z * sd) * s_r_all, rel=1e-9)


def test_indirect_age_standardization(spark):
    from esda_spark.operators.rates import (
        indirect_age_standardization,
        indirect_age_standardization_ci,
    )

    e = [30, 25, 25, 15, 33, 21, 30, 20]
    b = [100, 100, 110, 90, 100, 90, 110, 90]
    s_e = [100, 45, 120, 100, 50, 30, 200, 80]
    s_b = [1000, 900, 1000, 900, 1000, 900, 1000, 900]
    rows = [(i // 4, float(e[i]), float(b[i]), float(s_e[i]), float(s_b[i]))
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "id long, e double, b double, s_e double, s_b double")
    got = {r.id: r.rate for r in indirect_age_standardization(df).collect()}
    ci = {r.id: r.rate
          for r in indirect_age_standardization_ci(df).collect()}
    # reference doctest rates (smoothing.py:313-396)
    assert got[0] == pytest.approx(0.23723821989528798, rel=1e-12)
    assert got[1] == pytest.approx(0.2610803324099723, rel=1e-12)
    assert got == pytest.approx(ci, rel=1e-12)


def test_age_adjusted_smoother_vs_numpy(spark):
    from esda_spark.operators.rates import age_adjusted_smoother

    rng = np.random.default_rng(5)
    n, h = 6, 2
    e = rng.integers(1, 30, n * h).astype(float)
    b = rng.integers(50, 200, n * h).astype(float)
    s = rng.integers(50, 200, n * h).astype(float)
    # small ring graph + self edges (mirrors kernel diagonal)
    edges_l = [(i, (i + 1) % n) for i in range(n)]
    edges_l += [(j, i) for i, j in edges_l]
    edges_l += [(i, i) for i in range(n)]
    rows = [(i, a, float(e[i * h + a]), float(b[i * h + a]),
             float(s[i * h + a])) for i in range(n) for a in range(h)]
    df = spark.createDataFrame(rows, "id long, age int, e double, b double, s double")
    edges = spark.createDataFrame(edges_l, "focal long, neighbor long")
    res = {r.id: r.rate for r in age_adjusted_smoother(df, edges).collect()}
    # numpy oracle: binary slag per age group then direct standardization
    adj = {i: [i, (i + 1) % n, (i - 1) % n] for i in range(n)}
    for i in range(n):
        el = np.array([sum(e[j * h + a] for j in adj[i]) for a in range(h)])
        bl = np.array([sum(b[j * h + a] for j in adj[i]) for a in range(h)])
        si = s[i * h:(i + 1) * h]
        want = float(((el / bl) * (si / si.sum())).sum())
        assert res[i] == pytest.approx(want, rel=1e-9), i


def test_weighted_spatial_median_rate(spark):
    from esda_spark.operators.rates import spatial_median_rate

    # reference weighted_median doctest: d=[5,4,3,1,2], w=[10,22,9,2,5] -> 4
    d = [5.0, 4.0, 3.0, 1.0, 2.0]
    w = [10.0, 22.0, 9.0, 2.0, 5.0]
    pts = spark.createDataFrame(
        [(i, d[i], 1.0, w[i]) for i in range(5)],
        "id long, e double, b double, aw double",
    )
    # star graph: focal 0 neighbors everyone (closed adds self)
    edges = spark.createDataFrame(
        [(0, j) for j in range(1, 5)], "focal long, neighbor long")
    res = {r.id: r.smr for r in spatial_median_rate(
        pts, edges, out_col="smr", aw_col="aw").collect()}
    assert res[0] == pytest.approx(4.0)
    # exact-half boundary: two values, equal weights -> mean of both
    pts2 = spark.createDataFrame(
        [(0, 1.0, 1.0, 1.0), (1, 3.0, 1.0, 1.0)],
        "id long, e double, b double, aw double")
    edges2 = spark.createDataFrame([(0, 1), (1, 0)], "focal long, neighbor long")
    res2 = {r.id: r.smr for r in spatial_median_rate(
        pts2, edges2, out_col="smr", aw_col="aw").collect()}
    assert res2[0] == pytest.approx(2.0)
    assert res2[1] == pytest.approx(2.0)


def test_ann_recall_at_k(spark):
    from esda_spark.operators.similarity import (
        cosine_topk, lsh_topk, recall_at_k,
    )

    rng = np.random.default_rng(17)
    n, dim = 400, 16
    vecs = rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(emb, q, k=5)
    # self-recall is exactly 1
    assert recall_at_k(exact, exact, 5) == pytest.approx(1.0)
    approx = lsh_topk(emb, q, dim=dim, k=5, num_planes=4)
    r = recall_at_k(approx, exact, 5)
    assert 0.0 <= r <= 1.0
    # 4 planes -> 16 buckets over 400 vecs: recall should be well above 0
    assert r > 0.2, r


def test_prominence_chain_fixture(spark):
    # 1-D terrain 3-1-5-2-4 on a path graph, hand-traced through the
    # reference sweep (topo.py:170-377), plus a disconnected island
    from esda_spark.operators.topo import prominence, to_elevation

    vals = [3.0, 1.0, 5.0, 2.0, 4.0, 10.0]
    pts = spark.createDataFrame(
        [(i, vals[i]) for i in range(6)], "id long, y_cont double")
    chain = [(i, i + 1) for i in range(4)]
    edges = spark.createDataFrame(chain, "focal long, neighbor long")
    res = {r.id: r for r in prominence(pts, edges).collect()}
    assert res[2].classification == "peak"
    assert res[2].prominence == pytest.approx(3.0)   # 4 - keycol 1
    assert res[4].classification == "peak"
    assert res[4].prominence == pytest.approx(2.0)   # 3 - keycol 1
    assert res[0].classification == "peak"
    assert res[0].prominence == pytest.approx(2.0)   # 2 - keycol 0
    assert res[3].classification == "keycol"
    assert res[3].prominence == 0.0
    assert res[1].classification == "keycol"
    assert res[1].prominence == 0.0
    assert res[3].keycol == -1 and res[2].keycol == 3 and res[4].keycol == 3
    assert res[0].keycol == 1
    # island: own component, full elevation as prominence
    assert res[5].classification == "peak"
    assert res[5].prominence == pytest.approx(9.0)

    # to_elevation: 1-D shifts to zero-min; 2-D = distance from mean
    e1 = {r.id: r.elev for r in to_elevation(pts, ["y_cont"]).collect()}
    assert e1[1] == 0.0 and e1[5] == 9.0
    pts2 = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 2.0, 0.0), (2, 1.0, 1.0)],
        "id long, a double, b double")
    e2 = {r.id: r.elev for r in to_elevation(pts2, ["a", "b"]).collect()}
    center = np.array([1.0, 1.0 / 3])
    d = [np.linalg.norm(np.array(p) - center)
         for p in [(0, 0), (2, 0), (1, 1)]]
    want = np.array(d) - min(d)
    for i in range(3):
        assert e2[i] == pytest.approx(want[i], rel=1e-12)


def test_cluster_boundaries_alpha_shape(spark):
    from esda_spark.operators.adbscan import cluster_boundaries
    from esda_spark.operators.shape import ring_area

    # dense grid over an L-shape: alpha shape should hug the L (area
    # ~ L area), well below the convex hull area
    pts_l = [(x * 0.5, y * 0.5) for x in range(9) for y in range(9)
             if x <= 4 or y <= 4]
    # plus a separate dense square cluster far away
    pts_sq = [(20 + x * 0.5, 20 + y * 0.5) for x in range(5) for y in range(5)]
    allpts = pts_l + pts_sq
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(allpts)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    labels = spark.createDataFrame(
        [(i, 0 if i < len(pts_l) else 1) for i in range(len(allpts))]
        + [],
        "id long, cluster int",
    )
    res = {r.cluster: r for r in cluster_boundaries(pts, labels).collect()}
    a_l = ring_area(np.array(res[0].xs), np.array(res[0].ys))
    a_sq = ring_area(np.array(res[1].xs), np.array(res[1].ys))
    # L region: 4x4 + 4x2 ... actual union: x<=2 or y<=2 within 4x4 box
    l_area = 4.0 * 4.0 - 2.0 * 2.0   # big square minus missing notch
    assert a_l == pytest.approx(l_area, rel=0.15), a_l
    hull_area = 4.0 * 4.0  # convex hull of the L fills the box
    assert a_l < hull_area * 0.95
    assert a_sq == pytest.approx(4.0, rel=0.1), a_sq
    # every ring vertex is one of the cluster's own points
    ptset = {(round(p[0], 9), round(p[1], 9)) for p in pts_l}
    for x, y in zip(res[0].xs, res[0].ys):
        assert (round(x, 9), round(y, 9)) in ptset


def test_cluster_boundaries_noise_excluded(spark):
    from esda_spark.operators.adbscan import cluster_boundaries

    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 0.0, 1.0), (3, 99.0, 99.0)],
        "id long, x double, y double")
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, -1)], "id long, cluster int")
    rows = cluster_boundaries(pts, labels).collect()
    assert len(rows) == 1 and rows[0].cluster == 0
    assert len(rows[0].xs) == 3


def test_embedding_near_dup_lsh_recall(spark):
    from esda_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(31)
    dim, n_base = 32, 150
    base = rng.normal(size=(n_base, dim))
    # plant 40 near-duplicates: tiny perturbations of the first 40 rows
    dups = base[:40] + rng.normal(0, 0.02, size=(40, dim))
    vecs = np.vstack([base, dups])
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    exact = {(r.vec_a, r.vec_b) for r in embedding_near_dup_pairs(
        emb, threshold=0.95, mode="exact").collect()}
    assert len(exact) >= 40  # every planted pair qualifies
    for i in range(40):
        assert (i, n_base + i) in exact
    lsh = {(r.vec_a, r.vec_b) for r in embedding_near_dup_pairs(
        emb, threshold=0.95, mode="lsh", num_planes=8,
        num_tables=8).collect()}
    assert lsh <= exact  # LSH never invents pairs (exact verify step)
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, recall


def test_near_dup_groups_exact_and_lsh(spark):
    from esda_spark.operators.similarity import near_dup_groups

    rng = np.random.default_rng(47)
    dim, n_base = 32, 120
    base = rng.normal(size=(n_base, dim))
    # plant chains: rows 0..9 each get TWO perturbed copies, so the
    # transitive group must pull all three ids together even when the
    # copy-copy cosine alone might sit at the threshold edge
    d1 = base[:10] + rng.normal(0, 0.01, size=(10, dim))
    d2 = base[:10] + rng.normal(0, 0.01, size=(10, dim))
    vecs = np.vstack([base, d1, d2])
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.group_id, r.is_canonical) for r in near_dup_groups(
        emb, threshold=0.95, mode="exact").collect()}
    assert len(got) == len(vecs)  # singletons included
    for i in range(10):
        # base row i is the minimum id of its planted triple
        assert got[i] == (i, 1)
        assert got[n_base + i] == (i, 0)
        assert got[n_base + 10 + i] == (i, 0)
    # untouched base rows are their own canonical singleton group
    for i in range(20, 30):
        assert got[i] == (i, 1)
    # every group's canonical flag marks exactly the group minimum
    by_group = {}
    for vid, (gid, canon) in got.items():
        by_group.setdefault(gid, []).append((vid, canon))
    for gid, members in by_group.items():
        assert sorted(m for m, _ in members)[0] == gid
        assert {m for m, c in members if c == 1} == {gid}
    # the LSH scale path finds the same planted groups
    lsh = {r.vec_id: r.group_id for r in near_dup_groups(
        emb, threshold=0.95, mode="lsh", num_planes=6,
        num_tables=10).collect()}
    planted_ok = sum(
        1 for i in range(10)
        if lsh[i] == lsh[n_base + i] == lsh[n_base + 10 + i])
    assert planted_ok >= 9, planted_ok


def test_ann_multiprobe_and_clustered_recall(spark):
    from esda_spark.operators.similarity import (
        cosine_topk, lsh_topk, recall_at_k,
    )
    from esda_spark.sources.embeddings import synthetic_embeddings

    emb = synthetic_embeddings(
        spark, 3000, dim=32, clusters=60, noise=0.35
    ).cache()
    q = emb.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(emb, q, k=10).cache()
    exact.count()
    r0 = recall_at_k(
        lsh_topk(emb, q, dim=32, k=10, num_planes=8, num_tables=4,
                 multiprobe=0), exact, 10)
    r1 = recall_at_k(
        lsh_topk(emb, q, dim=32, k=10, num_planes=8, num_tables=4,
                 multiprobe=1), exact, 10)
    # Hamming-1 multiprobe strictly widens each probe set
    assert r1 >= r0
    # tuned defaults on planted-cluster data reach retrieval-grade recall
    assert r1 >= 0.8, (r0, r1)
    emb.unpersist()
    exact.unpersist()


def test_ivf_topk_recall(spark):
    from esda_spark.operators.similarity import (
        cosine_topk, ivf_topk, kmeans_fit, recall_at_k,
    )
    from esda_spark.sources.embeddings import synthetic_embeddings

    emb = synthetic_embeddings(
        spark, 3000, dim=32, clusters=30, noise=0.35
    ).cache()
    emb.count()
    centers = kmeans_fit(emb, k=30, max_iters=8, seed=3)
    assert centers.shape == (30, 32)
    # centers are unit-norm
    assert np.allclose(np.linalg.norm(centers, axis=1), 1.0)
    q = emb.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(emb, q, k=10).cache()
    exact.count()
    r1 = recall_at_k(ivf_topk(emb, q, centers, k=10, nprobe=1), exact, 10)
    r4 = recall_at_k(ivf_topk(emb, q, centers, k=10, nprobe=4), exact, 10)
    assert r4 >= r1
    assert r4 >= 0.85, (r1, r4)
    emb.unpersist()
    exact.unpersist()


def test_cosine_topk_distributed_parity(spark):
    """cosine_topk_distributed (both sides distributed, cogroup BLAS)
    must reproduce the broadcast path exactly: same (query, vec, rank)
    triples, sims equal to float64 round-trip."""
    from esda_spark.operators.similarity import (
        cosine_topk, cosine_topk_distributed,
    )

    rng = np.random.default_rng(23)
    n, dim = 500, 24
    vecs = rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    a = {(r.query_id, r.rank): (r.vec_id, r.sim)
         for r in cosine_topk(emb, q, k=7).collect()}
    b = {(r.query_id, r.rank): (r.vec_id, r.sim)
         for r in cosine_topk_distributed(emb, q, k=7, n_buckets=5)
         .collect()}
    assert set(a) == set(b)
    for key in a:
        assert a[key][0] == b[key][0], key
        assert a[key][1] == pytest.approx(b[key][1], rel=1e-12)


def test_topk_duplicate_vector_ties(spark):
    """Exact-tie robustness (ADVICE r4): with many duplicate corpus
    vectors tying at the cutoff, every kernel must keep the
    lowest-vec_id ties the final (sim desc, vec_id) window selects —
    and the bucketed result must not depend on n_buckets."""
    from esda_spark.operators.similarity import (
        cosine_topk, cosine_topk_distributed,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(4, 16))
    # 40 copies of each of 4 distinct vectors -> massive cutoff ties
    vecs = np.repeat(base, 40, axis=0)
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    q = emb.where(F.col("vec_id").isin([0, 40, 157])).select(
        F.col("vec_id").alias("query_id"), "embedding")
    want = {(r.query_id, r.rank): r.vec_id
            for r in cosine_topk(emb, q, k=10, arrow=False).collect()}
    got_arrow = {(r.query_id, r.rank): r.vec_id
                 for r in cosine_topk(emb, q, k=10).collect()}
    assert got_arrow == want
    for nb in (1, 3, 7):
        got = {(r.query_id, r.rank): r.vec_id
               for r in cosine_topk_distributed(emb, q, k=10, n_buckets=nb)
               .collect()}
        assert got == want, nb


def _clustered_2k(spark):
    """(corpus, queries): 2,000 x 24 clustered vectors, 30 queries."""
    from esda_spark.sources.embeddings import synthetic_embeddings

    emb = synthetic_embeddings(
        spark, 2000, dim=24, clusters=20, noise=0.35
    ).cache()
    emb.count()
    return emb, emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding")


def _assert_around_gate(monkeypatch, n, run):
    """``run()`` at ``ann_rows`` = n - 1 (above the gate: the cogroup
    slices) and n (in-core) gives the rows of the in-core run at
    10**9: equal (query_id, vec_id, rank), bit-equal sims."""
    from esda_spark.plans import gate

    def rows(limit):
        monkeypatch.setitem(gate.LIMITS, "ann_rows", limit)
        return sorted((r.query_id, r.vec_id, r.rank, r.sim)
                      for r in run().collect())

    want = rows(10**9)
    assert len(want) == 30 * 8
    for limit in (n - 1, n):
        got = rows(limit)
        assert [r[:3] for r in got] == [r[:3] for r in want], limit
        assert (np.array([r[3] for r in got]).view(np.int64)
                == np.array([r[3] for r in want]).view(np.int64)).all()


def test_ivf_topk_cogroup_parity(spark, monkeypatch):
    """ivf_topk's cogroup plan (probes never broadcast) matches its
    in-core rows at and around the ann_rows gate."""
    from esda_spark.operators.similarity import ivf_topk, kmeans_fit

    emb, q = _clustered_2k(spark)
    centers = kmeans_fit(emb, k=16, max_iters=6, seed=5)
    _assert_around_gate(monkeypatch, 2000, lambda: ivf_topk(
        emb, q, centers, k=8, nprobe=3))
    emb.unpersist()


def test_lsh_topk_cogroup_parity(spark, monkeypatch):
    """lsh_topk's per-slice kernel matches its in-core rows at and
    around the ann_rows gate."""
    from esda_spark.operators.similarity import lsh_topk

    emb, q = _clustered_2k(spark)
    _assert_around_gate(monkeypatch, 2000, lambda: lsh_topk(
        emb, q, dim=24, k=8, num_tables=4))
    emb.unpersist()


@pytest.mark.parametrize("case", ["gauss", "ties", "near", "extreme"])
def test_ivf_list_kernel_matches_all_pairs(case):
    """The IVF list kernel refolds only the pairs its BLAS matrix
    picks; its local top-k equals the top-k over every (query, member)
    pair's sequential fold, bit for bit — with integer-valued vectors
    (exact ties at the cutoff), members a hair apart (BLAS and the
    fold order them differently), a duplicate member, a zero member,
    shared query/member ids and norms outside [1e-100, 1e100]."""
    import pandas as pd

    from esda_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    C, Q = rng.normal(size=(60, 32)), rng.normal(size=(25, 32))
    if case == "ties":
        C, Q = np.round(C), np.round(Q)
    if case == "near":
        C = C[0] + C * 1e-15
        Q[5:] = C[0] + Q[5:] * 1e-3
    C[3], C[4] = C[2], 0.0
    if case == "extreme":
        C[5:8] *= 1e-120
        C[10:30] *= 1e154
        Q[6:10] *= 1e154
    cid = np.arange(60, dtype=np.int64)
    qid = np.r_[cid[:5], np.arange(100, 120)]
    cpdf = pd.DataFrame({"vec_id": cid, "cv": list(C)})
    qpdf = pd.DataFrame({"query_id": qid, "qv": list(Q)})
    qrow, crow = np.divmod(np.arange(25 * 60), 60)
    for k in (1, 4, 10):
        with np.errstate(over="ignore", invalid="ignore"):
            got = S._local_topk(S._list_pairs(cpdf, qpdf, k), k)
            want = S._local_topk(
                S._pair_sims(qid, Q, cid, C, qrow, crow), k)
        assert got[["query_id", "vec_id"]].equals(
            want[["query_id", "vec_id"]]), k
        assert (got.sim.to_numpy().view(np.int64)
                == want.sim.to_numpy().view(np.int64)).all(), k


def test_kmeans_fit_wide_dim(spark):
    """dim > 256 takes the Arrow partial-sum reduce (no dim-expression
    aggregate); centers still unit-norm and usable."""
    from esda_spark.operators.similarity import kmeans_fit
    from esda_spark.sources.embeddings import synthetic_embeddings

    emb = synthetic_embeddings(spark, 600, dim=300, clusters=6, noise=0.2)
    centers = kmeans_fit(emb, k=6, max_iters=4, seed=11)
    assert centers.shape == (6, 300)
    assert np.allclose(np.linalg.norm(centers, axis=1), 1.0)


def test_lsh_topk_auto_planes(spark):
    """num_planes=None sizes the signature from the corpus count and
    holds retrieval-grade recall on clustered data without tuning."""
    from esda_spark.operators.similarity import (
        auto_num_planes, cosine_topk, lsh_topk, recall_at_k,
    )
    from esda_spark.sources.embeddings import synthetic_embeddings

    assert auto_num_planes(20_000) == 10
    assert auto_num_planes(100_000) == 12
    assert auto_num_planes(10) == 4
    emb = synthetic_embeddings(
        spark, 3000, dim=32, clusters=60, noise=0.35
    ).cache()
    q = emb.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(emb, q, k=10).cache()
    exact.count()
    r = recall_at_k(
        lsh_topk(emb, q, dim=32, k=10, num_tables=8), exact, 10)
    assert r >= 0.9, r
    emb.unpersist()
    exact.unpersist()
