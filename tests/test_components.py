"""Connected components (large-star/small-star) + same-draw kNN guards."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _uf_components(n_nodes, edges):
    """Reference union-find over python ints: {node: min-id component}."""
    parent = {}

    def find(a):
        while parent.get(a, a) != a:
            parent[a] = parent.get(parent[a], parent[a])
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    nodes = set()
    for a, b in edges:
        nodes.update((a, b))
        union(a, b)
    return {v: find(v) for v in nodes}


def _spark_components(spark, edges, **kw):
    from esda_spark.operators.components import connected_components

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges] or [(0, 0)],
        "focal long, neighbor long",
    )
    out = connected_components(df, **kw)
    return {r.id: r.component for r in out.collect()}


# incore_max_edges=0 forces the distributed star-contraction path;
# the default exercises the driver-side vectorized union-find
@pytest.mark.parametrize("incore", [None, 0])
@pytest.mark.parametrize("seed,n,m", [(1, 60, 40), (2, 200, 150),
                                      (3, 300, 600), (4, 50, 8)])
def test_components_match_union_find(spark, seed, n, m, incore):
    rng = np.random.default_rng(seed)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2))
             if a != b]
    want = _uf_components(n, edges)
    kw = {} if incore is None else {"incore_max_edges": incore}
    got = _spark_components(spark, edges, **kw)
    assert got == want


@pytest.mark.parametrize("incore", [None, 0])
def test_components_long_chain(spark, incore):
    """Path graph: diameter = n-1, so min-label propagation would need
    ~n rounds; the star contraction must finish inside its default
    iteration budget (O(log n))."""
    n = 3000
    edges = [(i, i + 1) for i in range(n - 1)]
    kw = {} if incore is None else {"incore_max_edges": incore}
    got = _spark_components(spark, edges, **kw)
    assert got == {i: 0 for i in range(n)}


def test_components_deterministic_and_empty(spark):
    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 120, size=(90, 2))
             if a != b]
    assert _spark_components(spark, edges) == _spark_components(spark, edges)
    from esda_spark.operators.components import connected_components

    empty = spark.createDataFrame([], "focal long, neighbor long")
    assert connected_components(empty).count() == 0
    assert connected_components(empty, incore_max_edges=0).count() == 0


@pytest.mark.parametrize("incore", [None, 0])
def test_components_self_loops_and_duplicates(spark, incore):
    kw = {} if incore is None else {"incore_max_edges": incore}
    got = _spark_components(spark, [(5, 5), (1, 2), (2, 1), (1, 2), (8, 9)],
                            **kw)
    assert got == {1: 1, 2: 1, 8: 8, 9: 8}


def test_components_unconverged_raises(spark):
    """Exhausting max_iterations without a certified star forest must
    raise, never emit labels from the unconverged edge set (ADVICE r4)."""
    from esda_spark.operators.components import connected_components

    n = 3000
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "focal long, neighbor long"
    )
    with pytest.raises(RuntimeError, match="star forest"):
        connected_components(df, max_iterations=1, incore_max_edges=0)


def test_knn_join_group_div_respects_groups(spark):
    """A focal whose nearest cross-group point is far closer than its
    own group's nearest must still match within its group (the fused-
    ADBSCAN same-draw guarantee, ADVICE r3)."""
    from esda_spark.operators.spatial_join import knn_join

    id_base = 100
    # group 0: focal 0 at x=0; its own group's only target sits at x=50.
    # group 1 (ids 100+) has a translated target at x=1 — nearer, wrong
    # group.
    left = spark.createDataFrame(
        [(0, 0.0, 0.0), (100, 200.0, 0.0)], "id long, x double, y double"
    )
    right = spark.createDataFrame(
        [(1, 50.0, 0.0), (101, 1.0, 0.0), (102, 201.0, 0.0)],
        "id long, x double, y double",
    )
    res = knn_join(left, right, k=1, group_div=id_base)
    got = {r.left_id: r.right_id for r in res.collect()}
    assert got == {0: 1, 100: 102}
    # without the constraint, focal 0 grabs the cross-group point
    res2 = knn_join(left, right, k=1)
    got2 = {r.left_id: r.right_id for r in res2.collect()}
    assert got2[0] == 101


def test_adbscan_rejects_unsafe_ids(spark):
    from esda_spark.operators.adbscan import adbscan

    pts = spark.createDataFrame(
        [(2**61, 0.0, 0.0), (1, 1.0, 1.0)], "id long, x double, y double"
    )
    with pytest.raises(ValueError, match="2\\^62"):
        adbscan(pts, eps=1.0, min_samples=2, reps=4)


def test_correlogram_knn_coincident_points(spark):
    """Duplicate coordinates: the d2=0 neighbor must rank FIRST (it was
    demoted to last by NULL inverse-distance weights, ADVICE r3)."""
    from esda_spark.operators.correlogram import correlogram

    rows = [(0, 0.0, 0.0, 1.0), (1, 0.0, 0.0, 5.0), (2, 3.0, 0.0, 2.0),
            (3, 6.0, 0.0, 8.0), (4, 6.0, 4.0, 3.0), (5, 10.0, 4.0, 4.0)]
    pts = spark.createDataFrame(rows, "id long, x double, y double, z double")
    out = correlogram(pts, "z", supports=[1], statistic="moran",
                      distance_type="knn")
    # expected knn(1) edges (ties broken by neighbor id): 0->1 (d=0),
    # 1->0 (d=0), 2->0 (three-way tie at d=3), 3->2, 4->3 (tie), 5->4
    z = np.array([1.0, 5.0, 2.0, 8.0, 3.0, 4.0])
    nbr = {0: 1, 1: 0, 2: 0, 3: 2, 4: 3, 5: 4}
    zc = z - z.mean()
    num = sum(zc[i] * zc[j] for i, j in nbr.items())
    want = (len(z) / len(nbr)) * num / (zc**2).sum()
    assert out[0]["I"] == pytest.approx(want, rel=1e-12)


def test_adbscan_checkpoint_resume(spark, tmp_path):
    """ADBSCAN with checkpoint_dir: a run killed after the labels stage
    must resume without re-running DBSCAN, and checkpointed output must
    equal the direct run."""
    import esda_spark.operators.adbscan as A
    from esda_spark.plans.checkpoint import read_manifest

    rng = np.random.default_rng(11)
    rows = []
    for cx, cy in [(0.0, 0.0), (30.0, 30.0)]:
        for i in range(60):
            rows.append((len(rows), cx + rng.normal(), cy + rng.normal()))
    pts = spark.createDataFrame(rows, "id long, x double, y double").cache()
    ck = str(tmp_path / "adb")

    direct = {r.id: (r.lbls, r.pct) for r in A.adbscan(
        pts, eps=2.5, min_samples=5, pct_exact=0.5, reps=4, seed=9,
        pct_thr=0.5).collect()}

    # first checkpointed run writes both stage manifests
    out1 = {r.id: (r.lbls, r.pct) for r in A.adbscan(
        pts, eps=2.5, min_samples=5, pct_exact=0.5, reps=4, seed=9,
        pct_thr=0.5, checkpoint_dir=ck, fingerprint="fx").collect()}
    m_lab = read_manifest(f"{ck}/labels")
    m_ext = read_manifest(f"{ck}/ext")
    assert m_lab and m_lab["rows"] > 0 and m_ext and m_ext["rows"] > 0
    assert out1 == direct

    # resume: dbscan must NOT run again (labels stage fingerprint hits)
    calls = {"n": 0}
    orig = A.dbscan

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    A.dbscan = counting
    try:
        out2 = {r.id: (r.lbls, r.pct) for r in A.adbscan(
            pts, eps=2.5, min_samples=5, pct_exact=0.5, reps=4, seed=9,
            pct_thr=0.5, checkpoint_dir=ck, fingerprint="fx").collect()}
    finally:
        A.dbscan = orig
    assert calls["n"] == 0
    assert out2 == direct
    # changing a parameter invalidates downstream stages
    A.adbscan(pts, eps=2.5, min_samples=5, pct_exact=0.5, reps=4,
              seed=10, pct_thr=0.5, checkpoint_dir=ck,
              fingerprint="fx").count()
    assert read_manifest(f"{ck}/labels")["fingerprint"] != m_lab["fingerprint"]
