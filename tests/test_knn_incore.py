"""Cross-gate parity: every operator with an in-core path beside its
distributed plan returns the same rows on both sides of its gate.

The oracle only ever sees whichever side of the gate the driver data
lands on, so the cross-gate parity lives here, as ONE matrix: every
gated operator, times a shared set of degenerate inputs, run with the
operator's gate in :mod:`esda_spark.plans.gate` at infinity and at 0.
Each case either agrees bit-for-bit (a global statistic's scalars: to
1e-12 relative) or — where the two paths cannot agree — has both sides
raise."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from esda_spark.operators import global_stats as gs
from esda_spark.operators import weights as W
from esda_spark.plans import gate
from tests import oracle_numpy as onp

FIXTURES = ("empty", "one", "coincident", "duplicates", "ties")
DIM = 16
GROUP = 1000


def _skewed_xy(seed=11, n_hot=400, n_sparse=200, dups=True):
    """One hot cluster + sparse field + exact coordinate duplicates
    (the orders-table regime that broke the first fine-halving)."""
    rng = np.random.default_rng(seed)
    hot = rng.normal(loc=(5.0, 5.0), scale=0.05, size=(n_hot, 2))
    sparse = rng.uniform(0, 100, size=(n_sparse, 2))
    xy = np.vstack([hot, sparse])
    if dups:
        # 50 points stacked on one coordinate + 3 stacked pairs
        xy[:50] = xy[0]
        xy[100:106] = np.repeat(xy[100:103], 2, axis=0)
    return xy


def _xy(fixture):
    """Point coordinates; a point's id is its row index."""
    if fixture == "empty":
        return np.empty((0, 2))
    if fixture == "one":
        return np.array([[1.0, 1.0]])
    if fixture == "coincident":
        return np.array([[1.0, 1.0], [1.0, 1.0], [1.0, 1.0], [5.0, 5.0]])
    if fixture == "duplicates":
        return _skewed_xy()
    # ties: a unit lattice — every distance repeats, the neighbor id
    # breaks every tie
    g = np.arange(6, dtype=np.float64)
    return np.array([(x, y) for y in g for x in g])


def _points(spark, xy, ids=None, dx=0.0):
    ids = range(len(xy)) if ids is None else ids
    return spark.createDataFrame(
        [(int(i), float(x) + dx, float(y)) for i, (x, y) in zip(ids, xy)],
        "id long, x double, y double",
    )


def _vectors(fixture):
    rng = np.random.default_rng(9)
    if fixture == "empty":
        return np.empty((0, DIM))
    if fixture == "one":
        return rng.normal(size=(1, DIM))
    if fixture == "coincident":
        # identical vectors whose cosine is exactly 1 in any summation
        # order, plus one orthogonal pair
        v = np.zeros((8, DIM))
        v[:6, :4] = 1.0
        v[6, 4] = 3.0
        v[7, 5] = 2.0
        return v
    if fixture == "duplicates":
        base = rng.normal(size=(30, DIM))
        return np.vstack([base, base + 0.001 * rng.normal(size=(30, DIM)),
                          rng.normal(size=(40, DIM))])
    if fixture == "zero":
        # a zero-norm vector, as corpus row and as query: its cosine is
        # 0/0, so it is no pair's candidate on either side of the gate
        v = rng.normal(size=(12, DIM))
        v[5] = 0.0
        return v
    # ties: scaled one-hot vectors — every cosine is exactly 0 or 1
    return np.vstack([np.eye(DIM)[i % 4] * (1 + i // 4) for i in range(12)])


def _embeddings(spark, fixture):
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row])
         for i, row in enumerate(_vectors(fixture))],
        "vec_id long, embedding array<double>",
    )


def _queries(emb):
    return emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")


def _texts(fixture):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    if fixture == "empty":
        return []
    if fixture == "one":
        return [words]
    if fixture == "coincident":
        return [words] * 5 + ["lambda mu nu xi omicron pi rho sigma"]
    if fixture == "duplicates":
        return [f"alpha beta gamma delta epsilon zeta {i % 7} eta theta "
                f"iota kappa lambda mu nu xi omicron pi rho"
                for i in range(80)]
    # ties: each pair's shingle sets share 4 of 5 — jaccard exactly at
    # the 0.8 threshold
    out = []
    for j in range(4):
        toks = [f"w{j}_{t}" for t in range(7)]
        out += [" ".join(toks), " ".join(toks[:6])]
    return out


def _docs(spark, fixture):
    return spark.createDataFrame(
        list(enumerate(_texts(fixture))), "doc_id long, text string")


def _knn_edges(spark, fixture):
    return W.knn_edges(_points(spark, _xy(fixture)), k=8, keep_d2=True)


def _knn_idw(spark, fixture):
    return W.knn_edges(_points(spark, _xy(fixture)), k=2, binary=False)


def _knn_join(spark, fixture):
    from esda_spark.operators.spatial_join import knn_join

    xy = _xy(fixture)
    return knn_join(_points(spark, xy), _points(spark, xy[::2])
                    .select((F.col("id") * 2).alias("id"), "x", "y"), k=3)


def _knn_join_grouped(spark, fixture):
    """Same-group constraint: composite ids g*GROUP+i, matches must
    never cross groups even where another group's point is nearer."""
    from esda_spark.operators.spatial_join import knn_join

    xy = _xy(fixture)
    ids = [(i % 3) * GROUP + i for i in range(len(xy))]
    return knn_join(_points(spark, xy, ids), _points(spark, xy, ids, 0.5),
                    k=1, group_div=GROUP)


def _pip(spark, fixture):
    from esda_spark.operators.spatial_join import point_in_polygon
    from esda_spark.sources.polygons import grid_tiling

    polys = grid_tiling(spark, 4, (0.0, 0.0, 8.0, 8.0))
    if fixture == "empty":
        polys = polys.limit(0)
    return point_in_polygon(_points(spark, _xy(fixture)), polys, 2.0)


def _components(spark, fixture):
    from esda_spark.operators.components import connected_components

    xy = _xy(fixture)
    knn = [(int(a), int(b)) for a, b in onp.brute_knn_edges(xy, 2)]
    # both directions, repeats and self-loops
    edges = knn + [(b, a) for a, b in knn] + [(i, i) for i in range(len(xy))]
    return connected_components(spark.createDataFrame(
        edges, "focal long, neighbor long"))


def _cosine_topk(spark, fixture):
    from esda_spark.operators.similarity import cosine_topk

    emb = _embeddings(spark, fixture)
    # BLAS LSBs depend on the matrix shape: the operator's contract
    # (and the ann_topk oracle) is the id/rank projection
    return cosine_topk(emb, _queries(emb), k=5).select(
        "query_id", "vec_id", "rank")


def _lsh_topk(spark, fixture):
    from esda_spark.operators.similarity import lsh_topk

    emb = _embeddings(spark, fixture)
    # bitwise incl. sims: both sides run the same sequential fold
    return lsh_topk(emb, _queries(emb), dim=DIM, k=5, num_planes=5,
                    num_tables=4)


def _ivf_topk(spark, fixture):
    from esda_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark, fixture)
    centers = np.random.default_rng(3).normal(size=(4, DIM))
    return ivf_topk(emb, _queries(emb), centers, k=5, nprobe=2)


def _near_dup_groups(spark, fixture):
    from esda_spark.operators.similarity import near_dup_groups

    return near_dup_groups(_embeddings(spark, fixture), threshold=0.99,
                           mode="lsh", dim=DIM, num_planes=4, num_tables=4)


def _minhash_dedup_groups(spark, fixture):
    from esda_spark.operators.text import minhash_dedup_groups

    return minhash_dedup_groups(_docs(spark, fixture), threshold=0.8)


STAT_FIXTURES = ("island", "absent", "large_mean", "constant")


def _stat_inputs(spark, fixture):
    """(points, edges) of a global statistic: a 6 x 6 rook lattice
    with symmetric weights 1..3, a self-loop at 0 and an island (id 36,
    no edges); ``absent`` adds edges to and from id 99, which has no
    value row."""
    rng = np.random.default_rng(5)
    edges = [(0, 0, 2.0)]
    for i in range(36):
        r, c = divmod(i, 6)
        for j in (i - 6 if r else -1, i + 6 if r < 5 else -1,
                  i - 1 if c else -1, i + 1 if c < 5 else -1):
            if j >= 0:
                edges.append((i, j, 1.0 + (i + j) % 3))
    if fixture == "absent":
        edges += [(3, 99, 1.0), (99, 3, 2.0)]
    y = rng.normal(10, 3, 37)
    if fixture == "large_mean":
        y = 1e9 + rng.normal(0, 1, 37)
    if fixture == "constant":
        y = np.full(37, 2.0)
    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(y)], "id long, y_cont double")
    return pts, spark.createDataFrame(
        edges, "focal long, neighbor long, weight double")


def _stat(name, *args):
    """A global statistic's call: its result dict on the fixture."""
    return lambda spark, fixture: getattr(gs, name)(
        *_stat_inputs(spark, fixture), "y_cont", *args)


# operator -> (its gate, the call)
OPERATORS = {
    "knn_edges": ("knn_targets", _knn_edges),
    "knn_join": ("knn_targets", _knn_join),
    "point_in_polygon": ("pip", _pip),
    "connected_components": ("cc_edges", _components),
    "cosine_topk": ("ann_rows", _cosine_topk),
    "lsh_topk": ("ann_rows", _lsh_topk),
    "ivf_topk": ("ann_rows", _ivf_topk),
    "near_dup_groups": ("dedup_pairs", _near_dup_groups),
    "minhash_dedup_groups": ("dedup_pairs", _minhash_dedup_groups),
}
CASES = [(op, fx) for op in OPERATORS for fx in FIXTURES]
# the global statistics (scalars, not rows) on their own fixtures
STATS = {"moran": _stat("moran", "r"), "geary": _stat("geary", "r"),
         "getis_g": _stat("getis_g")}
OPERATORS.update({op: ("stat_rows", call) for op, call in STATS.items()})
CASES += [(op, fx) for op in STATS for fx in STAT_FIXTURES]
# variants on one fixture each: the k=1 same-group kNN join, the
# D/V-transformed probe of Moran, and the non-binary kNN weight
# 1/sqrt(d2) over a coincident pair — which is undefined, so both
# feeders must raise the kernel's error (as the global statistics must
# at constant y): case -> (in-core message, distributed message)
OPERATORS.update(knn_join_grouped=("knn_targets", _knn_join_grouped),
                 knn_idw=("knn_targets", _knn_idw),
                 moran_v=("stat_rows", _stat("moran", "v")))
BOTH_RAISE = {("knn_idw", "coincident"): ("coincident",) * 2}
BOTH_RAISE.update({(op, "constant"): ("division by zero",) * 2
                   for op in ("moran", "geary")})
# G is uncentered by definition: at constant y, and at |mean| >> spread
# where its raw-moment variance cancels below double precision, VG
# comes out non-positive on both sides
BOTH_RAISE.update({("getis_g", fx): ("getis_g: non-positive VG",) * 2
                   for fx in ("constant", "large_mean")})
CASES += [("knn_join_grouped", "duplicates"), ("moran_v", "island"),
          ("knn_idw", "coincident")]
# the ANN top-k over a zero-norm vector
CASES += [(op, "zero") for op in ("cosine_topk", "lsh_topk", "ivf_topk")]


def _run(spark, monkeypatch, op, fixture, limit):
    name, call = OPERATORS[op]
    monkeypatch.setitem(gate.LIMITS, name, limit)
    try:
        out = call(spark, fixture)
        if isinstance(out, dict):
            return out
        return sorted(tuple(r) for r in out.collect())
    except Exception as exc:  # noqa: BLE001 — compared across the gate
        return exc


@pytest.mark.parametrize("op,fixture", CASES)
def test_gate_parity(spark, monkeypatch, op, fixture):
    incore = _run(spark, monkeypatch, op, fixture, 10**9)
    dist = _run(spark, monkeypatch, op, fixture, 0)
    if (op, fixture) in BOTH_RAISE:
        for side, msg in zip((incore, dist), BOTH_RAISE[op, fixture]):
            assert isinstance(side, Exception), side
            assert msg in str(side)
        return
    for side in (incore, dist):
        if isinstance(side, Exception):
            raise side
    if isinstance(incore, dict):
        # at 1e9 the two sides' means (any two summation orders) differ
        # by an ulp, 1.2e-7, which moves I and the kurtosis by ~1e-7
        # relative; a cancelling raw-moment numerator is off by O(1)
        rel = 1e-6 if fixture == "large_mean" else 1e-12
        assert incore == pytest.approx(dist, rel=rel)
        return
    assert incore == dist
    if op == "knn_edges":
        want = {tuple(e) for e in onp.brute_knn_edges(_xy(fixture), 8)}
        assert {(f, n) for f, n, _, _ in incore} == want
    if op == "knn_join_grouped":
        assert all(a // GROUP == b // GROUP for a, b, _, _ in incore)
        assert len(incore) == len(_xy(fixture))


def test_incore_knn_nonbinary_weights(spark):
    xy = _skewed_xy(n_hot=80, n_sparse=60, dups=False)
    pts = _points(spark, xy)
    got = {(r.focal, r.neighbor): r.weight
           for r in W.knn_edges(pts, k=4, binary=False).collect()}
    for (f, n), w in got.items():
        d = np.sqrt(((xy[f] - xy[n]) ** 2).sum())
        assert w == pytest.approx(1.0 / d, rel=1e-12)


def test_incore_knn_tiny_and_degenerate(spark):
    # fewer targets than k: emit what exists; identical coordinates tie
    # on (d2, neighbor id)
    rows = [(0, 1.0, 1.0), (1, 1.0, 1.0), (2, 1.0, 1.0), (3, 5.0, 5.0)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    got = sorted((r.focal, r.neighbor)
                 for r in W.knn_edges(pts, k=8).collect())
    # every point gets the 3 others, ordered ties by id
    assert len(got) == 12
    assert (0, 1) in got and (0, 2) in got and (0, 3) in got


def _lsh_reference_pairs(emb, qp, dim, planes, seed, tables, multiprobe):
    """Set-based LSH candidates: (query_id, vec_id) pairs whose buckets
    are equal, or (multiprobe) one bit apart, in at least one table —
    self pairs excluded."""
    H = np.random.default_rng(seed).normal(size=(tables, planes, dim))
    pows = 1 << np.arange(planes)
    C = np.vstack(emb["cv"].to_numpy())
    Q = np.vstack(qp["qv"].to_numpy())
    hits, out = 0, set()
    for t in range(tables):
        cb = ((C @ H[t].T) > 0) @ pows
        qb = ((Q @ H[t].T) > 0) @ pows
        for qi, q in enumerate(qp["query_id"]):
            for ci, c in enumerate(emb["vec_id"]):
                dist = bin(int(qb[qi]) ^ int(cb[ci])).count("1")
                if q != c and dist <= multiprobe:
                    hits += 1
                    out.add((int(q), int(c)))
    return out, hits


@pytest.mark.parametrize("multiprobe", [0, 1])
def test_lsh_incore_candidate_set(multiprobe):
    """The in-core LSH candidates are exactly the set-based pairs, each
    once, in (query row, corpus row) order, with the sims of their
    vectors — not only the top-k that test_gate_parity compares."""
    from esda_spark.operators.similarity import _lsh_topk_incore

    rng = np.random.default_rng(5)
    dim, planes, tables, seed = 6, 3, 4, 9
    n = 90
    ids = 10**12 + 7 * rng.permutation(n)
    X = rng.normal(size=(4, dim))[rng.integers(0, 4, n)]
    X += 0.3 * rng.normal(size=(n, dim))
    emb = pd.DataFrame({"vec_id": ids, "cv": list(X)})
    qi = rng.choice(n, 25, replace=False)
    Y = X[qi[:20]]
    Y = np.vstack([Y, rng.normal(size=(5, dim))])  # 5 foreign queries
    qids = np.r_[ids[qi[:20]], 10**12 + 7 * n + np.arange(5)]
    qp = pd.DataFrame({"query_id": qids, "qv": list(Y)})

    want, hits = _lsh_reference_pairs(emb, qp, dim, planes, seed, tables,
                                      multiprobe)
    assert hits > len(want)  # pairs repeat across tables and probes
    q, v, sim = _lsh_topk_incore(emb, qp, dim, planes, seed, tables,
                                 multiprobe)
    got = list(zip(q.tolist(), v.tolist()))
    assert len(got) == len(set(got)) and set(got) == want
    row = {int(i): r for r, i in enumerate(ids)}
    qrow = {int(i): r for r, i in enumerate(qids)}
    keys = [(qrow[a], row[b]) for a, b in got]
    assert keys == sorted(keys)
    ref = np.array([Y[qrow[a]] @ X[row[b]]
                    / np.linalg.norm(Y[qrow[a]]) / np.linalg.norm(X[row[b]])
                    for a, b in got])
    np.testing.assert_allclose(sim, ref, rtol=1e-12)


def test_lsh_incore_no_candidates():
    """Empty sides, and a query whose only bucket mate is itself, give
    empty typed arrays."""
    from esda_spark.operators.similarity import _lsh_topk_incore

    one = pd.DataFrame({"vec_id": [10**12 + 7], "cv": [np.ones(4)]})
    q = one.rename(columns={"vec_id": "query_id", "cv": "qv"})
    none = one.iloc[:0]
    for emb, qp in ((one, q), (none, q), (one, q.iloc[:0])):
        out = _lsh_topk_incore(emb, qp, 4, 3, 1, 4, 1)
        assert [len(a) for a in out] == [0, 0, 0]
        assert [a.dtype for a in out] == [np.int64, np.int64, np.float64]
