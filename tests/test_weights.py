import numpy as np
import pytest
from pyspark.sql import functions as F

from esda_spark.operators.weights import (
    distance_band_edges,
    knn_edges,
    lattice_edges,
    summary_arrays,
    transform_weights,
    weights_summary,
)
from tests import oracle_numpy as onp


def _rand_points(spark, n=120, seed=7):
    rng = np.random.default_rng(seed)
    xy = rng.uniform(0, 100, size=(n, 2))
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)]
    return xy, spark.createDataFrame(rows, "id long, x double, y double")


def test_knn_exact_vs_brute(spark):
    xy, pts = _rand_points(spark)
    for k in (1, 4, 8):
        got = {
            (r.focal, r.neighbor)
            for r in knn_edges(pts, k=k, cell_size=12.0).collect()
        }
        want = {tuple(e) for e in onp.brute_knn_edges(xy, k)}
        assert got == want, f"k={k}"


def test_knn_small_cell_forces_ring_expansion(spark):
    # tiny cells => first ring almost never settles => exercises doubling
    xy, pts = _rand_points(spark, n=60)
    got = {
        (r.focal, r.neighbor)
        for r in knn_edges(pts, k=5, cell_size=1.0).collect()
    }
    want = {tuple(e) for e in onp.brute_knn_edges(xy, 5)}
    assert got == want


def test_distance_band_exact(spark):
    xy, pts = _rand_points(spark)
    got = {
        (r.focal, r.neighbor)
        for r in distance_band_edges(pts, threshold=9.0, cell_size=4.0).collect()
    }
    want = {tuple(e) for e in onp.brute_distance_band(xy, 9.0)}
    assert got == want


def test_lattice_rook_4x4(spark):
    # lat2W(4,4): corner cells have 2 neighbors, edges 3, interior 4
    e = lattice_edges(spark, 4, 4, rook=True)
    cards = {r.focal: r.c for r in e.groupBy("focal").agg(F.count("*").alias("c")).collect()}
    assert cards[0] == 2 and cards[5] == 4 and cards[1] == 3
    assert sum(cards.values()) == 48  # 2*edges = 2*24


def test_row_standardize_and_summary(spark):
    e = lattice_edges(spark, 4, 4, rook=True)
    r = transform_weights(e, "R")
    sums = r.groupBy("focal").agg(F.sum("weight").alias("s")).collect()
    assert all(abs(row.s - 1.0) < 1e-12 for row in sums)
    s = weights_summary(r)
    edges = np.array([(x.focal, x.neighbor) for x in e.collect()])
    w = onp.row_standardize(edges, np.ones(len(edges)))
    s0, s1, s2 = onp.s_values(16, edges, w)
    assert s["s0"] == pytest.approx(s0)
    assert s["s1"] == pytest.approx(s1)
    assert s["s2"] == pytest.approx(s2)


def test_summary_arrays_matches_weights_summary(spark):
    # asymmetric weights, one-way edges, a repeated edge and self-loops
    rows = [(0, 1, 1.0), (1, 0, 3.0), (1, 2, 0.5), (2, 2, 2.0),
            (3, 0, 1.5), (0, 0, 0.25), (2, 3, 4.0), (0, 1, 0.75)]
    e = spark.createDataFrame(rows, "focal long, neighbor long, weight double")
    a = np.array(rows)
    got = summary_arrays(a[:, 0].astype(np.int64), a[:, 1].astype(np.int64),
                         a[:, 2])
    assert got == pytest.approx(weights_summary(e), rel=1e-12)


def test_transform_styles(spark):
    e = lattice_edges(spark, 3, 3, rook=True)
    b = transform_weights(e, "B")
    assert all(r.weight == 1.0 for r in b.collect())
    d = transform_weights(e, "D")
    assert d.agg(F.sum("weight")).collect()[0][0] == pytest.approx(1.0)
    v = transform_weights(e, "V")
    assert v.agg(F.sum("weight")).collect()[0][0] == pytest.approx(9.0)


def test_polygon_contiguity_rotated_grid(spark):
    # contiguity from raw geometry is rotation-invariant: a rotated
    # tiling must produce the identical adjacency as the lattice
    from esda_spark.operators.weights import lattice_edges, polygon_contiguity
    from esda_spark.sources.polygons import rotated_tiling

    polys = rotated_tiling(spark, 5, (0.0, 0.0, 50.0, 50.0), theta=0.3)
    got_rook = {
        (r.focal, r.neighbor)
        for r in polygon_contiguity(polys, queen=False).collect()
    }
    got_queen = {
        (r.focal, r.neighbor)
        for r in polygon_contiguity(polys, queen=True).collect()
    }
    want_rook = {(r.focal, r.neighbor)
                 for r in lattice_edges(spark, 5, 5, rook=True).collect()}
    want_queen = {(r.focal, r.neighbor)
                  for r in lattice_edges(spark, 5, 5, rook=False).collect()}
    # rotated_tiling ids are col-major-or-row-major consistent with
    # grid ids: compare as sets after mapping id -> (row, col)
    def remap(pairs, ncols=5):
        return {((a // ncols, a % ncols), (b // ncols, b % ncols))
                for a, b in pairs}

    assert remap(got_rook) == remap(want_rook)
    assert remap(got_queen) == remap(want_queen)


def test_knn_flat_gate_parity_on_skewed_points(spark, monkeypatch):
    # skewed-but-small input: one hot cluster (hot cell > threshold)
    # plus a sparse field; the flat gate must pick a single level AND
    # produce the exact edge set the quadtree path produces
    from esda_spark.operators import weights as W
    from esda_spark.plans import gate

    # this test targets the DISTRIBUTED builder's flat-gate logic:
    # disable the in-core fast path so it actually runs
    monkeypatch.setitem(gate.LIMITS, "knn_targets", 0)

    rng = np.random.default_rng(11)
    hot = rng.normal(loc=(5.0, 5.0), scale=0.05, size=(400, 2))
    sparse = rng.uniform(0, 100, size=(200, 2))
    xy = np.vstack([hot, sparse])
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")

    cs = W._estimate_cell_size(pts.select("id", "x", "y"), 8)
    levels = W._density_levels(
        pts.select("id", "x", "y"), pts.select("id", "x", "y"), cs, 32, 12
    )
    assert [lv for lv, _ in levels] == [0], "flat gate should trigger"

    flat = knn_edges(pts, k=8, keep_d2=True)
    monkeypatch.setitem(gate.LIMITS, "flat_ring_pairs", 0)
    quad = W.knn_edges(pts, k=8, keep_d2=True)
    assert (
        flat.exceptAll(quad).count() + quad.exceptAll(flat).count() == 0
    )
    want = {tuple(e) for e in onp.brute_knn_edges(xy, 8)}
    got = {(r.focal, r.neighbor) for r in flat.collect()}
    assert got == want

def test_knn_flat_gate_budget_is_k_aware(spark, monkeypatch):
    # the flat gate's budget reflects what the settlement can absorb:
    # k>1 rows flow through a window sort (small budget), k=1 callers
    # aggregate map-side and pass a raised flat_budget.  Fixture volume
    # ~165k ring pairs sits between the two.
    from esda_spark.operators import weights as W
    from esda_spark.plans import gate

    rng = np.random.default_rng(11)
    hot = rng.normal(loc=(5.0, 5.0), scale=0.05, size=(400, 2))
    sparse = rng.uniform(0, 100, size=(200, 2))
    xy = np.vstack([hot, sparse])
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    base = pts.select("id", "x", "y")
    cs = W._estimate_cell_size(base, 8)

    monkeypatch.setitem(gate.LIMITS, "flat_ring_pairs", 100_000)
    # default (k>1 window-sort) budget: volume exceeds it -> refine
    levels = W._density_levels(base, base, cs, 32, 12)
    assert [lv for lv, _ in levels] != [0], "should refine above budget"
    # k=1-style caller: raised flat_budget (capped at 20x the module
    # default) absorbs the same volume -> flat
    levels1 = W._density_levels(base, base, cs, 32, 12,
                                flat_budget=int(2e8))
    assert [lv for lv, _ in levels1] == [0], "k=1 budget should stay flat"
    # a zero gate wins over any explicit flat_budget
    monkeypatch.setitem(gate.LIMITS, "flat_ring_pairs", 0)
    levels0 = W._density_levels(base, base, cs, 32, 12,
                                flat_budget=int(2e8))
    assert [lv for lv, _ in levels0] != [0], "budget 0 must always refine"
