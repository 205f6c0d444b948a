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


def _check_knn_exact(spark, cases):
    for n, k in cases:
        xy, pts = _rand_points(spark, n=n)
        got = {(r.focal, r.neighbor) for r in knn_edges(pts, k=k).collect()}
        want = {tuple(e) for e in onp.brute_knn_edges(xy, k)}
        assert got == want, f"n={n} k={k}"


def test_knn_exact_vs_brute(spark):
    # default gate: the broadcast feeder
    _check_knn_exact(spark, ((120, 1), (120, 4), (120, 8), (60, 5)))


def test_knn_exact_vs_brute_tiled(spark, monkeypatch):
    # gate forced to 0: the tiled feeder
    from esda_spark.plans import gate

    monkeypatch.setitem(gate.LIMITS, "knn_targets", 0)
    _check_knn_exact(spark, ((120, 1), (120, 4), (120, 8), (60, 5)))


def test_knn_small_cell_forces_ring_expansion(spark, monkeypatch):
    # the kernel sizes its cells for ~k targets each: focals on the rim
    # of the point set do not settle in their first ring and go on
    # with a doubled radius
    from esda_spark.operators import knn_incore as KI

    xy, pts = _rand_points(spark, n=60)
    want = {tuple(e) for e in onp.brute_knn_edges(xy, 5)}
    got = {(r.focal, r.neighbor) for r in knn_edges(pts, k=5).collect()}
    assert got == want

    rads = []
    gather_ring = KI._gather_ring

    def spy(fx, fy, s, rad, sk, order):
        rads.append(rad)
        return gather_ring(fx, fy, s, rad, sk, order)

    monkeypatch.setattr(KI, "_gather_ring", spy)
    ids = np.arange(len(xy), dtype=np.int64)
    idx = KI.build_target_index(ids, xy[:, 0], xy[:, 1], 5)
    f, nb, _ = KI.knn_batch(ids, xy[:, 0], xy[:, 1], idx, 5, True, None)
    assert set(zip(f.tolist(), nb.tolist())) == want
    assert max(rads) >= 2


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


def test_knn_tiled_halo_rounds_and_brute_force(spark, monkeypatch):
    # gate off: the tiled feeder.  A hot cluster, a sparse field and two
    # far outliers in opposite corners: the grid cuts into several
    # tiles, the outliers fail every halo round (no widened tile covers
    # both corners) and finish in the brute-force pass
    from esda_spark.operators import knn_incore as KI
    from esda_spark.plans import gate

    monkeypatch.setitem(gate.LIMITS, "knn_targets", 0)
    seen = {"halos": [], "brute": 0}
    tile_round, brute_force = KI._tile_round, KI._brute_force

    def spy_round(foc_t, tgt, ship, covers, g2, *rest):
        seen["tiles"] = max(seen.get("tiles", 0), len(covers))
        seen["halos"].append(g2)
        return tile_round(foc_t, tgt, ship, covers, g2, *rest)

    def spy_brute(rest, *args):
        seen["brute"] = len(rest)
        return brute_force(rest, *args)

    monkeypatch.setattr(KI, "_tile_round", spy_round)
    monkeypatch.setattr(KI, "_brute_force", spy_brute)
    rng = np.random.default_rng(11)
    hot = rng.normal(loc=(5.0, 5.0), scale=0.05, size=(400, 2))
    sparse = rng.uniform(0, 100, size=(200, 2))
    xy = np.vstack([hot, sparse, [[1000.0, 1000.0], [-1000.0, -900.0]]])
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")

    got = {(r.focal, r.neighbor) for r in knn_edges(pts, k=8).collect()}
    assert got == {tuple(e) for e in onp.brute_knn_edges(xy, 8)}
    assert seen["tiles"] >= 2
    assert len(seen["halos"]) >= 2 and seen["halos"][1] > seen["halos"][0]
    assert seen["brute"] == 2
