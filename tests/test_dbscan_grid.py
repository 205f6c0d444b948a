"""Grid-DBSCAN (dense-cell contraction) parity with a brute-force
numpy DBSCAN — identical (id -> cluster) maps, not just identical
partitions, since both label components by their minimum point id."""

import numpy as np
import pytest

from tests import oracle_numpy as onp


def _run_both(spark, xy, eps, min_samples):
    from esda_spark.operators.adbscan import dbscan

    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    )
    grid = {r.id: r.cluster
            for r in dbscan(pts, eps, min_samples).collect()}
    return grid, onp.brute_dbscan(xy, eps, min_samples)


def test_grid_parity_uniform(spark):
    rng = np.random.default_rng(5)
    xy = rng.uniform(0, 30, size=(500, 2))
    grid, want = _run_both(spark, xy, eps=1.2, min_samples=4)
    assert grid == want


def test_grid_parity_hot_blobs_with_border_and_noise(spark):
    """The case the contraction exists for: dense near-clique blobs
    (all points in one eps/2 cell), blob periphery, border points
    attached to multiple blobs, and isolated noise."""
    rng = np.random.default_rng(7)
    blob_a = rng.normal((0.0, 0.0), 0.08, size=(300, 2))
    blob_b = rng.normal((1.1, 0.0), 0.08, size=(300, 2))  # near blob_a
    blob_c = rng.normal((20.0, 20.0), 0.3, size=(120, 2))
    sparse = rng.uniform(-5, 25, size=(150, 2))
    noise = np.array([[100.0, 100.0], [-50.0, -50.0]])
    xy = np.vstack([blob_a, blob_b, blob_c, sparse, noise])
    grid, want = _run_both(spark, xy, eps=0.5, min_samples=10)
    assert grid == want
    # sanity: the two near blobs must have produced real clusters
    assert len({v for v in grid.values() if v != -1}) >= 2


def test_grid_parity_exact_eps_lattice(spark):
    """Inclusive d <= eps semantics: lattice neighbors sit at exactly
    eps, so any strict-inequality drift between the paths shows up."""
    xy = np.array([(float(i), float(j)) for i in range(6)
                   for j in range(6)])
    grid, want = _run_both(spark, xy, eps=1.0, min_samples=4)
    assert grid == want
    # one lattice-wide cluster (labelled 1: corners have only 2
    # orthogonal neighbors at eps, so point 0 is border, not core)
    assert set(grid.values()) == {1}


@pytest.mark.parametrize("ms", [1, 2])
def test_grid_parity_tiny_min_samples(spark, ms):
    rng = np.random.default_rng(9)
    xy = np.vstack([
        rng.normal((0, 0), 0.05, size=(8, 2)),
        np.array([[5.0, 5.0]]),
    ])
    grid, want = _run_both(spark, xy, eps=0.3, min_samples=ms)
    assert grid == want


def test_grid_parity_cell_pair_not_connected(spark):
    """Two dense cells adjacent in the grid whose point sets never
    cross eps (points pulled to opposite corners) must stay separate
    clusters — exercises the existence kernel's negative branch."""
    rng = np.random.default_rng(11)
    eps = 1.0  # g = 0.5
    # cell (0,0): points in [0.00, 0.05]^2; cell (2,0) x in [1.45, 1.50]
    # -> min crossing distance 1.40 > eps, but cells are ring-adjacent
    a = rng.uniform(0.0, 0.05, size=(20, 2))
    b = np.column_stack([rng.uniform(1.45, 1.50, 20),
                         rng.uniform(0.0, 0.05, 20)])
    xy = np.vstack([a, b])
    grid, want = _run_both(spark, xy, eps=eps, min_samples=5)
    assert grid == want
    assert len(set(grid.values())) == 2
