"""Numpy-parity tests for boundary_silhouette, path_silhouette, and the
pruned nearest_label (reference semantics: esda silhouettes.py)."""

import numpy as np
import pytest

from esda_spark.operators.silhouettes import (
    boundary_silhouette,
    nearest_label,
    path_silhouette,
)
from esda_spark.operators.weights import knn_edges


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(42)
    centers = [(0, 0), (6, 0), (0, 6), (6, 6)]
    xy = np.vstack([rng.normal(c, 1.8, size=(20, 2)) for c in centers])
    labels_np = np.repeat(np.arange(4), 20)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    )
    labs = spark.createDataFrame(
        [(int(i), int(v)) for i, v in enumerate(labels_np)],
        "id long, label int",
    )
    edges = knn_edges(pts, k=6)
    edges_np = {
        (r.focal, r.neighbor) for r in edges.select("focal", "neighbor").collect()
    }
    return xy, labels_np, pts, labs, edges, edges_np


def test_nearest_label_multicluster(spark, clustered):
    xy, labels_np, pts, labs, _, _ = clustered
    res = {r.id: (r.nearest_label, r.dissim)
           for r in nearest_label(pts, labs, ["x", "y"]).collect()}
    n = len(xy)
    for i in range(n):
        best = None
        for c in range(4):
            if c == labels_np[i]:
                continue
            mask = labels_np == c
            d = np.hypot(xy[mask, 0] - xy[i, 0], xy[mask, 1] - xy[i, 1])
            dmean = d.sum() / max(mask.sum() - 1, 1)
            if best is None or dmean < best[1]:
                best = (c, dmean)
        assert res[i][0] == best[0], i
        assert res[i][1] == pytest.approx(best[1], rel=1e-9)


def test_boundary_silhouette_vs_numpy(spark, clustered):
    xy, labels_np, pts, labs, edges, edges_np = clustered
    res = {r.id: r.boundary_silhouette
           for r in boundary_silhouette(pts, labs, edges, ["x", "y"]).collect()}
    n = len(xy)
    hit_boundary = 0
    for i in range(n):
        nbr_labels = {labels_np[j] for (f, j) in edges_np if f == i}
        cands = nbr_labels - {labels_np[i]}
        if not cands:
            assert res[i] == 0.0, i
            continue
        hit_boundary += 1
        own_mask = labels_np == labels_np[i]
        d = np.hypot(xy[:, 0] - xy[i, 0], xy[:, 1] - xy[i, 1])
        a = d[own_mask].sum() / (own_mask.sum() - 1)
        b = min(d[labels_np == c].mean() for c in cands)
        want = (b - a) / max(b, a)
        assert res[i] == pytest.approx(want, rel=1e-9), i
    assert hit_boundary > 0  # fixture actually exercises the boundary path


def _numpy_paths(xy, edges_np, n):
    D = np.full((n, n), np.inf)
    np.fill_diagonal(D, 0.0)
    for (i, j) in edges_np:
        d = float(np.hypot(*(xy[i] - xy[j])))
        D[i, j] = min(D[i, j], d)
        D[j, i] = min(D[j, i], d)
    for k in range(n):
        np.minimum(D, D[:, k, None] + D[None, k, :], out=D)
    return D


def test_path_silhouette_vs_numpy(spark, clustered):
    xy, labels_np, pts, labs, edges, edges_np = clustered
    n = len(xy)
    D = _numpy_paths(xy, edges_np, n)
    if not np.isfinite(D).all():
        pytest.skip("kNN graph disconnected; covered by multi-component test")
    out = {r.id: (r.path_silhouette, r.nbfc_label, r.nbfc_score)
           for r in path_silhouette(pts, labs, edges, ["x", "y"]).collect()}
    assert len(out) == n
    for i in range(n):
        own = labels_np == labels_np[i]
        a = D[i, own].sum() / (own.sum() - 1)
        b = min(D[i, labels_np == c].mean()
                for c in range(4) if c != labels_np[i])
        want = (b - a) / max(b, a)
        assert out[i][0] == pytest.approx(want, rel=1e-9), i
        masked = D[i].copy()
        masked[own] = np.inf
        j = int(np.argmin(masked))
        assert out[i][1] == labels_np[j], i
        assert out[i][2] == pytest.approx(masked[j], rel=1e-9)


def test_path_silhouette_closest_variant(spark, clustered):
    xy, labels_np, pts, labs, edges, edges_np = clustered
    n = len(xy)
    D = _numpy_paths(xy, edges_np, n)
    if not np.isfinite(D).all():
        pytest.skip("kNN graph disconnected")
    out = {r.id: r.path_silhouette
           for r in path_silhouette(pts, labs, edges, ["x", "y"],
                                    closest=True).collect()}
    for i in range(0, n, 7):
        own = labels_np == labels_np[i]
        a = D[i, own].mean()  # incl self, reference quirk
        masked = D[i].copy()
        masked[own] = np.inf
        b = masked.min()
        want = (b - a) / max(b, a)
        assert out[i] == pytest.approx(want, rel=1e-9), i


def test_path_silhouette_multi_component_zero_rule(spark):
    # two disjoint 6-cliques, 2 labels per component -> n_labels (2) fails
    # the reference's 2 < L < n-1 check -> psil 0, nbfc null, score inf
    rng = np.random.default_rng(3)
    xy = np.vstack([rng.normal((0, 0), 1, (6, 2)),
                    rng.normal((100, 100), 1, (6, 2))])
    labels_np = np.array([0, 0, 0, 1, 1, 1, 2, 2, 2, 3, 3, 3])
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    )
    labs = spark.createDataFrame(
        [(int(i), int(v)) for i, v in enumerate(labels_np)],
        "id long, label int",
    )
    e = [(i, j) for g in (range(0, 6), range(6, 12))
         for i in g for j in g if i != j]
    edges = spark.createDataFrame(e, "focal long, neighbor long")
    rows = path_silhouette(pts, labs, edges, ["x", "y"]).collect()
    assert len(rows) == 12
    for r in rows:
        assert r.path_silhouette == 0.0
        assert r.nbfc_label is None or np.isnan(r.nbfc_label)
        assert np.isinf(r.nbfc_score)
