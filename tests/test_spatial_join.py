import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from esda_spark.operators.spatial_join import (
    knn_join,
    overlay_areas,
    overlay_entropy_stats,
    point_in_polygon,
    raster_vector_tiling,
)
from esda_spark.sources.polygons import (
    grid_tiling,
    rotated_assignment_params,
    rotated_tiling,
)

BBOX = (0.0, 0.0, 10.0, 10.0)


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(11)
    xy = rng.uniform(0.2, 9.8, size=(200, 2))
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id long, x double, y double",
    )
    return xy, df


def test_pip_axis_aligned_exact(spark, pts):
    xy, df = pts
    polys = grid_tiling(spark, 5, BBOX)
    got = {r.id: r.poly_id for r in point_in_polygon(df, polys, 2.0).collect()}
    assert len(got) == len(xy)
    for i, (x, y) in enumerate(xy):
        want = int(y // 2) * 5 + int(x // 2)
        assert got[i] == want, (i, x, y)


def test_pip_rotated_exact(spark, pts):
    xy, df = pts
    theta = 0.3
    polys = rotated_tiling(spark, 6, BBOX, theta=theta)
    p = rotated_assignment_params(6, BBOX, theta=theta)
    got = {r.id: r.poly_id for r in point_in_polygon(df, polys, 3.0).collect()}
    assert len(got) == len(xy)
    for i, (x, y) in enumerate(xy):
        u = (x - p["cx"]) * p["cos_t"] + (y - p["cy"]) * p["sin_t"]
        v = -(x - p["cx"]) * p["sin_t"] + (y - p["cy"]) * p["cos_t"]
        want = int(math.floor((v + p["half"]) / p["s"])) * 6 + int(
            math.floor((u + p["half"]) / p["s"])
        )
        assert got[i] == want, (i, x, y)


def test_knn_join_exact(spark, pts):
    xy, df = pts
    rng = np.random.default_rng(5)
    q_xy = rng.uniform(1, 9, size=(20, 2))
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(q_xy)],
        "id long, x double, y double",
    )
    res = knn_join(q, df, k=3, cell_size=1.5).collect()
    got = {}
    for r in res:
        got.setdefault(r.left_id, []).append((r.rank, r.right_id))
    for i, (x, y) in enumerate(q_xy):
        d2 = ((xy - (x, y)) ** 2).sum(axis=1)
        want = [j for _, j in sorted((d2[j], j) for j in range(len(xy)))[:3]]
        assert [j for _, j in sorted(got[i])] == want


def test_overlay_areas_partition(spark):
    a = grid_tiling(spark, 2, BBOX)   # 4 tiles of 25
    b = grid_tiling(spark, 5, BBOX)   # 25 tiles of 4
    ov = overlay_areas(a, b, 2.0)
    rows = ov.collect()
    total = sum(r.area for r in rows)
    assert total == pytest.approx(100.0)
    # each 2x2 b-tile intersects exactly one or two/four a-tiles with
    # total area 4
    per_b = {}
    for r in rows:
        per_b[r.b_id] = per_b.get(r.b_id, 0.0) + r.area
    assert all(abs(v - 4.0) < 1e-9 for v in per_b.values())


def test_overlay_entropy_stats(spark):
    a = grid_tiling(spark, 2, BBOX)
    # identical partitions -> v-measure 1
    res = overlay_entropy_stats(a, grid_tiling(spark, 2, BBOX), 5.0)
    assert res["external_entropy"] == pytest.approx(1.0)
    assert res["completeness"] == pytest.approx(1.0)
    # nested partition: every 4x4 b-tile is inside exactly one 2x2 a-tile
    # -> completeness(a,b)=... homogeneity=1 direction check
    res2 = overlay_entropy_stats(a, grid_tiling(spark, 4, BBOX), 2.5)
    assert 0 < res2["external_entropy"] < 1
    assert res2["homogeneity"] == pytest.approx(1.0)


def test_raster_vector_tiling(spark):
    polys = grid_tiling(spark, 2, BBOX)
    res = raster_vector_tiling(polys, BBOX, nx=8, ny=8, cell_size=5.0)
    rows = res.collect()
    assert len(rows) == 64
    counts = {}
    for r in rows:
        counts[r.poly_id] = counts.get(r.poly_id, 0) + 1
    assert counts == {0: 16, 1: 16, 2: 16, 3: 16}


def test_pip_gate_bounds_vertices(spark, pts, monkeypatch):
    """The PIP broadcast gate bounds total polygon vertices, not rings:
    a layer under the ring count but over the vertex count takes the
    carry-the-arrays path, with the same rows."""
    from esda_spark.plans import gate

    _, df = pts
    polys = rotated_tiling(spark, 3, BBOX, theta=0.3)  # 9 rings, 36 vertices

    def run():
        out = point_in_polygon(df, polys, 3.0)
        plan = out._jdf.queryExecution().analyzed().toString()
        return sorted(tuple(r) for r in out.collect()), plan

    bcast, plan = run()
    assert "refine_bc(" in plan
    monkeypatch.setitem(gate.LIMITS, "pip", 35)
    carried, plan = run()
    assert "refine_bc(" not in plan and "refine(" in plan
    assert carried == bcast and len(bcast) == 200
