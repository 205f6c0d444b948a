"""Hierarchical grid-cell index (H3/S2 stand-in) as pure Catalyst expressions.

The reference (pysal/esda) relies on in-memory KDTree / rtree indexes
(``adbscan.py:13``, ``topo.py:130``, ``correlogram.py:147``) for
candidate generation.  At cluster scale the equivalent is a *cell key*
column: a uniform square grid at a chosen resolution, computed with
built-in column functions only (JVM-side, whole-stage codegen, no
Python).  Candidate generation for kNN / distance-band / PIP joins is
then an equi-join on the cell key after exploding a (2R+1)^2 ring of
neighbor offsets — a broadcastable generated relation.

Cell ids are a single BIGINT ``(cx << 32) | cy`` so the shuffle key is
a fixed-width integer, not a string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# World bounds used by the deterministic geocoder (degrees).
X_MIN, X_MAX = -180.0, 180.0
Y_MIN, Y_MAX = -90.0, 90.0

_CY_BITS = 32


def cell_xy(x: Column, y: Column, cell_size: float) -> tuple[Column, Column]:
    """Integer grid coordinates of a point at ``cell_size`` resolution."""
    cx = F.floor(x / F.lit(float(cell_size))).cast("long")
    cy = F.floor(y / F.lit(float(cell_size))).cast("long")
    return cx, cy


def cell_key(x: Column, y: Column, cell_size: float) -> Column:
    """Pack grid coordinates into one BIGINT shuffle key.

    Offsets by 2^20 keep both coordinates non-negative for any
    cell_size >= ~0.0004 degrees over world bounds.
    """
    cx, cy = cell_xy(x, y, cell_size)
    return pack_cell(cx, cy)


def pack_cell(cx: Column, cy: Column) -> Column:
    return F.shiftleft(cx + F.lit(1 << 20), _CY_BITS) + (cy + F.lit(1 << 20))


def with_cell(df: DataFrame, cell_size: float, x: str = "x", y: str = "y",
              out: str = "cell") -> DataFrame:
    """Attach packed cell key plus raw grid coords (cx, cy)."""
    cx, cy = cell_xy(F.col(x), F.col(y), cell_size)
    return (
        df.withColumn("cx", cx)
        .withColumn("cy", cy)
        .withColumn(out, pack_cell(F.col("cx"), F.col("cy")))
    )


def expand_ring(df: DataFrame, radius: int, out: str = "cell") -> DataFrame:
    """Explode each row into its (2R+1)^2 ring of candidate cells.

    Requires ``cx``/``cy`` columns (see :func:`with_cell`).  Uses an
    inline ``explode(transform(sequence(...)))`` rather than a join so
    the expansion stays inside one whole-stage-codegen span.
    """
    r = int(radius)
    offs = F.explode(
        F.expr(
            f"flatten(transform(sequence(-{r}, {r}), dx -> "
            f"transform(sequence(-{r}, {r}), dy -> struct(dx, dy))))"
        )
    ).alias("off")
    return (
        df.select("*", offs)
        .withColumn(out, pack_cell(F.col("cx") + F.col("off.dx"),
                                   F.col("cy") + F.col("off.dy")))
        .drop("off")
    )


def expand_ring_col(df: DataFrame, rad_col: str = "rad",
                    out: str = "cell") -> DataFrame:
    """Per-row ring expansion: each row explodes into its own
    (2*rad+1)^2 candidate cells, so rows at different search radii
    (e.g. quadtree density levels) expand in ONE job instead of one
    job per radius value.  Requires ``cx``/``cy`` and ``rad_col``."""
    offs = F.explode(
        F.expr(
            f"flatten(transform(sequence(-{rad_col}, {rad_col}), dx -> "
            f"transform(sequence(-{rad_col}, {rad_col}), dy -> "
            "struct(dx, dy))))"
        )
    ).alias("off")
    return (
        df.select("*", offs)
        .withColumn(out, pack_cell(F.col("cx") + F.col("off.dx"),
                                   F.col("cy") + F.col("off.dy")))
        .drop("off")
    )


def unpack_cell(cell: Column) -> tuple[Column, Column]:
    """Inverse of :func:`pack_cell`: BIGINT key -> (cx, cy) grid coords."""
    cx = F.shiftright(cell, _CY_BITS) - F.lit(1 << 20)
    cy = cell.bitwiseAND(F.lit((1 << _CY_BITS) - 1)) - F.lit(1 << 20)
    return cx, cy


def cell_parent(cell: Column, levels: int = 1) -> Column:
    """Ancestor cell key ``levels`` up the dyadic hierarchy (the H3
    ``cell_to_parent`` analogue; each level halves the resolution =
    doubles the cell size).  Arithmetic shift right is floor division
    by 2^levels, exact for negative grid coords too."""
    cx, cy = unpack_cell(cell)
    return pack_cell(F.shiftright(cx, levels), F.shiftright(cy, levels))


def cell_children(cell: Column, levels: int = 1) -> Column:
    """Array of all 4^levels descendant cell keys ``levels`` down the
    hierarchy (H3 ``cell_to_children``)."""
    cx, cy = unpack_cell(cell)
    side = 1 << levels
    kids = []
    for dx in range(side):
        for dy in range(side):
            kids.append(pack_cell(
                F.shiftleft(cx, levels) + F.lit(dx),
                F.shiftleft(cy, levels) + F.lit(dy),
            ))
    return F.array(*kids)


def cell_kring(cell: Column, k: int = 1) -> Column:
    """Array of cell keys within Chebyshev distance ``k`` (the H3
    ``grid_disk`` / k-ring analogue), the cell itself included."""
    cx, cy = unpack_cell(cell)
    ring = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            ring.append(pack_cell(cx + F.lit(dx), cy + F.lit(dy)))
    return F.array(*ring)
