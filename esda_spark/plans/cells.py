"""Grid-cell index (H3/S2 stand-in) as pure Catalyst expressions.

The reference (pysal/esda) relies on in-memory KDTree / rtree indexes
(``adbscan.py:13``, ``topo.py:130``, ``correlogram.py:147``) for
candidate generation.  At cluster scale the equivalent is a *cell key*
column: a uniform square grid at a chosen resolution, computed with
built-in column functions only (JVM-side, whole-stage codegen, no
Python).  Candidate generation for distance-band and PIP joins is
then an equi-join on the cell key after exploding a (2R+1)^2 ring of
neighbor offsets — a broadcastable generated relation; the kNN tiles
key points by :func:`cell_xy`.

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


def unpack_cell(cell: Column) -> tuple[Column, Column]:
    """Inverse of :func:`pack_cell`: BIGINT key -> (cx, cy) grid coords."""
    cx = F.shiftright(cell, _CY_BITS) - F.lit(1 << 20)
    cy = cell.bitwiseAND(F.lit((1 << _CY_BITS) - 1)) - F.lit(1 << 20)
    return cx, cy
