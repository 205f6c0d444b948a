"""Format-neutral table source (the Iceberg posture).

The north rule targets Iceberg tables; this container ships no
Iceberg runtime jar, so the engine reads Parquet through the same
DataSource V2 scan interface Iceberg implements.  Every operator takes
DataFrames, so switching storage is this function plus a catalog
config (`spark.sql.catalog.*` + `format="iceberg"`), with partition
pruning / column pruning / predicate pushdown identical in kind
(verified for parquet in PLANS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Read a testdata table (parquet) or a catalog table (iceberg)."""
    if fmt == "parquet":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if fmt == "iceberg":
        # requires an Iceberg catalog configured on the session
        return spark.read.table(name)
    return spark.read.format(fmt).load(f"{sf_dir}/{name}")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive/Iceberg-style partitioned layout: one directory level per
    partition column.  At 10^12-row scale the partition columns are
    the pruning axes (ingest date, coarse spatial cell) — a reader
    filtering on them never lists, opens, or scans the other
    partitions' files (see :func:`read_pruned` and the pruning test)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_pruned(spark: SparkSession, path: str, **equals) -> DataFrame:
    """Read a partitioned layout with equality filters on partition
    columns expressed as keyword args (``read_pruned(s, p, day=3)``).
    The filters land in the scan's PartitionFilters (metadata-only
    pruning), not as a post-scan Filter — asserted in
    tests/test_misc.py::test_partition_pruning."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    for c, v in equals.items():
        df = df.where(F.col(c) == F.lit(v))
    return df
