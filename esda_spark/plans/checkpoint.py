"""Checkpoint/resume with per-partition lineage + metrics (north rule).

Every expensive stage can be materialized to Parquet alongside a
``_manifest.json`` recording row count, per-part-file row counts, the
stage's input fingerprint, schema, and wall time.  Re-running a
pipeline skips stages whose manifest matches the requested fingerprint
— the 100 TB failure-recovery story: a killed job resumes from the
last completed stage instead of recomputing the lineage from scratch.

The counts come from the written files' Parquet footers, keyed by the
part number in ``part-NNNNN-…`` (the writing task's partition), and
the schema from the frame itself, so writing a stage runs the write job
and nothing else.  Empty partitions write no part file; a wholly empty
frame writes one empty file.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"


def write_stage(df: DataFrame, path: str, fingerprint: str) -> dict:
    """Materialize a stage + manifest; returns the manifest dict."""
    t0 = time.perf_counter()
    df.write.mode("overwrite").parquet(path)
    parts: dict[int, int] = {}
    for name in sorted(os.listdir(path)):
        if name.startswith("part-") and name.endswith(".parquet"):
            part = int(name.split("-")[1])
            rows = pq.read_metadata(os.path.join(path, name)).num_rows
            parts[part] = parts.get(part, 0) + rows
    manifest = {
        "fingerprint": fingerprint,
        "rows": sum(parts.values()),
        "partitions": parts,
        "schema": df.schema.simpleString(),
        "wall_sec": round(time.perf_counter() - t0, 3),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def stage(spark: SparkSession, path: str, fingerprint: str, build) -> DataFrame:
    """Return the stage output, rebuilding only when the fingerprint
    changed (resume-from-checkpoint)."""
    m = read_manifest(path)
    if m is not None and m.get("fingerprint") == fingerprint:
        return spark.read.parquet(path)
    df = build()
    write_stage(df, path, fingerprint)
    return spark.read.parquet(path)
