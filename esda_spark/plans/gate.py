"""The in-core / distributed split: one table of limits, one probe.

Eight operators carry a driver-side (in-core) path beside their
distributed plan; which one runs is decided from the observed size of
the side the in-core path would collect.  Every such decision reads
its limit from :data:`LIMITS` and, where the in-core path needs the
collected rows, asks :func:`collect_if_fits` for them: ONE
``limit(n + 1).toPandas()`` job that either returns the frame (the
in-core kernel consumes it — nothing is counted and then collected
again) or ``None`` (take the distributed plan).

A limit of 0 always selects the distributed plan.  Tests flip a gate
with ``monkeypatch.setitem(gate.LIMITS, name, 0)``.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame

LIMITS: dict[str, int] = {
    # kNN build / kNN join: target rows broadcast to the kernel
    # (~55 B/row of numpy arrays; 2M rows ~ 110 MB per Python worker)
    "knn_targets": 2_000_000,
    # cosine / LSH / IVF top-k: corpus (and query) rows scored on the
    # driver (~100 MB of float64 vectors at dim 64)
    "ann_rows": 200_000,
    # MinHash / embedding dedup: candidate pairs verified and closed
    # on the driver
    "dedup_pairs": 200_000,
    # point-in-polygon: total polygon VERTICES broadcast to the refine
    # kernel (bounds bytes, not rings: one ring may hold any number)
    "pip": 200_000,
    # connected components: distinct edges run as a driver union-find
    # (~32 MB at 2M; star contraction pays O(log n) rounds of jobs)
    "cc_edges": 2_000_000,
    # crand mode="auto": sites at or above this take the tiled path —
    # where the broadcast path's O(n) driver collect becomes the wall
    # (~160 MB of doubles); no collect of its own
    "crand_tiled_sites": 20_000_000,
    # kNN level-0 ring-candidate pairs below which skewed inputs skip
    # the quadtree refinement; 0 always refines; no collect
    "flat_ring_pairs": 10_000_000,
}

# Spark's LIMIT takes a 32-bit int
_MAX_ROWS = 2**31 - 2


def collect_if_fits(
    df: DataFrame,
    name: str,
    limit: int | None = None,
    size: Callable[[pd.DataFrame], int] | None = None,
) -> pd.DataFrame | None:
    """``df`` as a pandas frame when it fits gate ``name``, else None.

    ``limit`` overrides ``LIMITS[name]`` (a caller-scaled or
    caller-supplied bound).  The probe collects at most ``limit + 1``
    rows; the frame fits when it has at most ``limit`` rows and, when
    ``size`` is given, ``size(frame) <= limit`` as well (a byte-ish
    measure such as total vertices, checked on the collected frame
    without another job).

    One job instead of ``count()`` then ``toPandas()``: on a 4-core
    ``local[4]`` session over cached inputs (12 interleaved repeats,
    min / median), a 12k x 3 frame took 137 / 178 ms that way against
    55 / 78 ms for the probe; 2k 64-dim vectors 109 / 138 ms against
    49 / 68 ms.
    """
    bound = LIMITS[name] if limit is None else int(limit)
    if bound <= 0:
        return None
    pdf = df.limit(min(bound, _MAX_ROWS) + 1).toPandas()
    if len(pdf) > bound or (size is not None and size(pdf) > bound):
        return None
    return pdf
