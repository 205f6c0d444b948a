"""SparkSession helpers for the esda_spark engine.

Local defaults mirror what we would set on a real cluster: AQE on
(runtime skew-join + coalesce), Arrow enabled for the vectorized
pandas kernels, and a shuffle-partition count sized to the local
parallelism.  On a 1000-executor cluster the same knobs apply — only
``spark.sql.shuffle.partitions`` (and executor sizing) change.

Python workers fork from the engine's worker daemon,
``daemon/esda_daemon.py`` (``spark.python.daemon.module``, found through
``spark.executorEnv.PYTHONPATH``): PySpark's own daemon, except that a
zip on the worker's import path is re-read only when it changed on disk.
PySpark's worker otherwise re-parses ``pyspark.zip`` and the spark-core
jar at every task start, 140-290 ms of CPU per task on Python 3.11.  The
daemon never imports ``esda_spark``, so workers import the engine as
before: from the working directory, or from the ``_ship_package`` zip.
"""

from __future__ import annotations

import atexit
import os
import tempfile

# One BLAS thread per Python worker: Spark already runs one worker per
# task slot, so letting OpenBLAS spawn per-core thread pools inside 32
# concurrent workers oversubscribes the box ~32x and destroys scaling
# of the Arrow kernels.  Must be set before the JVM (and thus the
# worker daemons) launch.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
           "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession

# Directory holding only ``esda_daemon.py``, the Python worker daemon.
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "daemon")


def get_spark(
    app_name: str = "esda_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "esda_daemon")
        .config("spark.executorEnv.PYTHONPATH", _DAEMON_DIR)
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship esda_spark to executors (the spark-submit --py-files story).

    Python workers don't inherit driver-side ``sys.path`` edits, so the
    Arrow kernels' closures fail to unpickle on executors unless the
    package is on their import path.  Zipping + ``addPyFile`` works in
    local mode and on a real cluster alike; on a managed cluster the
    same artifact goes to ``spark-submit --py-files``.
    """
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    marker = "_esda_spark_shipped"
    sc = spark.sparkContext
    if sc.environment.get(marker):
        return
    tmp = os.path.join(tempfile.gettempdir(), f"esda_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(tmp, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "esda_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    atexit.register(_remove_quietly, tmp)
    sc.addPyFile(tmp)
    sc.environment[marker] = "1"


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
