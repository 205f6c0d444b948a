"""PySpark worker daemon that re-reads a zip on the import path only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  On Python 3.11 each ``zipimporter`` then re-parses its
archive's central directory in pure Python: ~9 ms per ``pyspark.zip``
package prefix and ~46 ms per spark-core jar prefix, 140-290 ms of CPU
per task in all.  Here that re-read happens only when ``os.stat`` of
the archive fails or its (inode, size, mtime) differs from what this
importer last read, so a rewritten archive is still re-read.

Run as ``spark.python.daemon.module``; workers fork from the daemon and
inherit the patch.  Kept standalone (no ``esda_spark`` import) so
workers import the engine exactly as they would under PySpark's daemon.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        key = st.st_ino, st.st_size, st.st_mtime_ns
    except OSError:
        key = None
    if key is None or key != getattr(self, "_esda_stat_key", None):
        _reread(self)
        self._esda_stat_key = key


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    # Read every archive the daemon imports from once, so each forked
    # worker starts with every key recorded instead of re-reading them.
    importlib.invalidate_caches()
    daemon.manager()
