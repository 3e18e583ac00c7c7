"""The Python worker daemon: stock ``pyspark.daemon`` whose zip importers
re-read an archive's directory only when the archive changed.

``get_spark`` names this module in ``spark.python.daemon.module``, so
Spark starts every Python worker (SQL UDF workers and the Python data
source's planner workers alike) by forking from this process.

Why: pyspark's ``worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``. On CPython 3.11 that makes each
``zipimporter`` re-parse its archive's whole central directory, and a
reused worker holds about 16 importers on ``pyspark.zip`` (1328
entries), so each task re-read it 16 times, ~0.1 s of fixed cost per
Python task. Here ``zipimporter.invalidate_caches`` first compares the
archive's ``(st_mtime_ns, st_size, st_ino)`` with the key the importer
last read at, and does the stock re-read only when they differ or the
``stat`` fails. A zip added mid-session (``sc.addPyFile``) is a new
``sys.path`` entry and gets a new importer, so it imports as before.

The patch is made before the daemon forks a worker, so every worker
inherits it, and the importers the daemon already holds are keyed
then; the daemon imports nothing beyond what ``pyspark.daemon`` does.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive is the one this importer last read. The key is taken
    before the read, so an archive rewritten during it is read again
    next time."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is not None and getattr(self, "_read_key", None) == key:
        return
    _stock_invalidate_caches(self)
    self._read_key = key


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # key every importer the workers inherit, so a new worker's first
    # task does not re-read them either
    importlib.invalidate_caches()
    manager()
