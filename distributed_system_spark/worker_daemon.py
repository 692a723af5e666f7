"""PySpark worker daemon that re-reads zip archives on sys.path only when they change.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``worker_util.setup_spark_files``).  On CPython < 3.12 that
makes each ``zipimporter`` re-read its archive's central directory, and
the worker's ``sys.path`` holds Spark's pyspark and py4j zips plus the
spark-core jar: 137-265 ms per task on a 4-core host, against 0.2 ms
with this patch.  Here the re-read happens only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read by that importer,
so an archive rewritten in place is still picked up.  CPython 3.12 made
the re-read lazy itself (gh-103200); there the daemon changes nothing.

Spark starts it as ``spark.python.daemon.module`` (set by
``session.get_spark``); forked workers inherit the patch.  Importing
the module patches nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _lazy_invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_graft_stamp", None) != stamp:
        # stat before the read: a rewrite racing the read leaves a
        # stale stamp, so the next call reads again
        _reread(self)
        self._graft_stamp = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches

    manager()
