"""PySpark worker daemon that does not re-read pyspark.zip on every task.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py``, ``setup_spark_files``).  On CPython
< 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
archive directory each time (made lazy in 3.12, gh-103200), and a worker
that imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` holds
one zipimporter per package directory of that 1,328-entry archive: about
0.2 s of CPU per task before the UDF runs.

This module wraps the stock daemon (``pyspark.daemon.manager``) and
first replaces that method with one that re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed, so a rewritten zip is still
picked up.  ``session.get_spark`` selects it through
``spark.python.daemon.module`` on local masters.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive -> stamp of the directory now in zipimport._zip_directory_cache;
# process-wide like that cache, which every importer of an archive shares
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        # unchanged since the last re-read (maybe by another importer of
        # this archive): take that directory instead of reading it again
        self._files = files
        return
    _stock_invalidate(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch zipimporter on interpreters whose invalidation is eager."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
