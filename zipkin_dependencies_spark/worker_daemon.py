"""PySpark's Python worker daemon, minus the per-task zip archive re-read.

PySpark calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py::setup_spark_files``). Before CPython 3.13 that
makes every ``zipimporter`` re-parse its whole archive directory: a worker
holds about 16 importers on ``pyspark.zip`` (1,328 entries), so each task
re-reads ~27k entries in pure Python before it starts. Here an archive is
re-read only when its ``(st_mtime_ns, st_size)`` changed since its last
read, or cannot be taken; all importers of one archive share that read.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
It has to be the daemon: ``pyspark.daemon`` loads only ``pyspark*`` worker
modules, and a fix installed by the kernel would miss each forked worker's
first task.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path → the (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 re-reads lazily
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp the archives already open, so forked workers start stamped
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
