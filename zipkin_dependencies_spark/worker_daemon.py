"""PySpark's Python worker daemon, minus two costs of Spark's ``pyspark.zip``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on the workers'
``PYTHONPATH``. The zip holds sources only, so a daemon that imports PySpark
from it compiles every module it loads, at every start (about 1.2 s of a
2.7 s warm restart on 4 cores). When an installed PySpark directory of the
same release (a byte-equal ``pyspark/version.py``) is on the path too, the
daemon moves the zip to the end of ``sys.path`` before it imports PySpark,
and imports the installed copy with its compiled caches. The zip stays on
the path as a fallback.

PySpark also calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py::setup_spark_files``). Before CPython 3.13 that
makes every ``zipimporter`` re-parse its whole archive directory: a worker
that imports PySpark from the zip holds about 16 importers on it (1,328
entries), so each task re-reads ~27k entries in pure Python before it
starts. Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
changed since its last read, or cannot be taken; all importers of one
archive share that read. This still matters for executors that have only
``$SPARK_HOME``'s zip.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
It has to be the daemon: ``pyspark.daemon`` loads only ``pyspark*`` worker
modules, and a fix installed by the kernel would miss each forked worker's
first task. The package ``__init__`` imports nothing, so running this
module with ``-m`` loads no PySpark before the path is ordered.
"""

from __future__ import annotations

import importlib
import importlib.machinery
import os
import sys
import zipfile
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


def prefer_installed_pyspark(path: list[str]) -> None:
    """Move every ``pyspark.zip`` entry of ``path`` to its end, in place,
    when the other entries hold a ``pyspark`` package directory whose
    ``version.py`` is byte-equal to each zip's. Otherwise leave ``path`` as
    it is. Imports nothing from PySpark."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return
    rest = [p for p in path if p not in zips]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
    if spec is None or spec.origin is None:
        return
    try:  # a copy inside another archive fails to open: not a directory
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            installed = f.read()
        for archive in zips:
            with zipfile.ZipFile(archive) as z:
                if z.read("pyspark/version.py") != installed:
                    return
    except (OSError, KeyError, zipfile.BadZipFile):
        return
    path[:] = rest + zips


if __name__ == "__main__":
    prefer_installed_pyspark(sys.path)
    # forked workers inherit what the daemon imported
    from zipkin_dependencies_spark import linker, plans, session  # noqa: F401
    from pyspark import daemon

    if sys.version_info < (3, 13):  # 3.13 re-reads lazily
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp the archives already open, so forked workers start stamped
        importlib.invalidate_caches()
    daemon.manager()
