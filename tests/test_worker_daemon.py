"""The Python worker daemon skips PySpark's per-task zip archive re-read
(zipkin_dependencies_spark/worker_daemon.py)."""

from __future__ import annotations

import importlib.util
import sys
import zipfile
import zipimport

import pytest

from zipkin_dependencies_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ re-reads zip archives lazily"
)


def _count_reads(monkeypatch) -> list:
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "X = 1\n")
    first, second = (zipimport.zipimporter(str(archive)) for _ in range(2))
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    reads = _count_reads(monkeypatch)

    worker_daemon.invalidate_caches(first)  # never stamped: one read
    assert len(reads) == 1
    for importer in (first, second, first):
        worker_daemon.invalidate_caches(importer)
    assert len(reads) == 1  # unchanged: both importers share the read

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("b.py", "Y = 2\n")
    worker_daemon.invalidate_caches(second)
    assert len(reads) == 2
    spec = second.find_spec("b")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2
    worker_daemon.invalidate_caches(first)  # shares the new read
    assert len(reads) == 2 and first.find_spec("b") is not None


def test_worker_tasks_do_not_reread_archives(spark):
    """A Python task's ``importlib.invalidate_caches()`` — which PySpark
    runs before every task — re-reads no zip archive; the stock daemon's
    workers re-read ``pyspark.zip`` once per importer (16 in an empty
    worker)."""

    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        original = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(count_reads, "reads long").collect()
    assert [r.reads for r in rows] == [0, 0, 0, 0]
