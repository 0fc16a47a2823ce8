"""The Python worker daemon imports an installed PySpark of the zip's
release and skips PySpark's per-task zip archive re-read
(zipkin_dependencies_spark/worker_daemon.py)."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from zipkin_dependencies_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager_zip_reread = pytest.mark.skipif(
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


@eager_zip_reread
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


@eager_zip_reread
def test_worker_tasks_do_not_reread_archives(spark):
    """A Python task's ``importlib.invalidate_caches()`` — which PySpark
    runs before every task — re-reads no zip archive. The stock daemon's
    workers import PySpark from ``pyspark.zip`` and re-read it once per
    importer (16 in an empty worker); this daemon's workers import the
    installed copy and hold about one importer on the zip, if any."""

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


RELEASE = b"__version__: str = '4.1.2'\n"


def _installed(root, version: bytes) -> str:
    package = root / "pyspark"
    package.mkdir(parents=True)
    (package / "__init__.py").write_text("")
    (package / "version.py").write_bytes(version)
    return str(root)


def _zipped(path, version: bytes | None) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        if version is not None:
            z.writestr("pyspark/version.py", version)
    return str(path)


def test_zip_moves_behind_an_installed_copy_of_its_release(tmp_path):
    archive = _zipped(tmp_path / "pyspark.zip", RELEASE)
    site = _installed(tmp_path / "site", RELEASE)
    py4j = str(tmp_path / "py4j-src.zip")
    path = [str(tmp_path), archive, py4j, "/stdlib", site, "/user-site"]
    worker_daemon.prefer_installed_pyspark(path)
    assert path == [str(tmp_path), py4j, "/stdlib", site, "/user-site", archive]


@pytest.mark.parametrize(
    "case",
    ["other release", "not installed", "zipped copy", "corrupt zip", "zip without version.py", "no zip"],
)
def test_path_is_unchanged_unless_the_installed_copy_is_the_zips_release(tmp_path, case):
    archive = tmp_path / "lib" / "pyspark.zip"
    archive.parent.mkdir()
    if case == "corrupt zip":
        archive.write_bytes(b"PK\x03\x04 not a zip")
    else:
        _zipped(archive, None if case == "zip without version.py" else RELEASE)
    site_version = b"__version__: str = '4.1.1'\n" if case == "other release" else RELEASE
    if case == "not installed":
        site = str(tmp_path / "site")
    elif case == "zipped copy":
        site = _zipped(tmp_path / "site.zip", RELEASE)
    else:
        site = _installed(tmp_path / "site", site_version)
    path = [str(tmp_path / "cwd"), site] if case == "no zip" else [str(tmp_path / "cwd"), str(archive), site]
    before = list(path)
    worker_daemon.prefer_installed_pyspark(path)
    assert path == before


def test_workers_import_the_drivers_pyspark(spark):
    """The default session's Python workers import the driver's installed
    PySpark, not ``$SPARK_HOME``'s source-only ``pyspark.zip``, when both
    are one release."""
    import pyspark

    if ".zip" in pyspark.__file__:
        pytest.skip("the driver's PySpark is itself zipped")
    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        release = f.read()

    def where(batches):
        import os
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
        yield pd.DataFrame({"file": [pyspark.__file__], "zips": [zips]})

    rows = spark.range(0, 1, 1, 1).mapInPandas(where, "file string, zips array<string>").collect()
    for archive in rows[0].zips:
        with zipfile.ZipFile(archive) as z:
            if z.read("pyspark/version.py") != release:
                pytest.skip(f"{archive} is another PySpark release")
    assert rows[0].file == pyspark.__file__


def test_importing_the_package_imports_no_pyspark():
    """The package's exports load lazily, so ``-m
    zipkin_dependencies_spark.worker_daemon`` can order ``sys.path`` before
    anything imports PySpark."""
    probe = """
import sys
import zipkin_dependencies_spark as package
assert "pyspark" not in sys.modules, sorted(m for m in sys.modules if m.startswith("pyspark"))
for name in package.__all__:
    getattr(package, name)
from zipkin_dependencies_spark import curate  # needs AttributeError for unknown names
assert curate.__name__ == "zipkin_dependencies_spark.curate"
"""
    result = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True, text=True, timeout=120
    )
    assert result.returncode == 0, result.stderr
