"""``importlib.invalidate_caches()`` skips unchanged zip archives.

PySpark's workers call it at the start of every call; on Python < 3.13
each cached zipimporter then re-read its archive's central directory
(see ``sf_etl_spark/_zipimport_compat.py``). These tests pin that an
unchanged archive is not re-read, a rewritten one is, and nothing is
wrapped on Python >= 3.13.
"""

from __future__ import annotations

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

import sf_etl_spark  # noqa: F401  (installs the wrapper)
from sf_etl_spark import _zipimport_compat


def _write_zip(path: str, modules: list[str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``zmod_a``, first on ``sys.path`` and imported;
    every trace of it is removed afterwards."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zmod_a"])
    monkeypatch.syspath_prepend(archive)
    import zmod_a  # noqa: F401

    yield archive
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    _zipimport_compat._read_stamps.pop(archive, None)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    original = zipimport._read_directory

    def read_directory(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="invalidation is lazy from 3.13 on")
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(zip_on_path, monkeypatch):
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()  # learns the stamps
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(zip_on_path, ["zmod_a", "zmod_b"])
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    import zmod_b

    assert zmod_b.NAME == "zmod_b"


def test_nothing_is_wrapped_from_python_3_13_on(monkeypatch):
    def plain(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    monkeypatch.setattr(_zipimport_compat, "sys", types.SimpleNamespace(version_info=(3, 13, 0)))
    _zipimport_compat.install()
    assert zipimport.zipimporter.invalidate_caches is plain


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="invalidation is lazy from 3.13 on")
def test_install_is_idempotent(monkeypatch):
    def plain(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    _zipimport_compat.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not plain
    _zipimport_compat.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_spark_worker_rereads_no_archive_once_the_package_is_imported(spark):
    """A Python worker holds zipimporters on Spark's ``pyspark.zip``;
    once it has imported the package, an invalidate re-reads none of
    them."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import sf_etl_spark  # noqa: F401

        for _ in batches:
            pass
        reads = []
        original = zipimport._read_directory

        def read_directory(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = read_directory
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {"importers": [importers], "lazy": [sys.version_info >= (3, 13)],
             "second": [len(reads) - first]}
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "importers long, lazy boolean, second long")
        .collect()
    )
    (row,) = rows
    assert row.lazy or row.importers > 0  # the worker does import from zips
    assert row.second == 0
