"""gush_spark.zip_import_cache: zip importers skip re-reading an
unchanged archive on ``importlib.invalidate_caches()`` (PySpark's worker
calls it at the start of every Python runner), still pick up a rewritten
archive, and the package installs it in every Python worker."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from gush_spark import zip_import_cache


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``gush_ztest_a``, imported from ``sys.path``;
    yields (archive path, read counter for that archive)."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gush_ztest_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    import gush_ztest_a

    assert gush_ztest_a.VALUE == "a"
    yield archive, reads
    for name in ("gush_ztest_a", "gush_ztest_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="zip importers invalidate lazily")
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()  # the importer's first call takes its stamp
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="zip importers invalidate lazily")
def test_rewritten_archive_is_picked_up_and_removed_one_does_not_raise(zip_on_path):
    import os

    archive, reads = zip_on_path
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as z:  # rewritten in place
        z.writestr("gush_ztest_a.py", "VALUE = 'a'\n")
        z.writestr("gush_ztest_b.py", "VALUE = 'b'\n")
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [archive]
    import gush_ztest_b

    assert gush_ztest_b.VALUE == "b"
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()


def test_install_is_idempotent_and_a_no_op_from_python_3_12(monkeypatch):
    wrapper = zipimport.zipimporter.invalidate_caches
    zip_import_cache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    original = getattr(wrapper, "__wrapped__", wrapper)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    zip_import_cache.install()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not zip_import_cache.installed()


def test_installed_in_python_workers(spark):
    """Every gush UDF is unpickled by module reference, so importing it
    runs the package ``__init__``, which installs the cache in the
    worker."""
    from pyspark.sql import functions as F

    from gush_spark.functions.extract import extract_udf

    html = spark.createDataFrame([(bytearray(b"<html><body><p>hi</p></body></html>"),)], ["html"])
    assert len(html.select(extract_udf("html").alias("x")).collect()) == 1

    @F.pandas_udf("boolean")
    def worker_installed(s: pd.Series) -> pd.Series:
        from gush_spark.zip_import_cache import installed

        return pd.Series([installed()] * len(s))

    got = html.select(worker_installed("html").alias("ok")).collect()
    assert [r.ok for r in got] == [sys.version_info < (3, 12)]
