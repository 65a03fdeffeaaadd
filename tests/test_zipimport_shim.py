"""The stat-keyed ``zipimporter.invalidate_caches`` of ``_zipimport_shim``:
an unchanged archive is not re-read, a changed one is, and only PySpark
tasks get the patch."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from entropy_balance_weighting_spark import _zipimport_shim

EAGER = (3, 10) <= sys.version_info[:2] < (3, 13)
SHIM = "entropy_balance_weighting_spark._zipimport_shim"


def _write_zip(path, modules) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding module ``m1``; the stdlib method is
    restored afterwards whatever the test installs."""
    path = tmp_path / "mods.zip"
    _write_zip(path, ["m1"])
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


@pytest.mark.skipif(not EAGER, reason="stdlib zipimporter re-reads lazily")
def test_unchanged_archive_is_not_reread_and_changed_one_is(archive, monkeypatch):
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    import m1

    assert m1.NAME == "m1"
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1  # the stdlib method re-reads

    assert _zipimport_shim.install()
    reads.clear()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, ["m1", "m2"])
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    import m2

    assert m2.NAME == "m2"


@pytest.mark.skipif(not EAGER, reason="stdlib zipimporter re-reads lazily")
def test_missing_internals_warn_and_leave_stdlib(monkeypatch, caplog):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    assert not _zipimport_shim.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert "zipimport_shim_unavailable" in caplog.text


def test_installer_does_nothing_where_stdlib_is_lazy(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _zipimport_shim.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_only_tasks_get_the_shim(spark):
    def probe(_):
        import zipimport

        import entropy_balance_weighting_spark  # noqa: F401

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert got == [SHIM if EAGER else "zipimport"]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
