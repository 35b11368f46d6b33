"""``spark_pit._zipimport``: zip importers re-read an archive only when its
``os.stat`` key changed, and otherwise behave as the stdlib's.

PySpark workers call ``importlib.invalidate_caches()`` once per task; before
CPython 3.13 every zip importer then re-read its whole archive directory.
"""

from __future__ import annotations

import importlib
import itertools
import os
import sys
import zipfile
import zipimport

import pytest

import spark_pit._zipimport as zi

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zip importer caches lazily; the module installs nothing",
)
_NAMES = itertools.count()


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding package ``pkg`` (``__init__`` and ``a``) on sys.path;
    returns (archive path, package name, write(modules))."""
    pkg = f"zipcache_pkg{next(_NAMES)}"
    path = str(tmp_path / f"{pkg}.zip")

    def write(*mods: str) -> None:
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            for m in mods:
                z.writestr(f"{pkg}/{m}.py", f"NAME = {m!r}\n")

    write("a")
    monkeypatch.syspath_prepend(path)
    yield path, pkg, write
    _forget(path, pkg)


def _forget(path: str, pkg: str) -> None:
    """Drop the package's modules and every importer cache over ``path``."""
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _importers(path: str) -> list:
    return [f for k, f in sys.path_importer_cache.items()
            if k.startswith(path) and isinstance(f, zipimport.zipimporter)]


def _count_reads(monkeypatch, path: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_read_once(zip_pkg, monkeypatch):
    path, pkg, _ = zip_pkg
    assert importlib.import_module(f"{pkg}.a").NAME == "a"
    importers = _importers(path)
    assert len(importers) == 2  # the archive and its package directory
    reads = _count_reads(monkeypatch, path)
    for _ in range(3):
        importlib.invalidate_caches()
    # each importer re-reads once (it has not read under the module yet)
    assert len(reads) <= len(importers)
    assert all(f._files for f in importers)


def test_rewritten_archive_is_reread(zip_pkg):
    path, pkg, write = zip_pkg
    importlib.import_module(f"{pkg}.a")
    importlib.invalidate_caches()
    write("a", "b")
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.b").NAME == "b"


def _after_delete(path: str, pkg: str, write) -> tuple:
    """Import ``a``, delete the archive, invalidate, then try ``b`` (which
    the archive held): the outcome and the importers' state."""
    write("a", "b")
    importlib.import_module(f"{pkg}.a")
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    try:
        importlib.import_module(f"{pkg}.b")
        outcome = "imported"
    except ImportError as e:
        outcome = type(e).__name__
    return (outcome, [f._files for f in _importers(path)],
            path in zipimport._zip_directory_cache)


def test_deleted_archive_fails_as_the_stdlib_does(zip_pkg, monkeypatch):
    path, pkg, write = zip_pkg
    ours = _after_delete(path, pkg, write)
    assert ours[0] == "ModuleNotFoundError"

    # the same steps under the stdlib method, from a clean import state
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zi.invalidate_caches.__wrapped__)
    _forget(path, pkg)
    assert _after_delete(path, pkg, write) == ours


def test_spark_worker_runs_the_patched_method(spark):
    def probe(pdf):
        import zipimport

        import pandas as pd

        import spark_pit  # noqa: F401  (what unpickling a kernel does)

        return pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(2).groupBy("id").applyInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {"spark_pit._zipimport"}
