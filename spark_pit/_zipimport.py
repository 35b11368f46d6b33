"""Zip importers that re-read an archive only when it has changed.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.13, that makes every ``zipimporter`` on ``sys.path_importer_cache``
re-read its archive's whole central directory. A worker holds 14-16 of them
over ``pyspark.zip`` (1,328 entries) and py4j, so each task paid about
130-150 ms of CPU for directories that had not changed. CPython 3.13 made
the invalidation lazy.

On Python < 3.13, importing this module replaces
``zipimport.zipimporter.invalidate_caches`` with ``invalidate_caches``
below. Each importer keeps the ``os.stat`` key (``st_mtime_ns``,
``st_size``, ``st_ino``) its archive had when the importer last read it,
and skips the re-read while the archive still has that key. Whenever the
key differs, the archive is missing, or the importer has not read under
this module yet, the stdlib method runs unchanged.

``spark_pit/__init__.py`` imports this module, and every worker imports
``spark_pit`` when it unpickles a kernel. A worker's importers re-read on
its first task (before the import) and its second (to record their keys),
and not again while their archives stay the same.
"""

from __future__ import annotations

import os
import sys
import zipimport

# a reload must not wrap this module's own method
_stdlib_invalidate_caches = getattr(
    zipimport.zipimporter.invalidate_caches, "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """Reload the archive's directory if the archive changed since this
    importer last read it; otherwise keep the directory it holds."""
    # stat before reading: a rewrite between the two leaves the older key,
    # so the next call reads again rather than trusting a stale directory
    key = _stat_key(self.archive)
    if key is not None and getattr(self, "_spark_pit_key", None) == key:
        return
    _stdlib_invalidate_caches(self)
    # an archive the stdlib could not read (it emptied the directory) keeps
    # no key, so the next call reads again
    self._spark_pit_key = key if self._files else None


invalidate_caches.__wrapped__ = _stdlib_invalidate_caches

if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
