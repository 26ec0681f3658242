"""Zip imports that are re-read only when the archive changed.

PySpark workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
and call ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, and a worker holds one zipimporter per package it imported from
an archive (18 for the keyed fold, over pyspark.zip and the spark-core
jar), so every task — a no-data one too — pays 0.14–0.27 CPU-s to re-read
archives nobody rewrote. CPython 3.13 only drops the cache entry.

``install`` wraps ``zipimporter.invalidate_caches`` so that an archive's
directory is re-read only when its ``(st_ino, st_size, st_mtime_ns)``
changed since the cached copy (``zipimport._zip_directory_cache``) was
read; otherwise the importer takes the cached copy. A rewritten zip is
still re-read, as the stdlib does. This module is the only place in the
package that touches ``zipimport``.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> the stat at which its ``_zip_directory_cache`` entry was read
_CACHE_STAMPS: dict[str, tuple[int, int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches  # the stdlib method


def _stat_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Take the cached directory if the archive is unchanged since it was
    read, else re-read it (the stdlib method, which also refreshes the
    cache); an archive that cannot be stat'ed is handed to the stdlib."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _CACHE_STAMPS.get(self.archive) == key:
        self._files = files
        return
    _reread(self)
    _CACHE_STAMPS[self.archive] = key


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once per process (CPython <
    3.13 only). Returns whether this call installed it.

    The cached directories of the importers already in
    ``sys.path_importer_cache`` are stamped as current: the caller runs
    inside a worker task whose ``setup_spark_files`` has just re-read them.
    """
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches is _invalidate_if_changed:
        return False
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls) and finder.archive in zipimport._zip_directory_cache:
            _CACHE_STAMPS[finder.archive] = _stat_key(finder.archive)
    cls.invalidate_caches = _invalidate_if_changed
    return True
