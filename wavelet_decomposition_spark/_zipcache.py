"""Stat-keyed ``zipimporter.invalidate_caches`` for Python < 3.12.

A reused PySpark worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that makes
every cached ``zipimport.zipimporter`` re-read its archive's whole central
directory — ``pyspark.zip``, the py4j zip and, on a local install, the
``spark-core`` jar with its ~5k entries: 0.15-0.35 s per task on a 4-core
host, several times the kernel work of a typical Arrow UDF task.

``install()`` replaces that method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken when
this process last read it, and otherwise hands back the directory already in
``zipimport._zip_directory_cache``. ``install()`` reads each archive already
cached once more, to record its stat. Python 3.12 made the invalidation lazy,
so there ``install()`` does nothing.

The package ``__init__`` calls ``install()``, so it runs in every worker that
unpickles an engine UDF and stays in effect for that worker's later tasks.
Standard library only: it runs before anything else in the package loads.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size, st_ino) taken just before this
# process last read the archive's directory through the replacement
_read_stats: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _current_files(archive: str) -> dict:
    """``archive``'s directory, read again only if its stat changed since
    this process last read it."""
    # stat before reading: a write racing the read changes the key, so the
    # next call reads again instead of trusting a torn directory
    key = _stat_key(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if key is not None and cached is not None and _read_stats.get(archive) == key:
        return cached
    # from here on, what the stdlib method does on every call
    _read_stats.pop(archive, None)
    try:
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        return {}
    zipimport._zip_directory_cache[archive] = files
    if key is not None:
        _read_stats[archive] = key
    return files


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    self._files = _current_files(self.archive)


def install() -> bool:
    """Install the replacement; idempotent. True when it is in effect.

    Archives read before the first call have no recorded stat, so that call
    reads each of them once: the next ``invalidate_caches()`` then re-reads
    nothing that is unchanged."""
    if sys.version_info >= (3, 12):
        return False
    if not installed():
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        for archive in list(zipimport._zip_directory_cache):
            _current_files(archive)
    return True


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches
