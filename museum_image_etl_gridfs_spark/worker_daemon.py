"""Python worker daemon: ``pyspark.daemon`` with a stat-guarded zip cache.

Selected by :func:`museum_image_etl_gridfs_spark.session.get_spark`
through ``spark.python.daemon.module``; the JVM starts it as
``python -m museum_image_etl_gridfs_spark.worker_daemon <worker module>``
and every Python worker it forks inherits the guard below.

Why: before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython <= 3.12 that makes every
cached ``zipimporter`` re-parse its archive's central directory at
once; a worker holds ~16 importers over ``pyspark.zip`` (1,328
entries), which costs ~0.2 CPU-s per task whatever the data size.
CPython 3.13 made ``zipimporter.invalidate_caches`` lazy (it only drops
the archive from ``_zip_directory_cache`` and re-reads on next use).
The guard here keeps the eager semantics but skips the re-read while
the archive's ``(st_mtime_ns, st_size, st_ino)`` equals the stamp taken
just before the directory was last read, so an archive replaced on
disk (a new ``addPyFile`` zip) is still re-read, and a failing ``stat``
falls through to the original re-read. Like CPython's own path finder,
it trusts the stat: an in-place rewrite that keeps size, inode and
mtime (within the filesystem's timestamp granularity) goes unnoticed.

This module imports only the stdlib and ``pyspark.daemon``, so the
daemon cannot fail to start over a missing optional dependency.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_ORIG_INVALIDATE = zipimport.zipimporter.invalidate_caches
_ORIG_READ_DIRECTORY = zipimport._read_directory  # noqa: SLF001

#: archive path -> (stamp taken just before the read, directory dict).
#: A companion to zipimport's own module-level ``_zip_directory_cache``
#: and keyed the same way; only the two functions below write it.
_loaded: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _recording_read_directory(archive):
    """``zipimport._read_directory`` that remembers the archive's stamp
    as of just BEFORE the read (a change racing the read then shows up
    as a stamp mismatch on the next invalidation, never as a hit)."""
    stamp = _stamp(archive)
    _loaded.pop(archive, None)
    files = _ORIG_READ_DIRECTORY(archive)
    if stamp is not None:
        _loaded[archive] = (stamp, files)
    return files


def guarded_invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed on disk since its directory was last read."""
    stamp = _stamp(self.archive)
    hit = _loaded.get(self.archive)
    if stamp is None or hit is None or hit[0] != stamp:
        _ORIG_INVALIDATE(self)
        return
    # Unchanged since the last read: adopt that read's directory, which
    # is what a fresh re-read would return.
    self._files = hit[1]  # noqa: SLF001
    zipimport._zip_directory_cache[self.archive] = hit[1]  # noqa: SLF001


def install() -> None:
    """Patch this process's ``zipimport`` (a no-op on CPython >= 3.13,
    whose invalidation is already lazy). Idempotent."""
    if sys.version_info >= (3, 13):
        return
    zipimport._read_directory = _recording_read_directory  # noqa: SLF001
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches


def main() -> None:
    install()
    # One re-read of every archive opened before install() (the
    # interpreter's own ``-m`` lookup walks pyspark.zip), so forked
    # workers start with a stamp for each and never re-read unchanged.
    importlib.invalidate_caches()

    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    # Re-import by package name so the installed functions are qualified
    # ``museum_image_etl_gridfs_spark.worker_daemon.*``, not ``__main__``.
    from museum_image_etl_gridfs_spark.worker_daemon import main as _main

    _main()
