"""Python worker daemon for local sessions (`spark.python.daemon.module`).

Spark's worker calls `importlib.invalidate_caches()` before every task.
On CPython < 3.13 `zipimporter.invalidate_caches` re-reads the central
directory of its archive each time, so every task re-reads pyspark.zip,
the py4j zip and the spark-core jar on the worker's `sys.path`. This
daemon re-reads an archive only when its (mtime, size) stamp changed: a
replaced `--py-files` zip is still picked up and a vanished one is still
dropped from the cache, as upstream does. Stamps of the archives the
daemon has already read are taken before it forks, so a fresh worker's
first task does not re-read them either.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> stamp at its last directory read; process-wide, like the
# `zipimport._zip_directory_cache` it vouches for
_stamps: dict[str, tuple[int, int] | None] = {}
_upstream = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and stamp == _stamps.get(self.archive):
        self._files = cached
        return
    _upstream(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Swap in the stamp-checked `invalidate_caches` and stamp the
    archives already cached; a no-op on Python >= 3.13, whose
    `invalidate_caches` no longer re-reads eagerly."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for path in zipimport._zip_directory_cache:
        _stamps[path] = _stamp(path)


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
