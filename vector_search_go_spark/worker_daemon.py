"""PySpark worker daemon whose zip importers re-read an archive only when
it changed on disk.

Run by Spark as ``spark.python.daemon.module`` (``session.get_spark``
sets it); forked workers inherit the patched ``zipimporter``. See the
``session`` module docstring for the measured per-task cost this removes.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before the read that
# filled zipimport's shared directory cache for that archive.
_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stat_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamped_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the central-directory
    re-read when the archive's stamp matches the cached read; any other
    case (changed, missing or never stamped) takes the original re-read."""
    stamp = _stat_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)  # a failed read drops the archive from the cache
    if stamp is not None:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (CPython < 3.12 only;
    3.12 made the re-read lazy, gh-103200), then re-read every cached
    archive once so the importers that exist now carry a stamp."""
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
