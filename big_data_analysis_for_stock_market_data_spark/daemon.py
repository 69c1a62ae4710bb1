"""Python worker daemon for local sessions: ``pyspark.daemon`` without
the per-task re-read of every zip archive on the worker's path.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
ends in ``importlib.invalidate_caches()``. Before CPython 3.12
(gh-103200) that makes each ``zipimporter`` re-read its archive's whole
directory: ``pyspark.zip`` once per imported subpackage (12 importers in
a worker) and the spark-core jar twice, 0.18–0.40 s of every task on a
4-core host. ``install`` makes a re-read happen only when the archive's
``(mtime_ns, size)`` changed since it was last read; the daemon's forked
workers inherit it.

Run as ``python -m big_data_analysis_for_stock_market_data_spark.daemon``
(``spark.python.daemon.module``, which ``session.get_session`` sets for
local sessions).
"""

from __future__ import annotations

import os
import sys
import zipimport

#: the interpreter's own method, which re-reads unconditionally
_reread = zipimport.zipimporter.invalidate_caches

#: archive path -> (mtime_ns, size) when its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since it was last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` (Python < 3.12;
    later versions already re-read lazily). Archives already read count
    as read now."""
    if sys.version_info >= (3, 12):
        return
    for archive in zipimport._zip_directory_cache:
        _stamps.setdefault(archive, _stamp(archive))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
