"""Python worker daemon that stops re-reading zip archives before every task.

Before each task pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that makes
every ``zipimporter`` on ``sys.path`` re-parse its archive's whole central
directory in pure Python: a worker holds importers on pyspark.zip (1,328
entries), the spark-core jar (5,364) and py4j, about 0.2 s of fixed cost per
task. ``get_spark`` sets ``spark.python.daemon.module`` to this module, which
swaps in an ``invalidate_caches`` that re-reads an archive only when its
size, mtime or inode changed, then runs pyspark's own daemon. A zip added by
``addPyFile`` is a new path entry and still gets a fresh importer. From 3.12
on CPython re-reads lazily, so nothing is patched there.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (size, mtime_ns, inode) as stat'ed before its last read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's file data only if the archive changed since this
    process last read it; otherwise share the cached directory."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a change racing the read shows on the next call
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; False where CPython needs no patch."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    if install():
        # read every archive once here, so forked workers inherit the stamps
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
