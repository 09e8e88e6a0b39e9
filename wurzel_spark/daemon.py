"""Python worker daemon for local sessions: ``pyspark.daemon`` plus one fix.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py`` ``setup_spark_files``). On
CPython < 3.12 every ``zipimport.zipimporter`` then re-reads its archive's
whole directory, and a worker holds ~16 of them over ``pyspark.zip``
(1,328 entries): 215-300 ms of fixed cost per task, even on a reused
worker. Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from its value at the last read, so a
rewritten zip is still re-read, and a zip added later (``addPyFile``) gets
a new importer that reads it. Workers forked from this daemon inherit the
patch. CPython 3.12 re-reads lazily by itself, so nothing is patched there.

``get_spark`` sets ``spark.python.daemon.module`` to this module when it
starts a local session. Keep its imports light: every forked worker
carries them.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stamp at its last read


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files  # the newest read, made by this or another importer
        return
    _reread(self)
    _read_at[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` (CPython < 3.12) and read every archive once,
    so that even a worker's first task finds the stamps recorded."""
    if sys.version_info >= (3, 12) or _reread is None:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
