"""Stat-guarded zipimport directory cache for the engine's Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before Python
3.13, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, once per cached zipimporter. A worker importing
pyspark from ``pyspark.zip`` (1,328 entries) holds about 16 of them; in a
cProfile of the worker those re-reads took ~80% of per-task worker time,
~200 CPU-ms per task.

``install`` makes that call cheap: every directory read records the
archive's ``(st_mtime_ns, st_size)`` taken just before it, and
``invalidate_caches`` re-reads only when the archive's stamp differs from
the one recorded for the cached directory. A rewritten archive is still
picked up by the next ``invalidate_caches``. Python 3.13's zipimport
drops the cache lazily already, so there ``install`` does nothing.

``hydra_spark/__init__.py`` installs it, so every worker that unpickles
an engine UDF (and so imports ``hydra_spark``) runs with it, whatever
the entry point: ``get_spark``, ``spark-submit --py-files`` or a cluster
executor.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) at its last directory read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Install the guard in this process; True if it is (now) active."""
    if sys.version_info >= (3, 13) or not hasattr(zipimport.zipimporter, "invalidate_caches"):
        return False
    if getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False):
        return True
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        stamp = _stamp(archive)  # before the read: a concurrent rewrite re-reads next time
        files = read_directory(archive)
        _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is None or stamp is None or _stamps.get(self.archive) != stamp:
            reread(self)
        else:
            self._files = files  # another importer of this archive may have re-read it

    _read_directory.__wrapped__ = read_directory
    invalidate_caches.__wrapped__ = reread
    invalidate_caches._stat_guarded = True
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
