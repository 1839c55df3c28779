"""Python worker entry that stops every task re-reading every zip directory.

Why it exists: Spark's Python worker calls ``importlib.invalidate_caches()``
at the start of every task (``pyspark/worker_util.py``,
``setup_spark_files``). On CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each one eagerly re-reads its archive's
central directory (``zipimport._read_directory``). A worker holds 16 such
importers, over ``pyspark.zip``'s subpackages (1,328 entries), the
``spark-core`` jar (5,359 entries) and py4j's zip. Measured with
``tools/python_job_floor.py`` on CPython 3.11.7, ``local[4]``, a 4-core
VM: a trivial 4-partition ``mapInArrow`` job took 196-263 ms with the
stock refresh and 103-107 ms with this one; a JVM-only job took 41-44 ms.

What it does: it replaces ``zipimporter.invalidate_caches`` with
``stat_checked_refresh``, which re-reads an archive only when its
``os.stat`` (size, ``st_mtime_ns``) changed since its last read, or when
the archive is missing from ``zipimport._zip_directory_cache``; otherwise
the importer reuses the cached directory. That is safe because any archive
whose (size, mtime) changed, or that cannot be stat'ed, is still re-read
through the stock method, and an archive's stamp is taken before the read,
so a rewrite racing the read is seen on the next refresh.

How it is installed: ``session.get_spark`` names this module as
``spark.python.worker.module`` on ``local[...]`` masters and puts this
directory (not a package) on ``spark.executorEnv.PYTHONPATH``.
``pyspark.daemon`` imports a worker module only if its name starts with
``pyspark``, once, before it forks the workers; so the hook and the
stamps taken here are inherited by every worker it forks. The module re-exports
``pyspark.worker.main``, which the daemon runs per worker.

When to delete it: when the worker runtime's
``zipimporter.invalidate_caches`` no longer calls ``_read_directory``
eagerly. It does on CPython 3.11.7, where this was measured; newer
CPython only drops the cache entry and reads the directory lazily.
``install`` checks exactly that and leaves such a runtime untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.worker import main  # noqa: F401  (the daemon's worker entry)

_stock_refresh = zipimport.zipimporter.invalidate_caches
# archive path -> (size, st_mtime_ns) taken just before its last read
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def stat_checked_refresh(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive directory only if the archive changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_refresh(self)
    _read_stamps[self.archive] = stamp


def install() -> bool:
    """Install the refresh once; return whether this runtime needs it."""
    if "_read_directory" not in _stock_refresh.__code__.co_names:
        return False
    zipimport.zipimporter.invalidate_caches = stat_checked_refresh
    return True


if install():
    # Read each archive once here, before the daemon forks, so the forked
    # workers inherit the stamps instead of each paying the first read.
    for _importer in list(sys.path_importer_cache.values()):
        if isinstance(_importer, zipimport.zipimporter):
            _importer.invalidate_caches()
