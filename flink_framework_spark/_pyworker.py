"""Stat-gated zip-importer refresh for PySpark Python workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12,
``zipimporter.invalidate_caches`` eagerly re-reads the archive's whole
central directory, once per importer, and a worker holds about 19 of
them (three in the 5k-entry spark-core jar, 14 in ``pyspark.zip``):
about 0.25 s of CPU per task. CPython 3.12 made that refresh lazy
(gh-103200). Here an archive's directory is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` changed since the last refresh.

The package imports this module first, so any engine code that a
worker unpickles installs it. It does nothing on the driver and on
CPython 3.12+.
"""

from __future__ import annotations

import os
import sys


def install() -> bool:
    """Gate ``zipimporter.invalidate_caches`` on the archive's stat when
    running in a PySpark worker before CPython 3.12; return whether the
    gate is in place. Idempotent."""
    if sys.version_info >= (3, 12) or "pyspark.worker" not in sys.modules:
        return False
    import zipimport

    importer = zipimport.zipimporter
    if getattr(importer.invalidate_caches, "stat_gated", False):
        return True
    refresh = importer.invalidate_caches
    seen: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return refresh(self)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and seen.get(self.archive) == sig:
            self._files = files  # unchanged since its last re-read
        else:
            refresh(self)
            seen[self.archive] = sig

    invalidate_caches.stat_gated = True
    importer.invalidate_caches = invalidate_caches
    return True


install()
