"""Stat-gated zip directory re-reads for the Python worker.

Before every task, ``pyspark.worker`` calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). On CPython < 3.13 that makes every
``zipimporter`` re-read its archive's whole central directory at once. A
local-mode worker holds 12 importers on ``pyspark.zip`` (1,328 entries, 6 ms
a read), 2 on the py4j zip and 2 on the spark-core jar (5,359 entries, 38 ms
a read): 0.15-0.3 s of every task at local[4], before the UDF starts.
CPython 3.13 re-reads lazily, only when the archive's stat has changed.

``install`` (run when the ``engine`` package is imported) gives CPython
< 3.13 that rule: an archive is re-read only when its (mtime_ns, ctime_ns,
size, inode) differs from that at its last read, and every importer of the
archive shares that one read through ``zipimport._zip_directory_cache``. A
missing or unreadable archive takes the stock path. The stat is taken
before the read, so an archive rewritten during the read is read again at
the next invalidation.
"""

from __future__ import annotations

import os
import sys
import zipimport

STOCK = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int, int]] = {}  # archive -> stat at last read


def invalidate_caches(self) -> None:
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _read_at.pop(archive, None)
        return STOCK(self)
    key = (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(archive)
    if files is None or _read_at.get(archive) != key:
        STOCK(self)
        files = zipimport._zip_directory_cache.get(archive)
        if files is None:  # the read failed: STOCK left the importer empty
            _read_at.pop(archive, None)
            return
        _read_at[archive] = key
    self._files = files


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
