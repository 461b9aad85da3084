"""PySpark's worker daemon, with zip directories kept while the archive is
unchanged.

Spark pools Python workers, and every task they run calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On Python < 3.13 that makes every ``zipimport.zipimporter`` re-read its
archive's whole directory; a worker holds 16 of them (pyspark.zip under
12 path entries, Spark's core jar, py4j), 160-370 ms per task with four
workers at once. Here an archive is read again only when no directory is
cached for it or its ``(st_ino, st_size, st_mtime_ns)`` differs from this
process's last read, so a new, rewritten or removed archive is still seen
(the guarantee Python 3.13 gives, whose ``invalidate_caches`` only drops
the cached directory).

Run as ``python -m serverless_mapreduce_spark.worker_daemon <worker module>``
(``spark.python.daemon.module``): it records the identities once, before
the daemon forks its workers, then runs ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: archive path -> (st_ino, st_size, st_mtime_ns) at this process's last read
_read_at: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _identity(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    ident = _identity(self.archive)  # before the read: a later write re-reads
    cached = zipimport._zip_directory_cache.get(self.archive)
    if ident is not None and cached is not None and _read_at.get(self.archive) == ident:
        self._files = cached
        return
    _reread(self)
    if ident is None or self.archive not in zipimport._zip_directory_cache:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = ident


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # records the identities before the fork
    from pyspark.daemon import manager

    manager()
