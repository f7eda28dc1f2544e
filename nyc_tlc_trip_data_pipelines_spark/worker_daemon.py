"""Python worker daemon for local sessions: ``pyspark.daemon`` with the
per-task zip-directory re-read removed.

Every Python task starts with ``worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython < 3.12 that makes
every ``zipimporter`` re-read its archive's central directory at once:
one read per importer (about 17 for ``pyspark.zip``'s packages), each
0.15 s of CPU for ``pyspark.zip`` — more than a k-means assignment
task's UDF time. Here an importer's ``invalidate_caches`` re-reads only
when the archive's ``(st_mtime_ns, st_size)`` differs from the last
read of that archive; otherwise it takes the directory of that read.
The daemon primes the record once before it forks, so forked workers
inherit it. CPython 3.12 made the stock call lazy; there this module
only runs the stock daemon.

``session.get_spark`` names this module as ``spark.python.daemon.module``
for ``local[...]`` masters; Spark starts it as
``python -m <this module> pyspark.worker``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> ((st_mtime_ns, st_size) before the read, directory read)
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport`` so an unchanged archive is not re-read."""
    stock_read = zipimport._read_directory
    if getattr(stock_read, "_stat_keyed", False):
        return

    def read_directory(archive):
        key = _stat_key(archive)
        files = stock_read(archive)
        if key is not None:
            _READS[archive] = (key, files)
        return files

    def invalidate_caches(self):
        seen = _READS.get(self.archive)
        if seen is None or seen[0] != _stat_key(self.archive):
            return stock_invalidate(self)
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]

    read_directory._stat_keyed = True
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    if sys.version_info < (3, 12):
        install()
    from pyspark.daemon import manager

    if sys.version_info < (3, 12):
        importlib.invalidate_caches()  # one read per archive, before the forks
    manager()


if __name__ == "__main__":
    main()
