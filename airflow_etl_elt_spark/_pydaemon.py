"""Python worker daemon for this package's sessions (``spark.python.daemon.module``).

Runs PySpark's own ``pyspark.daemon.manager()`` unchanged, after one fix
for CPython < 3.12. PySpark calls ``importlib.invalidate_caches()`` at the
start of every task, and on 3.11 that makes every ``zipimporter`` re-read
its whole archive directory: 16 importers x the 1,328 entries of
``pyspark.zip``, 0.2-0.25 CPU-s per task on a 4-vCPU x86 host. The fix
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
differs from the last read, so a rewritten archive is still picked up.
Workers fork from the daemon, so every task in every worker gets it.
CPython 3.12 made the re-read lazy upstream; there the daemon is plain
``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives."""
    if sys.version_info >= (3, 12):
        return
    read = zipimport.zipimporter.invalidate_caches
    read_as: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_as.get(self.archive) == key:
            self._files = files
            return
        read(self)  # stat taken first: a rewrite during the read re-reads next time
        read_as[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    importlib.invalidate_caches()  # one read per archive here, none per forked task
    from pyspark.daemon import manager

    manager()
