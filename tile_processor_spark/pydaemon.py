"""Python daemon for engine sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark.worker_util.setup_spark_files``). Before
Python 3.13 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole directory, and a
worker holds about 16 of them for ``pyspark.zip`` (1328 entries): about
0.18 s of Python CPU per task on Python 3.11, whatever the task does.
Python 3.13 made the re-read lazy, and there this module patches nothing.

Run as ``python -m tile_processor_spark.pydaemon``, the module makes that
re-read conditional on the archive having changed since it was last read
(see :func:`install`), reads each archive once, and then runs PySpark's
own daemon, whose forked workers inherit the guard and those reads. A zip
that Spark adds or replaces at run time is re-read as before.

Spark starts the daemon with ``python -m``, so this package must be
importable by every executor's Python, as it already must be for the
engine's UDFs, which workers import by reference. The JVM's working
directory comes first on that path: a checkout of another engine version
there shadows this one. Where the module cannot be imported, the daemon
never starts and every Python task fails with an ``EOFException``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    The guarded method re-reads an archive's directory only when the
    archive's ``(st_mtime_ns, st_size, st_ino)`` differs from what it was
    just before the last read of that archive. Otherwise the importer
    takes the directory of that read, as if it had read it again. Returns
    whether it patched, which it does not on Python 3.13+.
    """
    if sys.version_info >= (3, 13):
        return False
    reread = zipimport.zipimporter.invalidate_caches
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == sig:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        if self.archive in zipimport._zip_directory_cache:  # else the read failed
            last_read[self.archive] = (sig, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    install()
    importlib.invalidate_caches()  # one read per archive, before any fork
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
