"""Python worker daemon for sessions built by `sgspark.session.get_spark`
(conf `spark.python.daemon.module`).

pyspark ends every task's file setup with `importlib.invalidate_caches()`.
Before Python 3.13 that makes each zipimporter re-read its archive's whole
central directory, and workers importing pyspark from `pyspark.zip` hold
about 16 of them: ~0.2 worker CPU-s per task on 4 cores, over 80% of a
warm trivial task's worker CPU (BENCH/PY_TASK_FLOOR.md).  The guard
below re-reads an archive only when its (inode, size, mtime) changed since
it was last read; 3.13 made the stock method lazy, so it is left alone
there.  Workers forked from this daemon inherit the guard.
"""

import os
import sys
import zipimport


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install():
    """Guard `zipimporter.invalidate_caches` (no-op on Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return
    read = zipimport._read_directory
    stock = zipimport.zipimporter.invalidate_caches
    last = {}  # archive -> (stat key taken before its last read, directory)

    def _read_directory(archive):
        key = _stat_key(archive)
        files = read(archive)
        last[archive] = key, files
        return files

    def invalidate_caches(self):
        # the importers of one archive share its last read's directory
        key, files = last.get(self.archive, (None, None))
        if key is not None and key == _stat_key(self.archive):
            self._files = files
        else:
            stock(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    install()
    importlib.invalidate_caches()  # read each archive once, before the fork
    manager()
