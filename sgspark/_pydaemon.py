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

Before it forks, the daemon also imports the kernel stack (`PRELOAD`) and
calls `gc.freeze()`.  pyspark's daemon runs a full `gc.collect()` after
every task of a reused worker.  When each worker imported pandas, pyarrow
and the kernels for itself, that collection walked their ~73k objects
after every task, and the imports cost each new worker 0.4-0.6 CPU-s.
Forked after the preload, workers share those modules
copy-on-write, and their collections skip the frozen objects
(BENCH/PY_TASK_FLOOR.md).

Spark puts `$SPARK_HOME/python/lib/pyspark.zip` (and py4j's zip) first on
the daemon's path.  The zip holds sources only, so every daemon compiled
pyspark afresh: 0.6-1.1 CPU-s per session.  When the same release is
installed further down the path, `bytecode_path` drops the zip, and
pyspark imports from the installed copy's bytecode instead
(BENCH/COLD_START.md).
"""

import gc
import importlib
import os
import sys
import zipfile
import zipimport

# The modules a warm worker held, beyond the stock daemon's, after the
# benchmark workloads' kernels ran: pandas and pyarrow (with their own
# dependencies; pandas_compat converts every Arrow batch), and the sgspark
# modules the kernels' pickles reference.
PRELOAD = (
    "numpy", "pandas", "pyarrow", "pyarrow.pandas_compat",
    "sgspark.geom", "sgspark.geom.array", "sgspark.geom.buffer",
    "sgspark.geom.clip", "sgspark.geom.crs", "sgspark.geom.measure",
    "sgspark.geom.offset", "sgspark.geom.predicates", "sgspark.geom.rectops",
    "sgspark.geom.wkb",
    "sgspark.cells", "sgspark.conf", "sgspark.dissolve", "sgspark.io",
    "sgspark.joins", "sgspark.overlay",
)


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _installed_twin(archive, path):
    """Whether every top-level package in zip `archive` has a version.py,
    and the copy that `path` (directories only) would import instead has
    the same one."""
    try:
        with zipfile.ZipFile(archive) as z:
            versions = {n.split("/")[0]: z.read(n) for n in z.namelist()
                        if n.count("/") == 1 and n.endswith("/version.py")}
        for pkg, text in versions.items():
            found = next((os.path.join(d or ".", pkg) for d in path
                          if os.path.isdir(os.path.join(d or ".", pkg))),
                         None)
            if found is None:
                return False
            with open(os.path.join(found, "version.py"), "rb") as f:
                if f.read() != text:
                    return False
    except (OSError, zipfile.BadZipFile):
        return False
    return bool(versions)


def bytecode_path(path, lib):
    """`path` without its zips in directory `lib` whose packages an entry
    left on `path` installs at the same version (the text of
    `<package>/version.py`); a zip with no such twin stays."""
    lib = os.path.realpath(lib)
    zips = [p for p in path if p.endswith(".zip")
            and os.path.dirname(os.path.realpath(p)) == lib]
    rest = [p for p in path if p not in zips]
    return [p for p in path
            if p not in zips or not _installed_twin(p, rest)]


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
    if os.environ.get("SPARK_HOME"):
        keep = bytecode_path(sys.path, os.path.join(
            os.environ["SPARK_HOME"], "python", "lib"))
        for p in set(sys.path) - set(keep):
            sys.path_importer_cache.pop(p, None)
        sys.path[:] = keep
    from pyspark.daemon import manager

    install()
    importlib.invalidate_caches()  # read each archive once, before the fork
    for name in PRELOAD:
        importlib.import_module(name)
    gc.collect()
    gc.freeze()  # no collection in a forked worker scans what is held now
    manager()
