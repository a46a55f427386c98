"""Session set-up: the worker daemon's zip-directory guard
(sgspark/_pydaemon.py) and the conf in `get_spark` that installs it."""

import importlib.util
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from sgspark import _pydaemon

LAZY_STOCK = sys.version_info >= (3, 13)


def _load(importer, name):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(LAZY_STOCK, reason="stock invalidate_caches is lazy")
def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport, "_read_directory",
                        zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _pydaemon.install()
    archive = str(tmp_path / "mods.zip")

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)

    write(a="X = 1\n")
    importer = zipimport.zipimporter(archive)
    try:
        assert _load(importer, "a").X == 1
        files = importer._files
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert importer._files is files  # unchanged archive: not re-read

        write(a="X = 1\n", b="Y = 2\n")
        importer.invalidate_caches()
        assert _load(importer, "b").Y == 2
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_workers_run_the_guard(spark):
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "sgspark._pydaemon")

    def probe(batches):
        import zipimport
        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"file": [code.co_filename]})

    files = {r.file for r in spark.range(4, numPartitions=2)
             .mapInPandas(probe, "file string").collect()}
    if LAZY_STOCK:
        assert files == {"<frozen zipimport>"}
    else:
        assert len(files) == 1 and files.pop().endswith("_pydaemon.py")
