"""Session set-up: the worker daemon (sgspark/_pydaemon.py), its
zip-directory guard and its preloaded, GC-frozen kernel stack, the conf
in `get_spark` that installs it, and the driver JVM's C1-only JIT
(`session.JIT_OPTIONS`)."""

import importlib.util
import json
import os
import subprocess
import sys
import textwrap
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


def test_workers_fork_from_a_frozen_daemon(spark):
    def probe(batches):
        import gc
        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    got = spark.range(4, numPartitions=2).mapInPandas(
        probe, "frozen long").collect()
    assert got and all(r.frozen > 0 for r in got)


def _fresh_session(script: str, cwd, **env) -> str:
    """stdout of `script` run in a new Python process, which can start
    its own session (with its own worker daemon) through get_spark."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, **env, PYTHONPATH=os.pathsep.join(
        [os.path.join(repo, "tests"), repo, os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", textwrap.dedent(script)],
                         env=env, cwd=cwd, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


@pytest.fixture(scope="module")
def fresh_worker(tmp_path_factory):
    """A fresh session's only worker: the modules a plain Python task
    that references no sgspark code finds loaded, then its frozen and
    tracked object counts, read by an Arrow task after an Arrow task."""
    out = _fresh_session("""
        import json, sys
        import pandas as pd
        from sgspark.session import get_spark

        def counts(batches):
            import gc
            for _ in batches:
                pass
            yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                                "tracked": [len(gc.get_objects())]})

        spark = get_spark("daemon-probe", cores=1)
        modules = spark.sparkContext.parallelize([0], 1).map(
            lambda _: sorted(sys.modules)).first()
        df = spark.range(100, numPartitions=1)
        df.mapInPandas(lambda it: it, df.schema).write.format(
            "noop").mode("overwrite").save()
        row = df.mapInPandas(counts, "frozen long, tracked long").first()
        print("PROBE", json.dumps({"modules": modules, "frozen": row.frozen,
                                   "tracked": row.tracked}))
        spark.stop()
    """, tmp_path_factory.mktemp("daemon-probe"))
    line = next(x for x in out.splitlines() if x.startswith("PROBE "))
    return json.loads(line[len("PROBE "):])


def test_workers_inherit_the_kernel_stack(fresh_worker):
    loaded = set(fresh_worker["modules"])
    for name in ("numpy", "pandas", "pyarrow", "sgspark.geom.predicates"):
        assert name in loaded, name


def test_worker_collections_skip_the_frozen_stack(fresh_worker):
    assert fresh_worker["frozen"] > 0
    assert fresh_worker["tracked"] < fresh_worker["frozen"] / 10, fresh_worker


def _vm_option(spark, name: str) -> str:
    """The driver JVM's value of HotSpot option `name`."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    return bean.getVMOption(name).getValue()


def test_driver_jvm_is_c1_only(spark):
    assert _vm_option(spark, "TieredStopAtLevel") == "1"


def test_extra_java_options_keep_c1_only(tmp_path):
    """A session whose SGSPARK_EXTRA_CONF sets
    spark.driver.extraJavaOptions (as perfbench/run.py does) stays C1
    only: get_spark sets the flag under defaultJavaOptions."""
    out = _fresh_session("""
        from sgspark.session import get_spark
        from test_session import _vm_option
        spark = get_spark("jit-probe", cores=1)
        print("TIER", _vm_option(spark, "TieredStopAtLevel"))
        spark.stop()
    """, tmp_path, SGSPARK_EXTRA_CONF="spark.driver.extraJavaOptions="
                                      "-XX:-UsePerfData")
    assert "TIER 1" in out
