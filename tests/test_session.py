"""Session set-up: the worker daemon (sgspark/_pydaemon.py), its
zip-directory guard, its bytecode import of pyspark and its preloaded,
GC-frozen kernel stack, the conf in `get_spark` that installs it, the
driver JVM's C1-only JIT (`session.JIT_OPTIONS`) and its class-data
sharing archive."""

import importlib.util
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest

from sgspark import _pydaemon, session

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


def _package(root, version):
    os.makedirs(root / "pyspark")
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(
        f"__version__: str = '{version}'\n")


@pytest.mark.parametrize("zipped, dropped", [("4.1.2", True),
                                             ("4.0.0", False)])
def test_bytecode_path_drops_only_a_twin_zip(tmp_path, zipped, dropped):
    lib, site = tmp_path / "python" / "lib", tmp_path / "site"
    os.makedirs(lib)
    _package(site, "4.1.2")
    archive = str(lib / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py",
                   f"__version__: str = '{zipped}'\n")
    path = [archive, str(tmp_path), str(site)]
    got = _pydaemon.bytecode_path(path, str(lib))
    assert got == (path[1:] if dropped else path)


def test_bytecode_path_keeps_a_zip_with_no_installed_copy(tmp_path):
    lib = tmp_path / "lib"
    os.makedirs(lib)
    archive = str(lib / "py4j-src.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("py4j/version.py", "__version__ = '0.10.9.9'\n")
    path = [archive, str(tmp_path)]
    assert _pydaemon.bytecode_path(path, str(lib)) == path


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
        modules, pyspark_file = spark.sparkContext.parallelize([0], 1).map(
            lambda _: (sorted(sys.modules), sys.modules["pyspark"].__file__)
        ).first()
        df = spark.range(100, numPartitions=1)
        df.mapInPandas(lambda it: it, df.schema).write.format(
            "noop").mode("overwrite").save()
        row = df.mapInPandas(counts, "frozen long, tracked long").first()
        print("PROBE", json.dumps({"modules": modules, "frozen": row.frozen,
                                   "tracked": row.tracked,
                                   "pyspark": pyspark_file}))
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


def test_workers_import_the_installed_pyspark(fresh_worker):
    """The installed pyspark is the release in $SPARK_HOME's pyspark.zip,
    so the daemon dropped the zip and imported the installed bytecode."""
    assert fresh_worker["pyspark"] == pyspark.__file__


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


# A driver that reports its archive flags, its JIT tier and whether
# get_spark left os.environ as it found it (SparkContext itself sets the
# two SPARK_ variables below), then runs a job; "LAST" is the script's own
# last line of output.
CDS_PROBE = """
    import os
    from sgspark.session import get_spark
    from test_session import _vm_option
    before = dict(os.environ)
    spark = get_spark("cds-probe", cores=1)
    changed = {k for k in before.keys() | os.environ.keys()
               if before.get(k) != os.environ.get(k)}
    print("ENV", sorted(changed - {"SPARK_AUTH_SOCKET_TIMEOUT",
                                   "SPARK_BUFFER_SIZE"}))
    for flag in ("SharedArchiveFile", "DumpLoadedClassList",
                 "TieredStopAtLevel"):
        print(flag, _vm_option(spark, flag) or "-")
    print("COUNT", spark.range(1000, numPartitions=2).count())
    spark.stop()
    print("LAST")
"""


def _probe(out: str) -> dict:
    return dict(line.split(" ", 1) for line in out.splitlines()
                if " " in line)


@pytest.fixture(scope="module")
def cds_sessions(tmp_path_factory):
    """Four fresh sessions over one empty user cache: the first lists its
    classes and dumps the archive at exit, the second maps it, and the
    last two find the archive's first half, then random bytes, under its
    name.  Yields each one's stdout and the cache's files after the
    first."""
    tmp = tmp_path_factory.mktemp("cds")
    cache = tmp / "sgspark"
    run = {"XDG_CACHE_HOME": str(tmp)}
    out = {"first": _fresh_session(CDS_PROBE, tmp, **run)}
    files = sorted(os.listdir(cache))
    out["second"] = _fresh_session(CDS_PROBE, tmp, **run)
    for name in files:
        if name.endswith(".jsa"):
            os.chmod(cache / name, 0o600)
            data = (cache / name).read_bytes()
            (cache / name).write_bytes(data[:len(data) // 2])
            out["truncated"] = _fresh_session(CDS_PROBE, tmp, **run)
            (cache / name).write_bytes(os.urandom(1 << 20))
            out["garbage"] = _fresh_session(CDS_PROBE, tmp, **run)
    yield dict(out, files=files, cache=str(cache))
    for name in os.listdir(cache):
        if name.endswith(".jsa"):
            os.unlink(cache / name)


def test_first_session_publishes_one_archive(cds_sessions):
    files = cds_sessions["files"]
    archives = [n for n in files if n.endswith(".jsa")]
    assert len(archives) == 1 and files == sorted(["conf"] + archives), files
    first = _probe(cds_sessions["first"])
    assert first["DumpLoadedClassList"].endswith(".classlist")
    assert first["SharedArchiveFile"] == "-"


def test_dumping_session_keeps_stdout(cds_sessions):
    assert cds_sessions["first"].splitlines()[-1] == "LAST"


def test_get_spark_leaves_the_environment(cds_sessions):
    for run in ("first", "second"):
        assert _probe(cds_sessions[run])["ENV"] == "[]"


def test_second_session_maps_the_archive(cds_sessions):
    second = _probe(cds_sessions["second"])
    archive = [n for n in cds_sessions["files"] if n.endswith(".jsa")][0]
    assert second["SharedArchiveFile"] == os.path.join(
        cds_sessions["cache"], archive)
    assert second["DumpLoadedClassList"] == "-"
    assert second["TieredStopAtLevel"] == "1"
    assert cds_sessions["second"].splitlines()[-1] == "LAST"


@pytest.mark.parametrize("run", ["truncated", "garbage"])
def test_damaged_archive_still_starts(cds_sessions, run):
    damaged = _probe(cds_sessions[run])
    assert damaged["SharedArchiveFile"].endswith(".jsa")
    assert damaged["COUNT"] == "1000"
    assert cds_sessions[run].splitlines()[-1] == "LAST"


def test_conf_dir_with_a_file_starts_stock(tmp_path):
    conf = tmp_path / "conf"
    os.makedirs(conf)
    (conf / "spark-defaults.conf").write_text("# a site's settings\n")
    out = _probe(_fresh_session(CDS_PROBE, tmp_path,
                                XDG_CACHE_HOME=str(tmp_path),
                                SPARK_CONF_DIR=str(conf)))
    assert out["SharedArchiveFile"] == out["DumpLoadedClassList"] == "-"
    assert out["COUNT"] == "1000"
    assert not os.path.exists(tmp_path / "sgspark")


@pytest.mark.parametrize("name, used", [("cache", True), ("my cache", False),
                                        ('"cache"', False)])
def test_cache_path_must_survive_option_parsing(tmp_path, monkeypatch, name,
                                                used):
    """Spark splits java options at whitespace: an archive path with a
    space would end the gateway before it started."""
    for var in session.CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / name))
    assert (session._driver_cds() is not None) == used


def _gateway(code: int):
    """A stand-in gateway process: exits with `code` at end of stdin."""
    return subprocess.Popen(
        [sys.executable, "-c", f"import sys; sys.stdin.read(); "
                               f"sys.exit({code})"],
        stdin=subprocess.PIPE)


def _java(tmp_path, code: int, size: int) -> str:
    """A stand-in java binary: writes `size` bytes to the file named by
    -XX:SharedArchiveFile= and exits with `code`."""
    java = tmp_path / "java"
    java.write_text(textwrap.dedent(f"""\
        #!{sys.executable}
        import sys
        out = next(a.partition("=")[2] for a in sys.argv
                   if a.startswith("-XX:SharedArchiveFile="))
        open(out, "wb").write(b"x" * {size})
        sys.exit({code})
    """))
    java.chmod(0o755)
    return str(java)


@pytest.mark.parametrize("gateway, dump, size, published", [
    (0, 0, 100, True), (1, 0, 100, False), (0, 1, 100, False),
    (0, 0, 0, False)])
def test_publish_moves_only_a_complete_dump(tmp_path, gateway, dump, size,
                                            published):
    cache = tmp_path / "cache"
    os.makedirs(cache)
    gone = _gateway(0)
    gone.communicate()
    classlist = cache / f"driver-new-{os.getpid() + 1}.classlist"
    stale = [cache / f"driver-new-{gone.pid}.{ext}"
             for ext in ("tmp", "classlist")]
    live = cache / f"driver-new-{os.getpid()}.tmp"
    old = cache / "driver-old.jsa"
    for f in [classlist, live, old] + stale:
        f.write_bytes(b"x")
    archive = cache / "driver-new.jsa"
    argv = [_java(tmp_path, dump, size), "-Xmx1g",
            f"-XX:DumpLoadedClassList={classlist}", session.SUBMIT_CLASS,
            "pyspark-shell", ""]
    session._publish(_gateway(gateway), argv, str(classlist), str(archive))
    assert sorted(os.listdir(cache)) == sorted(
        [live.name] + [archive.name] * published)
    if published:
        assert archive.stat().st_size == size


def test_publish_keeps_an_archive_published_meanwhile(tmp_path):
    """A session that finds the archive already published at its exit
    (another session dumped first) does not dump again."""
    archive = tmp_path / "driver-new.jsa"
    archive.write_bytes(b"published")
    classlist = tmp_path / f"driver-new-{os.getpid() + 1}.classlist"
    classlist.write_bytes(b"x")
    argv = [_java(tmp_path, 0, 100), session.SUBMIT_CLASS, ""]
    session._publish(_gateway(0), argv, str(classlist), str(archive))
    assert archive.read_bytes() == b"published"
    assert sorted(os.listdir(tmp_path)) == ["driver-new.jsa", "java"]
