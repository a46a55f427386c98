"""SparkSession helpers with scale-appropriate defaults.

Confs chosen for the 100TB design point (see ARCHITECTURE.md):
AQE on (runtime skew-join splitting + partition coalescing), Arrow on
(every kernel is an Arrow-batched pandas UDF), shuffle partitions sized
to cores locally (cluster deployments override via spark-submit).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from contextlib import suppress
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# C1 only in the driver JVM: Spark's planner runs a long, flat profile of
# lukewarm methods, and C2 compiling them cost more CPU per pass than it
# saved; the price is C1-compiled data loops for calls of millions of
# pairs on a local[N] master (ARCHITECTURE.md, BENCH/JIT.md)
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"

# Class-data sharing for the driver JVM: the first session's JVM lists the
# classes it loads, and at exit a JVM of the same build and options dumps
# them, parsed and verified, into a static archive (-Xshare:dump); later
# sessions map the archive instead of loading the classes from the jars
# (ARCHITECTURE.md, BENCH/COLD_START.md).  Listing costs the session
# nothing, where dumping from the session's own JVM at its exit
# (-XX:ArchiveClassesAtExit) cost it ~2 CPU-s in start-up and ~1 in its
# queries.  The JVM's CDS warnings would go to stdout, which callers such
# as perfbench keep for their own result.
CDS_QUIET = "-Xlog:cds*=off"
# Environment that puts directories beside $SPARK_HOME/jars on the driver's
# class path; JDK 17 refuses to dump with a non-empty one there, and the
# archive would not match it, so with any of these set the driver starts
# stock
CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                 "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
                 "SPARK_PREPEND_CLASSES")
# How long the exit of a listing session waits for each of its two JVMs,
# the gateway's exit and the dump (~30 s on 4 cores: it runs interpreted)
DUMP_WAIT_S = 300
# The driver's main class: on its command line, the JVM's options end here
SUBMIT_CLASS = "org.apache.spark.deploy.SparkSubmit"


def _cache_dir() -> str | None:
    """sgspark's directory in the user cache, or None when it is not this
    user's own (an archive there is mapped into the driver as code) or its
    path would not survive Spark's java-option parsing, which splits at
    whitespace and strips quotes and backslashes."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    d = os.path.join(base, "sgspark")
    if any(c.isspace() or c in "\"'\\" for c in d):
        return None
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.stat(d)
    except OSError:
        return None
    return d if st.st_uid == os.getuid() and not st.st_mode & 0o022 else None


def _archive_key(spark_home: str) -> str | None:
    """Hash of the JDK build (libjvm.so's real path and stat) and the class
    path ($SPARK_HOME/jars: names, sizes, mtimes), or None if either is
    missing."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if not java:
        return None
    libjvm = os.path.realpath(os.path.join(os.path.dirname(os.path.dirname(
        os.path.realpath(java))), "lib", "server", "libjvm.so"))
    jars = os.path.join(spark_home, "jars")
    h = hashlib.sha256()
    try:
        for path in [libjvm] + [os.path.join(jars, n)
                                for n in sorted(os.listdir(jars))]:
            st = os.stat(path)
            h.update(f"{path} {st.st_size} {st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return h.hexdigest()[:20]


class _Cds(NamedTuple):
    options: str           # for the driver's java command line
    conf_dir: str          # empty; the launcher's SPARK_CONF_DIR
    archive: str           # the keyed name sessions read
    classlist: str | None  # no archive yet: where the JVM lists classes


def _driver_cds() -> _Cds | None:
    """How the driver JVM maps the class archive -- or, the first time,
    lists the classes to dump into it -- or None when it has to start
    stock."""
    if any(os.environ.get(v) for v in CLASSPATH_ENV):
        return None
    spark_home = _find_spark_home()
    cache, key = _cache_dir(), _archive_key(spark_home)
    if cache is None or key is None:
        return None
    # Spark puts the conf dir on the class path: this one is sgspark's and
    # stays empty, standing in for $SPARK_HOME/conf when that holds only
    # templates
    conf = os.path.join(cache, "conf")
    try:
        stock = os.listdir(os.path.join(spark_home, "conf"))
    except FileNotFoundError:
        stock = []
    try:
        os.makedirs(conf, mode=0o700, exist_ok=True)
        if os.listdir(conf) or not all(n.endswith(".template")
                                       for n in stock):
            return None
    except OSError:
        return None
    archive = os.path.join(cache, f"driver-{key}.jsa")
    if os.path.isfile(archive):
        return _Cds(f"-XX:SharedArchiveFile={archive} {CDS_QUIET}", conf,
                    archive, None)
    # a name of this process's own; `_publish` dumps from it at exit
    classlist = os.path.join(cache, f"driver-{key}-{os.getpid()}.classlist")
    return _Cds(f"-XX:DumpLoadedClassList={classlist} {CDS_QUIET}", conf,
                archive, classlist)


def _gone(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ValueError, ProcessLookupError):
        return True
    except PermissionError:  # another user's process
        pass
    return False


def _publish(proc, argv: list[str], classlist: str, archive: str) -> None:
    """At exit: end the gateway JVM `proc`, which finishes `classlist` as
    it exits, and dump the listed classes with the java binary and options
    of its command line `argv`.  The dump moves to `archive` only if both
    JVMs exited 0 and the dump wrote something: JDK 17 crashes (SIGBUS)
    mapping a truncated archive, so a partial file must never carry the
    name sessions read.  Then delete other keys' archives, this process's
    files and those of processes that are gone."""
    dump = classlist[:-len(".classlist")] + ".tmp"
    try:
        if proc.stdin:
            proc.stdin.close()
        # no dump when another session published the archive meanwhile
        done = proc.wait(DUMP_WAIT_S) == 0 and not os.path.exists(archive)
        if done:
            options = [o for o in argv[1:argv.index(SUBMIT_CLASS)]
                       if not o.startswith("-XX:DumpLoadedClassList=")]
            done = subprocess.run(
                [argv[0], "-Xshare:dump",
                 f"-XX:SharedClassListFile={classlist}",
                 f"-XX:SharedArchiveFile={dump}", *options],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                timeout=DUMP_WAIT_S).returncode == 0
    except (OSError, ValueError, subprocess.SubprocessError):
        done = False
    with suppress(OSError):
        if done and os.path.getsize(dump) > 0:
            with open(dump, "rb") as f:
                os.fsync(f.fileno())
            os.replace(dump, archive)
    cache = os.path.dirname(archive)
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        base, _, ext = name.rpartition(".")
        if (ext == "jsa" and path != archive) or (
                ext in ("tmp", "classlist")
                and (path in (dump, classlist)
                     or _gone(base.rpartition("-")[2]))):
            with suppress(OSError):
                os.unlink(path)


def get_spark(app: str = "sgspark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if shuffle_partitions is None:
        # SGSPARK_SHUFFLE_PARTITIONS pins the partition count — the scaling
        # harness sets it IDENTICALLY at both parallelism levels so the
        # efficiency ratio measures parallelization of the same task set,
        # not a partition-size change riding along with the core count
        shuffle_partitions = int(os.environ.get(
            "SGSPARK_SHUFFLE_PARTITIONS", max(2 * cores, 8)))
    # SGSPARK_MASTER=local-cluster runs `cores` total cores as separate
    # executor JVMs (own heaps/GC — the multi-executor proxy the scaling
    # evidence uses); default stays single-JVM local[cores].
    if os.environ.get("SGSPARK_MASTER") == "local-cluster":
        exec_cores = int(os.environ.get("SGSPARK_EXEC_CORES", "4"))
        n_exec = max(cores // exec_cores, 1)
        mem_mb = int(os.environ.get("SGSPARK_EXEC_MEM_MB", "3072"))
        master = f"local-cluster[{n_exec},{exec_cores},{mem_mb}]"
    else:
        master = f"local[{cores}]"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # only a session that launches the gateway JVM can give it the archive
    cds = _driver_cds() if SparkContext._gateway is None else None
    b = (
        SparkSession.builder.master(master)
        .config("spark.executor.memory",
                os.environ.get("SGSPARK_EXEC_MEM_MB", "3072") + "m")
        # executor python workers need the package on path in multi-JVM
        # masters (the local stand-in for spark-submit --py-files)
        .config("spark.executorEnv.PYTHONPATH",
                repo + os.pathsep + os.environ.get("PYTHONPATH", ""))
        # forks the Python workers from sgspark/_pydaemon.py, which stops
        # every task re-reading pyspark.zip's directory (ARCHITECTURE.md)
        .config("spark.python.daemon.module", "sgspark._pydaemon")
        # defaultJavaOptions, not extraJavaOptions: Spark puts them first
        # on the JVM command line and SGSPARK_EXTRA_CONF users set
        # extraJavaOptions, which would otherwise overwrite them.  Driver
        # only: the planner runs there; executor JVMs keep stock tiering
        .config("spark.driver.defaultJavaOptions",
                f"{JIT_OPTIONS} {cds.options}" if cds else JIT_OPTIONS)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SGSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # extra confs for harness/profiling runs: "k=v;k=v" (e.g. event logs
    # for stage-timeline attribution — SGSPARK_EXTRA_CONF=
    # "spark.eventLog.enabled=true;spark.eventLog.dir=file:///tmp/ev")
    for kv in filter(None, os.environ.get("SGSPARK_EXTRA_CONF",
                                          "").split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    if cds is None:
        return b.getOrCreate()
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir  # unset: see _driver_cds
    try:
        spark = b.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    proc = getattr(SparkContext._gateway, "proc", None)
    if cds.classlist is not None and proc is not None:
        # the JVM's own command line: java, its options, the main class, ...
        with suppress(OSError), open(f"/proc/{proc.pid}/cmdline") as f:
            atexit.register(_publish, proc, f.read().split("\0"),
                            cds.classlist, cds.archive)
    return spark
