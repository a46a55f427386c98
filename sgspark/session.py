"""SparkSession helpers with scale-appropriate defaults.

Confs chosen for the 100TB design point (see ARCHITECTURE.md):
AQE on (runtime skew-join splitting + partition coalescing), Arrow on
(every kernel is an Arrow-batched pandas UDF), shuffle partitions sized
to cores locally (cluster deployments override via spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    return b.getOrCreate()
