"""sgspark benchmark: seeded workloads on local[4], checked outputs, one
JSON result line.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 40 \
        --trace 0

Run from the repository root (any directory works; paths resolve from this
file).  One process, one client, closed loop: each layer call is issued
after the previous one returned.

A run computes the reference answers from the seed, sets the workload up
REPS_SETUP times (inputs written as parquet under .perfbench_work/) and
starts a Spark session.  It then runs one cold pass and up to WARM_PASSES
warm passes, checks every call's output, times the pure-Spark control, and
prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The end-to-end metrics (`--trace 0`, END_TO_END) count CPU seconds, not
wall seconds: user + system time of this process, the Spark JVM and its
Python workers (`tree_cpu_s`).  On a shared host, the CPU time other
guests take (steal) stretches wall times two to three times as much, and
CPU times far less (perfbench/BASELINE.md).  `setup_s` is
the median set-up plus the session start; `cold_pass_cpu_s` the first pass;
`items_per_cpu_s` documents (`pip_tile`) or calls (`op_latency`) per CPU
second over the median warm pass after the first WARMUP_PASSES.  Wall times
are logged to stderr and reported per layer by the traced run.

`--seconds` caps the measured window: no warm pass starts once that many
seconds have passed since the cold pass began, beyond the first
WARMUP_PASSES + 1 (three in a traced run).  `--trace 1` runs three warm
passes, untraced, traced, untraced, tags each layer call's Spark jobs in
the traced one with a job group, reads the Spark event log, and reports
the per-layer metrics (`per_layer_names()`); its spans are written to
.perfbench_work/spans/.
`--smoke` shrinks every input for a quick check; `--corrupt STEP` alters
one reference answer, to show the check catches it.  A step that raises or
returns a wrong result counts in `failed`.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

CORES = 4
REPS_SETUP = 3
# warm passes per run: a fixed count, because passes keep getting faster
# for several passes after the cold one (JIT), so a time-bound count would
# move the median with the machine's speed; sized to keep a run near a
# minute on 4 cores.  The first WARMUP_PASSES of them, the ones that speed
# up most, are timed but left out of items_per_cpu_s.
WARM_PASSES = 3
WARMUP_PASSES = 1
CONTROL_ROWS = 2_000_000
CONTROL_JOBS = 1
END_TO_END = {"setup_s": "s", "cold_pass_cpu_s": "s",
              "items_per_cpu_s": "1/s"}
# per-layer metrics besides the LAYERS x LAYER_FIELDS grid of spans.py;
# peak RSS follows JVM heap growth and GC timing (a quarter apart between
# runs of one workload), too loose for an end-to-end bound
RUN_METRICS = {"session.start_s": ("s", "lower"),
               "session.control_s": ("s", "lower"),
               "session.peak_rss_mb": ("MB", "lower"),
               "network.distributed_s": ("s", "lower"),
               "joins.candidates": ("count", "lower"),
               "joins.hit_ratio": ("ratio", "higher"),
               "geom.wkb.from_wkt_us": ("us", "lower"),
               "geom.wkb.from_wkb_us": ("us", "lower"),
               "geom.predicates.pip_pairs_per_s": ("1/s", "higher"),
               "geom.clip.boolean_pairs_per_s": ("1/s", "higher"),
               "geom.offset.buffer_ms": ("ms", "lower"),
               "trace.pass_s": ("s", "lower"),
               "trace.untraced_pass_s": ("s", "lower"),
               "trace.overhead_s": ("s", "lower"),
               "trace.harness_s": ("s", "lower")}


def per_layer_names() -> dict[str, tuple[str, str]]:
    from spans import LAYER_FIELDS, LAYERS
    return {**{f"{layer}.{f}": (unit, better)
               for layer in LAYERS for f, unit, better in LAYER_FIELDS},
            **RUN_METRICS}


T_START = time.perf_counter()


def log(*a) -> None:
    print(f"[{time.perf_counter() - T_START:6.1f}s]", *a, file=sys.stderr,
          flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pip_tile", "op_latency"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for a quick end-to-end check")
    p.add_argument("--corrupt", metavar="STEP",
                   help="self-check: alter STEP's reference answer, so the "
                        "run must count that step as failed")
    a = p.parse_args(argv)
    if a.seed < 0:
        p.error("--seed must be >= 0")
    return a


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = ["spark.ui.showConsoleProgress=false",
            "spark.driver.extraJavaOptions=-XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 "spark.eventLog.rolling.enabled=false",
                 "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{ev}"]
    os.environ.update({
        "SGSPARK_EXTRA_CONF": ";".join(conf),
        "SGSPARK_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    os.environ.pop("SGSPARK_LOCAL_GRAPH_EDGES", None)


# ------------------------------------------------------------------------ #
# correctness
# ------------------------------------------------------------------------ #
def same_result(got, want) -> bool:
    """Tuples compare exactly; frames compare order-insensitively by
    sorted columns, with floats equal to 1e-6 (the oracles round to six
    decimals)."""
    import numpy as np
    import pandas as pd
    if not isinstance(want, pd.DataFrame):
        return tuple(got) == tuple(want)
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    cols = sorted(want.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(cols).reset_index(drop=True)

    a, b = norm(got), norm(want)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            if not np.allclose(av.astype(float), bv.astype(float), rtol=0,
                               atol=1e-6, equal_nan=True):
                return False
        elif not np.array_equal(av, bv):
            return False
    return True


def corrupted(want):
    """A reference answer that no correct output matches."""
    if isinstance(want, tuple):
        return (want[0] + 1,) + want[1:]
    return want.iloc[1:] if len(want) else want.iloc[:0].reindex([0])


# ------------------------------------------------------------------------ #
# passes
# ------------------------------------------------------------------------ #
class Runner:
    def __init__(self, steps, tracer, expected):
        self.steps = steps
        self.tracer = tracer
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.cpu = {}       # trace id -> CPU seconds of that pass

    def run_pass(self, trace_id: str, steps=None) -> float:
        """One pass over the steps: its wall seconds; its CPU seconds go
        to self.cpu."""
        steps = self.steps if steps is None else steps
        lat = []
        c0 = tree_cpu_s()
        with self.tracer.span("pass", trace_id=trace_id) as root:
            for st in steps:
                with self.tracer.span(st.name, st.layer, trace_id) as sp:
                    got, rows, t0 = None, 0, time.perf_counter()
                    t1 = t0
                    try:
                        out = st.call()
                        t1 = time.perf_counter()
                        got, rows = st.run(out)
                    except Exception:
                        log(f"step {st.name} raised:\n"
                            f"{traceback.format_exc()}")
                    t2 = time.perf_counter()
                sp.update(call_s=t1 - t0, run_s=t2 - t1, rows_out=rows)
                lat.append(t2 - t0)
                self.attempted += 1
                self.failed += got is None or not self.check(st.name, got)
        self.cpu[trace_id] = tree_cpu_s() - c0
        log(f"pass {trace_id}: cpu={self.cpu[trace_id]:.2f} " + " ".join(
            f"{st.name}={t:.3f}" for st, t in zip(steps, lat)))
        return root["t1"] - root["t0"]

    def check(self, name: str, got) -> bool:
        ok = same_result(got, self.expected[name])
        if not ok:
            log(f"step {name}: WRONG RESULT {got!r}")
        return ok


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) used so far by
    this process and its descendants: the driver, the Spark JVM and the
    JVM's Python workers."""
    kids, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:                 # ended meanwhile
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
        cpu[int(name)] = sum(map(int, fields[11:15]))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def control_seconds(spark) -> float:
    """Pure-Spark control (no sgspark code), warmed on smaller sizes first:
    a broadcast hash join + hash aggregate over spark.range (JVM
    throughput), then CONTROL_JOBS small jobs through a pandas stage
    (per-job scheduling and the Python-worker round trip, the fixed costs
    the workloads' calls pay).  It moves only with session settings or a
    contended machine."""
    from pyspark.sql import functions as F
    dim = spark.range(100_000).withColumnRenamed("id", "k") \
        .withColumn("v", F.xxhash64(F.col("k") * 7))

    def join(n):
        d = spark.range(n, numPartitions=2 * CORES) \
            .withColumn("k", F.col("id") % 100_000)
        return d.join(F.broadcast(dim), "k").agg(
            F.count("*"), F.sum(F.hash(F.col("id"), F.col("v")).cast("long")))

    def small(i):
        return spark.range(i, i + 4000, numPartitions=CORES) \
            .mapInPandas(lambda it: it, "id long").agg(F.sum("id"))

    join(CONTROL_ROWS // 10).collect()
    small(0).collect()
    t0 = time.perf_counter()
    join(CONTROL_ROWS).collect()
    for i in range(CONTROL_JOBS):
        small(i).collect()
    return time.perf_counter() - t0


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water RSS of the driver JVM plus this Python driver."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=120)


# ------------------------------------------------------------------------ #
def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sgspark", "__init__.py")):
        log(f"no sgspark package under {ROOT}: run from a checkout")
        return 2
    wl, traced = args.workload, bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{wl}-s{args.seed}-{os.getpid()}")
    configure_env(work, traced)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    warnings.filterwarnings("ignore", message="Cannot infer the eval type")
    import inputs
    from spans import Tracer, event_log_by_group, layer_metrics, self_time
    from workloads import ITEMS, SETUP, STEPS, TRACED_ONLY, WITHIN_JOINS, \
        candidate_rows
    from sgspark.session import get_spark

    wl, traced = args.workload, bool(args.trace)
    sizes = (inputs.SMOKE_SIZES if args.smoke else inputs.SIZES)[wl]
    keys = inputs.seeded_keys(args.seed, **sizes)
    # the reference answers, before any timed window: they read only the
    # key tables
    sf = os.path.join(work, "sf")
    inputs.write_key_tables(sf, keys)
    expect = (inputs.pip_tile_expected if wl == "pip_tile"
              else inputs.op_latency_expected)(sf, keys)
    if args.corrupt:
        expect[args.corrupt] = corrupted(expect[args.corrupt])
    log("reference answers ready")

    setup_cpu = []
    for rep in range(REPS_SETUP):
        d = os.path.join(work, f"setup{rep}")
        c0 = tree_cpu_s()
        SETUP[wl](keys, d)
        setup_cpu.append(tree_cpu_s() - c0)
    log(f"setup CPU seconds: {[round(t, 3) for t in setup_cpu]}")

    t0, c0 = time.perf_counter(), tree_cpu_s()
    spark = get_spark("perfbench", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    session_s, session_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    from pyspark import SparkContext
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        log(f"session started in {session_s:.3f}s, {session_cpu:.2f} CPU s")
        tracer = Tracer(spark.sparkContext)
        runner = Runner(STEPS[wl](spark, d), tracer, expect)

        t_start = time.perf_counter()
        cold = runner.run_pass("cold")
        warm, warm_ids, untraced, traced_ids = [], [], [], []
        # a traced run alternates untraced and traced passes, starting
        # and ending untraced, so the overhead compares like with like
        n_warm, n_min = (3, 3) if traced else (WARM_PASSES,
                                               WARMUP_PASSES + 1)
        while len(warm) < n_warm and (
                len(warm) < n_min
                or time.perf_counter() - t_start < args.seconds):
            tag = traced and len(warm) % 2 == 1
            tracer.tag_jobs = tag
            tid = f"warm{len(warm)}"
            wall = runner.run_pass(tid)
            warm.append(wall)
            warm_ids.append(tid)
            if tag:
                traced_ids.append(tid)
            else:
                untraced.append(wall)
        tracer.tag_jobs = False
        log(f"cold {cold:.3f}s; warm passes {[round(w, 3) for w in warm]}")

        extra = {}
        if traced:
            from kernels import kernel_rates
            # pairs out of the traced pass's within joins, checked above
            pairs = sum(s["rows_out"] for s in tracer.spans
                        if s["trace"] == traced_ids[-1]
                        and s["name"] in WITHIN_JOINS[wl])
            once = TRACED_ONLY[wl](spark, d)
            if once:
                tracer.tag_jobs = True
                runner.run_pass("extra", once)
                tracer.tag_jobs = False
                traced_ids.append("extra")
            extra["network.distributed_s"] = sum(
                s["t1"] - s["t0"] for s in tracer.spans
                if s["name"] == "network.distributed")
            cands = candidate_rows(spark, d, wl)
            extra.update(kernel_rates())
            extra["joins.candidates"] = cands
            extra["joins.hit_ratio"] = pairs / cands if cands else 0.0
        control = control_seconds(spark)
        log(f"session.control_s {control:.3f}")
        rss = peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)

    if not traced:
        items = len(keys.docs) if ITEMS[wl] == "docs" else len(runner.steps)
        measured = warm_ids[WARMUP_PASSES:]
        metrics = {
            # writing the inputs (median of REPS_SETUP) + starting Spark
            "setup_s": statistics.median(setup_cpu) + session_cpu,
            "cold_pass_cpu_s": runner.cpu["cold"],
            "items_per_cpu_s": items / statistics.median(
                runner.cpu[t] for t in measured),
        }
        units = END_TO_END
        log(f"items per pass {items}; wall clock: cold pass {cold:.3f} s, "
            f"items per second "
            f"{items / statistics.median(warm[WARMUP_PASSES:]):.4f}")
    else:
        ev_dir = os.path.join(work, "eventlog")
        logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
        groups = event_log_by_group(logs[0])
        spans = tracer.spans
        metrics = layer_metrics(spans, traced_ids, groups)
        roots = [s for s in spans if s["parent"] is None
                 and s["trace"] in traced_ids and s["trace"] != "extra"]
        t_pass = statistics.median(s["t1"] - s["t0"] for s in roots)
        t_plain = statistics.median(untraced)
        # the pass span's self time: the harness between layer calls
        harness = statistics.median(self_time(r, spans) for r in roots)
        metrics.update(extra)
        metrics.update({"session.start_s": session_s,
                        "session.control_s": control,
                        "session.peak_rss_mb": rss,
                        "trace.pass_s": t_pass,
                        "trace.untraced_pass_s": t_plain,
                        "trace.overhead_s": t_pass - t_plain,
                        "trace.harness_s": harness})
        units = {k: u for k, (u, _) in per_layer_names().items()}
        tracer.write(os.path.join(ROOT, ".perfbench_work", "spans",
                                  f"{wl}-seed{args.seed}-{os.getpid()}.json"))

    result = {"correct": runner.failed == 0, "attempted": runner.attempted,
              "failed": runner.failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": u}
                          for k, u in units.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
