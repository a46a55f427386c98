"""Spans around layer calls, and the per-layer figures read from them.

A span records one layer call made by the benchmark: its name, layer,
start and end, the span that caused it, the split between returning from
the public call (`call_s`: planning plus eager probes) and materializing
its output (`run_s`), and the rows out.  While tracing, every layer span
runs its Spark jobs in a job group of its own, so the Spark event log
attributes jobs, stages, tasks, task/CPU/GC time and shuffle bytes to the
span.  Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

LAYERS = ("io", "tiling", "joins", "knn", "overlay", "dissolve", "cleaning",
          "network")
# per-layer fields: (name, unit, better)
LAYER_FIELDS = (("call_s", "s", "lower"), ("run_s", "s", "lower"),
                ("jobs", "count", "lower"),
                ("stages", "count", "lower"), ("tasks", "count", "lower"),
                ("python_stages", "count", "lower"),
                ("task_s", "s", "lower"), ("cpu_s", "s", "lower"),
                ("gc_s", "s", "lower"), ("shuffle_mb", "MB", "lower"),
                ("rows_out", "rows", "higher"))
EVENT_FIELDS = ("jobs", "stages", "tasks", "python_stages", "task_s",
                "cpu_s", "gc_s", "shuffle_mb")
# plan nodes whose stages run Python workers (as sgspark.joins lists them)
PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "MapInArrow",
            "BatchEvalPython", "ArrowEvalPython", "FlatMapCoGroupsInPandas",
            "AttachDistributedSequence", "PythonRDD")
GROUP_PREFIX = "perfbench-"


class Tracer:
    """Collects spans.  With `tag_jobs`, each layer span sets a Spark job
    group named after its span id."""

    def __init__(self, sc=None, tag_jobs: bool = False):
        self.sc = sc
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None, trace_id: str = ""):
        sp = {"id": len(self.spans), "name": name, "layer": layer,
              "trace": trace_id,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "t0": time.perf_counter()}
        self.spans.append(sp)
        self._stack.append(sp)
        tagged = self.tag_jobs and layer is not None
        if tagged:
            self.sc.setJobGroup(GROUP_PREFIX + str(sp["id"]), name)
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            self._stack.pop()
            if tagged:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover (children
    of one span run one after another in this benchmark).  Layer spans
    have no children, so a layer's self time is its call_s + run_s; a pass
    span's self time is the harness work between its layer calls."""
    kids = sum(s["t1"] - s["t0"] for s in spans if s["parent"] == span["id"])
    return span["t1"] - span["t0"] - kids


def event_log_by_group(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, Python stages, task/CPU/GC
    seconds and shuffle MB written, from a Spark event log."""
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[tuple, str] = {}

    def acc(group):
        return out.setdefault(group, dict.fromkeys(EVENT_FIELDS, 0.0))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    acc(g)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                si = ev["Stage Info"]
                if g:
                    stage_group[(si["Stage ID"], si["Stage Attempt ID"])] = g
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                g = stage_group.get((si["Stage ID"], si["Stage Attempt ID"]))
                if g:
                    a = acc(g)
                    a["stages"] += 1
                    scopes = " ".join(str(r.get("Scope", "")) + str(
                        r.get("Name", "")) for r in si.get("RDD Info", []))
                    if any(p in scopes for p in PY_NODES):
                        a["python_stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if not g:
                    continue
                a = acc(g)
                m = ev.get("Task Metrics") or {}
                a["tasks"] += 1
                a["task_s"] += m.get("Executor Run Time", 0) / 1e3
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 1e6
    return out


def layer_metrics(spans: list[dict], traces: list[str],
                  groups: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-layer figures per traced pass: each layer's spans in the passes
    `traces`, summed and divided by the number of those passes that call
    the layer.  Spans of other layer names (not in LAYERS) are left out."""
    m = {f"{layer}.{f}": 0.0 for layer in LAYERS for f, _, _ in LAYER_FIELDS}
    passes: dict[str, set] = {}
    for sp in spans:
        if sp["layer"] not in LAYERS or sp["trace"] not in traces:
            continue
        key = sp["layer"]
        passes.setdefault(key, set()).add(sp["trace"])
        m[f"{key}.call_s"] += sp["call_s"]
        m[f"{key}.run_s"] += sp["run_s"]
        m[f"{key}.rows_out"] += sp["rows_out"]
        ev = groups.get(GROUP_PREFIX + str(sp["id"]), {})
        for f in EVENT_FIELDS:
            m[f"{key}.{f}"] += ev.get(f, 0.0)
    for key, seen in passes.items():
        for f, _, _ in LAYER_FIELDS:
            m[f"{key}.{f}"] /= len(seen)
    return m
