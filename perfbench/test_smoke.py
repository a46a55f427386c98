"""Smoke test of the benchmark at tiny sizes (`--smoke`).

    python3 -m pytest perfbench/test_smoke.py -q

It checks that every metric BENCHMARK.json names is emitted with its unit,
that a corrupted reference answer is counted as a failed operation, and that
the command fails without printing a result outside a checkout.  Each case
starts its own Spark session, so the file takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--seed", "3", "--seconds",
         "1", *args], cwd=cwd, capture_output=True, text=True, timeout=900)


def result(*args) -> dict:
    out = bench("--smoke", *args)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_named_metric_is_emitted(workload, trace):
    res = result("--workload", workload, "--trace", str(trace))
    named = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in named}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_corrupted_checksum_counts_as_failed():
    res = result("--workload", "pip_tile", "--trace", "0",
                 "--corrupt", "joins.ngon")
    # one failure per pass, out of four calls per pass
    assert not res["correct"]
    assert 1 <= res["failed"] < res["attempted"]


def test_fails_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = bench("--workload", "pip_tile", "--trace", "0", cwd=tmp_path)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
