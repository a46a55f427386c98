"""Compiled PIP vs Arrow-kernel refine of the distributed point x polygon
join: CPU seconds per call across input sizes, the evidence behind
`joins.PIP_COMPILED_MIN_PAIRS` (BENCH/PIP_ROUTE.md).

A cell is one (size, route) pair measured in its own fresh process on
local[4]: N synthetic document points (the first point of docs 0..N-1,
cached and materialized, as the pip_tile pipeline leaves them) joined
"within" M ngon64 zones through `sjoin_pairs(..., broadcast_right=False,
assume_left_points=True)`, the route forced by `config["use_jvm_pip"]`
("default" leaves it unset, so the size rule chooses).
The first call is "cold"; "warm" is the cheaper of the next two.  CPU is
that of the driver, the Spark JVM and its Python workers, read from /proc
(`perfbench/run.py:tree_cpu_s`).  Each call is timed to its materialized
output (pair count + XOR checksum), and both routes must give the same.

    python tools/pip_route.py                     # all cells -> markdown
    python tools/pip_route.py 64000x900 128000x1800   # chosen sizes
    python tools/pip_route.py --cell 8000 90 kernel   # one cell -> JSON
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

# (docs, zones): zones are every (1800 // M)-th key of range(1800), so the
# 90-zone layer is the pip_tile ngon layer's density
SIZES = [(8_000, 90), (64_000, 90), (64_000, 450), (64_000, 900),
         (64_000, 1800), (256_000, 1800)]
ROUTES = {"compiled": True, "kernel": False, "default": None}


def inputs(n_docs: int, n_zones: int):
    """Point and zone frames (pandas) plus the zone bbox stats the size
    rule reads."""
    import numpy as np
    import pandas as pd
    from sgspark.geom.array import points
    from sgspark.geom.wkb import from_wkt, to_wkb
    from sgspark.synth import first_point_xy, zone_ngon_wkt, zone_params

    px, py = first_point_xy(np.arange(n_docs, dtype=np.int64))
    xy = np.c_[px, py].astype(np.float64)
    pts = pd.DataFrame({"doc_index": np.arange(n_docs, dtype=np.int64),
                        "geometry": to_wkb(points(xy)),
                        "minx": xy[:, 0], "miny": xy[:, 1],
                        "maxx": xy[:, 0], "maxy": xy[:, 1]})
    keys = np.arange(0, 1800, 1800 // n_zones, dtype=np.int64)
    cx, cy, r = zone_params(keys)
    ga = from_wkt([zone_ngon_wkt(a, b, c) for a, b, c in zip(cx, cy, r)])
    b = ga.bounds()
    zones = pd.DataFrame({"zone_id": keys, "geometry": to_wkb(ga),
                          "minx": b[:, 0], "miny": b[:, 1],
                          "maxx": b[:, 2], "maxy": b[:, 3]})
    st = {"wx0": b[:, 0].min(), "wx1": b[:, 2].max(),
          "wy0": b[:, 1].min(), "wy1": b[:, 3].max(),
          "area": float(((b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])).sum())}
    return pts, zones, st


def cell(n_docs: int, n_zones: int, route: str) -> dict:
    from inputs import KEY_MULT
    from run import configure_env, stop_session, tree_cpu_s

    work = os.path.join(REPO, ".perfbench_work",
                        f"pip_route-{os.getpid()}")
    configure_env(work, trace=False)
    try:
        from pyspark.sql import functions as F
        from sgspark.conf import config_override
        from sgspark.joins import _pip_pairs_estimate, sjoin_pairs
        from sgspark.session import get_spark

        pts_pdf, zones_pdf, st = inputs(n_docs, n_zones)
        spark = get_spark("pip_route", cores=4)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            pts = spark.createDataFrame(pts_pdf).cache()
            pts.count()
            zones = spark.createDataFrame(zones_pdf)

            def call():
                with config_override(use_jvm_pip=ROUTES[route]):
                    out = sjoin_pairs(pts, zones, "within",
                                      left_id="doc_index",
                                      right_id="zone_id",
                                      broadcast_right=False,
                                      assume_left_points=True)
                r = out.agg(F.count("*"), F.expr(
                    f"coalesce(bit_xor(doc_index * {KEY_MULT} + zone_id),"
                    f" 0)")).first()
                return int(r[0]), int(r[1])

            cpu, res = [], set()
            for _ in range(3):
                c0 = tree_cpu_s()
                res.add(call())
                cpu.append(tree_cpu_s() - c0)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert len(res) == 1, res
    (pairs, xor), = res
    return {"docs": n_docs, "zones": n_zones, "route": route,
            "pairs": pairs, "xor": xor,
            "estimate": _pip_pairs_estimate(n_docs, st, 0.0),
            "cold_cpu_s": cpu[0], "warm_cpu_s": min(cpu[1:])}


def table(sizes) -> str:
    from sgspark.joins import PIP_COMPILED_MIN_PAIRS
    lines = ["| docs × zones | pairs | estimate | compiled cold / warm "
             "CPU-s | kernel cold / warm CPU-s | size rule picks |",
             "|---|---|---|---|---|---|"]
    for i, (n, m) in enumerate(sizes):
        got = {}
        # alternate which route runs first from size to size
        for route in ("compiled", "kernel")[::1 if i % 2 == 0 else -1]:
            p = subprocess.run(
                [sys.executable, __file__, "--cell", str(n), str(m), route],
                capture_output=True, text=True, check=True)
            got[route] = json.loads(p.stdout.strip().splitlines()[-1])
            print(json.dumps(got[route]), file=sys.stderr, flush=True)
        c, k = got["compiled"], got["kernel"]
        assert (c["pairs"], c["xor"]) == (k["pairs"], k["xor"]), (c, k)
        pick = ("compiled" if c["estimate"] >= PIP_COMPILED_MIN_PAIRS
                else "kernel")
        lines.append(
            f"| {n:,} × {m:,} | {c['pairs']:,} | {c['estimate']:,.0f} | "
            f"{c['cold_cpu_s']:.1f} / {c['warm_cpu_s']:.1f} | "
            f"{k['cold_cpu_s']:.1f} / {k['warm_cpu_s']:.1f} | {pick} |")
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sizes", nargs="*", metavar="DOCSxZONES",
                   help=f"default: {' '.join(f'{n}x{m}' for n, m in SIZES)}")
    p.add_argument("--cell", nargs=3, metavar=("DOCS", "ZONES", "ROUTE"))
    a = p.parse_args(argv)
    if a.cell:
        n, m, route = int(a.cell[0]), int(a.cell[1]), a.cell[2]
        if route not in ROUTES:
            p.error(f"ROUTE must be one of {sorted(ROUTES)}")
        print(json.dumps(cell(n, m, route)), flush=True)
    else:
        sizes = [tuple(int(v) for v in s.split("x")) for s in a.sizes]
        print(table(sizes or SIZES), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
