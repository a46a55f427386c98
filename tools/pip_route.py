"""Compiled PIP vs Arrow-kernel refine of the point x polygon join: CPU
seconds per call across input sizes, the evidence behind
`joins.PIP_COMPILED_MIN_PAIRS` (BENCH/PIP_ROUTE.md).

A cell is one (size, route) pair measured in its own fresh process on
local[4]: N synthetic document points (the first point of docs 0..N-1,
cached and materialized, as the pip_tile pipeline leaves them) joined to
M ngon64 zones through `sjoin_pairs(..., assume_left_points=True)`.

- Distributed cells (the default) pass `broadcast_right=False`.  The route
  is pinned through `joins.PIP_COMPILED_MIN_PAIRS`: "compiled" sets it to
  0, "kernel" to infinity, and "default" leaves it, so the size rule
  chooses.
- `--broadcast` cells leave `broadcast_right` unset, so the auto
  broadcast route runs; only "default" applies there.
- `--predicate dwithin` (at `--distance`, default 100) refines these
  polygon zones with the Arrow kernel only, so only "default" applies to
  it too.
- With `--base DIR` each size is measured with route "default" on this
  checkout and on the one at DIR (its `sgspark` and `perfbench`), and
  the table sets the two side by side.  Without it, distributed `within`
  cells set the pinned compiled and kernel routes side by side, and every
  other table has the one default column.

The first call is "cold"; "warm" is the cheaper of the next two.  CPU is
that of the driver, the Spark JVM and its Python workers, read from /proc
(`perfbench/run.py:tree_cpu_s`).  Each call is timed to its materialized
output (pair count + XOR checksum), and both sides of a row must give
the same.

    python tools/pip_route.py                     # all cells -> markdown
    python tools/pip_route.py 64000x900 128000x1800   # chosen sizes
    python tools/pip_route.py --cell 8000 90 kernel   # one cell -> JSON
    python tools/pip_route.py --broadcast --base ../parent 8000x90
    python tools/pip_route.py --base ../parent --predicate dwithin \
        --distance 1 64000x1800
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (docs, zones): zones are every (1800 // M)-th key of range(1800), so the
# 90-zone layer is the pip_tile ngon layer's density
SIZES = [(8_000, 90), (64_000, 90), (64_000, 450), (64_000, 900),
         (64_000, 1800), (256_000, 1800)]
ROUTES = {"compiled": 0, "kernel": float("inf"), "default": None}


def point_frame(n_docs: int):
    """The first point of docs 0..n_docs-1 (pandas)."""
    import numpy as np
    import pandas as pd
    from sgspark.geom.array import points
    from sgspark.geom.wkb import to_wkb
    from sgspark.synth import first_point_xy

    px, py = first_point_xy(np.arange(n_docs, dtype=np.int64))
    xy = np.c_[px, py].astype(np.float64)
    return pd.DataFrame({"doc_index": np.arange(n_docs, dtype=np.int64),
                         "geometry": to_wkb(points(xy)),
                         "minx": xy[:, 0], "miny": xy[:, 1],
                         "maxx": xy[:, 0], "maxy": xy[:, 1]})


def zone_frame(n_zones: int):
    """Zone frame (pandas) plus the zone bbox stats the size rule
    reads."""
    import numpy as np
    import pandas as pd
    from sgspark.geom.wkb import from_wkt, to_wkb
    from sgspark.synth import zone_ngon_wkt, zone_params

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
    return zones, st


def cell(n_docs: int, n_zones: int, route: str, *, broadcast: bool,
         predicate: str, distance: float) -> dict:
    from inputs import KEY_MULT
    from run import configure_env, stop_session, tree_cpu_s

    work = os.path.join(REPO, ".perfbench_work",
                        f"pip_route-{os.getpid()}")
    configure_env(work, trace=False)
    try:
        from pyspark.sql import functions as F
        from sgspark import joins
        from sgspark.session import get_spark

        if ROUTES[route] is not None:
            joins.PIP_COMPILED_MIN_PAIRS = ROUTES[route]
        pts_pdf, (zones_pdf, _) = point_frame(n_docs), zone_frame(n_zones)
        spark = get_spark("pip_route", cores=4)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            pts = spark.createDataFrame(pts_pdf).cache()
            pts.count()
            zones = spark.createDataFrame(zones_pdf)
            dist = distance if predicate == "dwithin" else None

            def call():
                out = joins.sjoin_pairs(
                    pts, zones, predicate, left_id="doc_index",
                    right_id="zone_id", distance=dist,
                    broadcast_right=None if broadcast else False,
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
            "broadcast": broadcast, "predicate": predicate,
            "distance": dist, "pairs": pairs, "xor": xor,
            "cold_cpu_s": cpu[0], "warm_cpu_s": min(cpu[1:])}


def run_cell(src: str, n: int, m: int, route: str, a) -> dict:
    """One cell in a fresh process on the checkout at `src`, started in
    `src`: the Python workers run `python -m`, which puts their working
    directory first on sys.path, so they import that checkout's
    `sgspark` like the driver does."""
    cmd = [sys.executable, __file__, "--cell", str(n), str(m), route,
           "--src", src, "--predicate", a.predicate,
           "--distance", repr(a.distance)]
    if a.broadcast:
        cmd.append("--broadcast")
    p = subprocess.run(cmd, capture_output=True, text=True, check=True,
                       cwd=src)
    got = json.loads(p.stdout.strip().splitlines()[-1])
    print(json.dumps(got), file=sys.stderr, flush=True)
    return got


def table(sizes, a) -> str:
    from sgspark.joins import PIP_COMPILED_MIN_PAIRS, _pip_pairs_estimate
    pinned = not (a.base or a.broadcast or a.predicate == "dwithin")
    if pinned:
        sides = {"compiled": REPO, "kernel": REPO}
        route = {k: k for k in sides}
        head = ("compiled cold / warm CPU-s | kernel cold / warm CPU-s | "
                "size rule picks")
    else:
        # side by side: the base checkout's default vs this one's
        sides = {"base": a.base, "change": REPO} if a.base \
            else {"change": REPO}
        route = {k: "default" for k in sides}
        head = " | ".join(f"{k} default cold / warm CPU-s" for k in sides)
    lines = [f"| docs × zones | pairs | estimate | {head} |",
             "|---" * (3 + len(sides) + pinned) + "|"]
    for i, (n, m) in enumerate(sizes):
        estimate = _pip_pairs_estimate(n, zone_frame(m)[1])
        # alternate which side runs first from size to size
        order = list(sides)[::1 if i % 2 == 0 else -1]
        got = {k: run_cell(sides[k], n, m, route[k], a) for k in order}
        first, *rest = got.values()
        for o in rest:
            assert (first["pairs"], first["xor"]) == (o["pairs"], o["xor"]), \
                (first, o)
        cols = [f"{got[k]['cold_cpu_s']:.1f} / {got[k]['warm_cpu_s']:.1f}"
                for k in sides]
        if pinned:
            cols.append("compiled" if estimate >= PIP_COMPILED_MIN_PAIRS
                        else "kernel")
        lines.append(f"| {n:,} × {m:,} | {first['pairs']:,} | "
                     f"{estimate:,.0f} | " + " | ".join(cols) + " |")
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sizes", nargs="*", metavar="DOCSxZONES",
                   help=f"default: {' '.join(f'{n}x{m}' for n, m in SIZES)}")
    p.add_argument("--cell", nargs=3, metavar=("DOCS", "ZONES", "ROUTE"))
    p.add_argument("--broadcast", action="store_true",
                   help="auto broadcast route instead of the distributed one")
    p.add_argument("--predicate", choices=("within", "dwithin"),
                   default="within")
    p.add_argument("--distance", type=float, default=100.0,
                   help="dwithin distance (default: %(default)g)")
    p.add_argument("--base", metavar="DIR",
                   help="also measure the checkout at DIR, both on the "
                        "default route")
    p.add_argument("--src", default=REPO, help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    src = os.path.abspath(a.src)
    sys.path[:0] = [src, os.path.join(src, "perfbench")]
    if a.cell:
        n, m, route = int(a.cell[0]), int(a.cell[1]), a.cell[2]
        if route not in ROUTES or route != "default" and (
                a.broadcast or a.predicate == "dwithin"):
            p.error("ROUTE must be default with --broadcast or --predicate "
                    f"dwithin, else one of {sorted(ROUTES)}")
        print(json.dumps(cell(n, m, route, broadcast=a.broadcast,
                              predicate=a.predicate, distance=a.distance)),
              flush=True)
    else:
        a.base = a.base and os.path.abspath(a.base)
        sizes = [tuple(int(v) for v in s.split("x")) for s in a.sizes]
        print(table(sizes or SIZES, a), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
