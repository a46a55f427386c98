"""The distributed point x polygon join's two executors side by side:
CPU seconds per call across input sizes (BENCH/PIP_ROUTE.md).

`sjoin_pairs(..., broadcast_right=False)` on a Python-free right runs
`points_dist` (the bucketed Arrow cogroup) when the caller vouches for
point lefts with `assume_left_points=True`, and `kernel_dist` (the cell
join feeding the Arrow refine) without it.  A cell is one (size, side)
pair measured in its own fresh process: N synthetic document points (the
first point of docs 0..N-1, cached and materialized, as the pip_tile
pipeline leaves them) joined `within` M ngon64 zones.

- Sides: `points` passes `assume_left_points=True`, `kernel` leaves it
  unset.  Both pass `broadcast_right=False`.
- Zones: up to 1800, every (1800 // M)-th key of range(1800), so the
  90-zone layer is the pip_tile ngon layer's density; above 1800, keys
  0..M-1 (100,000 zones hold ~110 MB of WKB, over the 64 MiB broadcast
  cap).
- With `--base DIR`, each size runs the `points` side on this checkout and
  on the one at DIR (its `sgspark` and `perfbench`), and the table shows
  the route each ran, as logged on `sgspark.route` (`points_dist` with
  its cogroup bucket count B).  Sizes alternate which checkout runs
  first.
- `--cores N` runs every cell on local[N] and adds the wall seconds and
  the pure-Spark control (`perfbench/run.py:control_seconds`) to the
  table, for the N -> 4N scaling check.

The first call is "cold"; "warm" is the cheaper of the next two.  CPU is
that of the driver, the Spark JVM and its Python workers, read from /proc
(`perfbench/run.py:tree_cpu_s`).  Each call is timed to its materialized
output (pair count + XOR checksum), and both sides of a row must give
the same.

    python tools/pip_route.py                       # all sizes -> markdown
    python tools/pip_route.py 64000x1800 8000x100000  # chosen sizes
    python tools/pip_route.py --cell 8000 90 points   # one cell -> JSON
    python tools/pip_route.py --base ../parent 8000x90
    python tools/pip_route.py --cores 1 64000x1800
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SIZES = [(8_000, 90), (64_000, 90), (64_000, 1800), (256_000, 1800),
         (8_000, 100_000)]
SIDES = {"points": True, "kernel": None}  # -> assume_left_points


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
    """Zone frame (pandas) of n_zones ngon64 zones."""
    import numpy as np
    import pandas as pd
    from sgspark.geom.wkb import from_wkt, to_wkb
    from sgspark.synth import zone_ngon_wkt, zone_params

    keys = np.arange(0, 1800, 1800 // n_zones, dtype=np.int64) \
        if n_zones <= 1800 else np.arange(n_zones, dtype=np.int64)
    cx, cy, r = zone_params(keys)
    ga = from_wkt([zone_ngon_wkt(a, b, c) for a, b, c in zip(cx, cy, r)])
    b = ga.bounds()
    return pd.DataFrame({"zone_id": keys, "geometry": to_wkb(ga),
                         "minx": b[:, 0], "miny": b[:, 1],
                         "maxx": b[:, 2], "maxy": b[:, 3]})


class _Routes(logging.Handler):
    def __init__(self):
        super().__init__()
        self.names = []

    def emit(self, record):  # points_dist also shows its bucket count
        b = record.stats.get("buckets")
        self.names.append(record.route + (f" (B={b})" if b else ""))


def cell(n_docs: int, n_zones: int, side: str, cores: int | None) -> dict:
    from inputs import KEY_MULT
    from run import configure_env, control_seconds, stop_session, tree_cpu_s

    work = os.path.join(REPO, ".perfbench_work",
                        f"pip_route-{os.getpid()}")
    configure_env(work, trace=False)
    routes = _Routes()
    log = logging.getLogger("sgspark.route")
    log.addHandler(routes)
    log.setLevel(logging.INFO)
    try:
        from pyspark.sql import functions as F
        from sgspark import joins
        from sgspark.session import get_spark

        pts_pdf, zones_pdf = point_frame(n_docs), zone_frame(n_zones)
        spark = get_spark("pip_route", cores=cores or 4)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            pts = spark.createDataFrame(pts_pdf).cache()
            pts.count()
            zones = spark.createDataFrame(zones_pdf)

            def call():
                out = joins.sjoin_pairs(
                    pts, zones, "within", left_id="doc_index",
                    right_id="zone_id", broadcast_right=False,
                    assume_left_points=SIDES[side])
                r = out.agg(F.count("*"), F.expr(
                    f"coalesce(bit_xor(doc_index * {KEY_MULT} + zone_id),"
                    f" 0)")).first()
                return int(r[0]), int(r[1])

            cpu, wall, res = [], [], set()
            for _ in range(3):
                c0, t0 = tree_cpu_s(), time.perf_counter()
                res.add(call())
                cpu.append(tree_cpu_s() - c0)
                wall.append(time.perf_counter() - t0)
            control = control_seconds(spark) if cores else None
        finally:
            stop_session(spark)
    finally:
        log.removeHandler(routes)
        shutil.rmtree(work, ignore_errors=True)
    assert len(res) == 1, res
    (pairs, xor), = res
    return {"docs": n_docs, "zones": n_zones, "side": side,
            "route": sorted(set(routes.names)), "cores": cores or 4,
            "pairs": pairs, "xor": xor,
            "cold_cpu_s": cpu[0], "warm_cpu_s": min(cpu[1:]),
            "cold_wall_s": wall[0], "warm_wall_s": min(wall[1:]),
            "control_s": control}


def run_cell(src: str, n: int, m: int, side: str, a) -> dict:
    """One cell in a fresh process on the checkout at `src`, started in
    `src`: the Python workers run `python -m`, which puts their working
    directory first on sys.path, so they import that checkout's
    `sgspark` like the driver does."""
    cmd = [sys.executable, __file__, "--cell", str(n), str(m), side,
           "--src", src]
    if a.cores:
        cmd += ["--cores", str(a.cores)]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=src)
    if p.returncode:  # the table reports the cell as failed
        print(f"{cmd} failed:\n{p.stderr[-3000:]}", file=sys.stderr,
              flush=True)
        return None
    got = json.loads(p.stdout.strip().splitlines()[-1])
    print(json.dumps(got), file=sys.stderr, flush=True)
    return got


def table(sizes, a) -> str:
    if a.base:
        sides = {"base": (a.base, "points"), "change": (REPO, "points")}
    else:
        sides = {k: (REPO, k) for k in SIDES}
    head = " | ".join(f"{k} route | {k} cold / warm CPU-s"
                      + (f" | {k} cold / warm wall-s | {k} control-s"
                         if a.cores else "") for k in sides)
    ncols = 2 + len(sides) * (4 if a.cores else 2)
    lines = [f"| docs × zones | pairs | {head} |", "|---" * ncols + "|"]
    for i, (n, m) in enumerate(sizes):
        order = list(sides)[::1 if i % 2 == 0 else -1]
        got = {k: run_cell(sides[k][0], n, m, sides[k][1], a)
               for k in order}
        first, *rest = [g for g in got.values() if g]
        for o in rest:
            assert (first["pairs"], first["xor"]) == (o["pairs"], o["xor"]), \
                (first, o)
        cols = []
        for k in sides:
            g = got[k]
            if g is None:
                cols += ["failed", "–"] + (["–", "–"] if a.cores else [])
                continue
            cols += [", ".join(g["route"]),
                     f"{g['cold_cpu_s']:.1f} / {g['warm_cpu_s']:.1f}"]
            if a.cores:
                cols += [f"{g['cold_wall_s']:.1f} / {g['warm_wall_s']:.1f}",
                         f"{g['control_s']:.2f}"]
        lines.append(f"| {n:,} × {m:,} | {first['pairs']:,} | "
                     + " | ".join(cols) + " |")
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sizes", nargs="*", metavar="DOCSxZONES",
                   help=f"default: {' '.join(f'{n}x{m}' for n, m in SIZES)}")
    p.add_argument("--cell", nargs=3, metavar=("DOCS", "ZONES", "SIDE"))
    p.add_argument("--base", metavar="DIR",
                   help="run the points side on the checkout at DIR too")
    p.add_argument("--cores", type=int,
                   help="local[N] (default 4), with wall and control "
                        "seconds in the table")
    p.add_argument("--src", default=REPO, help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    src = os.path.abspath(a.src)
    sys.path[:0] = [src, os.path.join(src, "perfbench")]
    if a.cell:
        n, m, side = int(a.cell[0]), int(a.cell[1]), a.cell[2]
        if side not in SIDES:
            p.error(f"SIDE must be one of {sorted(SIDES)}")
        print(json.dumps(cell(n, m, side, a.cores)), flush=True)
    else:
        a.base = a.base and os.path.abspath(a.base)
        sizes = [tuple(int(v) for v in s.split("x")) for s in a.sizes]
        print(table(sizes or SIZES, a), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
