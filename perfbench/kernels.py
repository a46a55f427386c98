"""Driver-side rates of the numpy geometry kernels on fixed seeded arrays.

The arrays do not depend on `--seed`, so the rates compare across runs and
commits.  Each rate is the median of REPS timed repetitions.
"""

from __future__ import annotations

import math
import statistics
import time

import numpy as np

REPS = 3


def _median_time(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _lshape(x0: float, y0: float, s: float, aa: float, bb: float,
            rot: float) -> np.ndarray:
    """Closed CCW L-shape ring (the overlay gates' shape), rotated."""
    pts = np.array([(x0, y0), (x0 + s, y0), (x0 + s, y0 + bb),
                    (x0 + aa, y0 + bb), (x0 + aa, y0 + s), (x0, y0 + s),
                    (x0, y0)], dtype=np.float64)
    c, s_ = math.cos(rot), math.sin(rot)
    return pts @ np.array([[c, s_], [-s_, c]])


def kernel_rates() -> dict[str, float]:
    from sgspark.geom.clip import polygon_boolean
    from sgspark.geom.offset import buffer_polygon
    from sgspark.geom.predicates import pip_pairs_vectorized
    from sgspark.geom.wkb import from_wkb, from_wkt, to_wkb
    from sgspark.synth import gen_documents_pdf, zone_ngon_wkt

    rng = np.random.default_rng(0)
    wkts = [sp["media_ref"][4:]
            for spans in gen_documents_pdf(np.arange(3000))["spans"]
            for sp in spans if sp["media_ref"].startswith("geo:")]
    blobs = to_wkb(from_wkt(wkts))

    ngons = from_wkt([zone_ngon_wkt(1000.0 * i, 0.0, 400.5)
                      for i in range(50)])
    ri = rng.integers(0, 50, 200_000)
    px = ri * 1000.0 + rng.uniform(-400, 400, len(ri))
    py = rng.uniform(-400, 400, len(ri))

    a = [_lshape(0, 0, 80 + 4 * (i % 5), 40 + 8 * (i % 3), 32 + 6 * (i % 7),
                 math.pi / 4) for i in range(200)]
    b = [_lshape(dx, dy, 90, 50, 40, math.pi / 4)
         for dx, dy in rng.uniform(-40, 40, (200, 2))]

    t_wkt = _median_time(lambda: from_wkt(wkts))
    t_wkb = _median_time(lambda: from_wkb(blobs))
    t_pip = _median_time(lambda: pip_pairs_vectorized(px, py, ngons, ri))
    t_bool = _median_time(lambda: [polygon_boolean([[ra]], [[rb]],
                                                   "intersection")
                                   for ra, rb in zip(a, b)])
    t_buf = _median_time(lambda: [buffer_polygon([[ra]], 1.5, quad_segs=8)
                                  for ra in a])
    return {"geom.wkb.from_wkt_us": t_wkt / len(wkts) * 1e6,
            "geom.wkb.from_wkb_us": t_wkb / len(blobs) * 1e6,
            "geom.predicates.pip_pairs_per_s": len(ri) / t_pip,
            "geom.clip.boolean_pairs_per_s": len(a) / t_bool,
            "geom.offset.buffer_ms": t_buf / len(a) * 1e3}
