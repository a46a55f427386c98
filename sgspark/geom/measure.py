"""Thinness / inscribed-radius measurement kernels.

The reference classifies holes/gaps/slivers as "thin" by testing whether a
NEGATIVE buffer empties them (`polygon_operations.py:1058-1322`
close_thin_holes: hole.buffer(-tolerance/2) empty; cleaning.py gap
filtering).  Erosion emptiness by r is equivalent to max-inscribed-circle
radius < r.  Without GEOS we compute the max inscribed radius with a
deterministic grid sample + exact point-to-segment distances:

    answer ∈ [R - pitch/√2, R]   (a disk of radius R contains a sample
    point within pitch/√2 of its center)

so classification against tolerance/2 is exact whenever the true radius is
at least pitch/√2 away from the threshold — callers pick pitch accordingly
(default tolerance/8).
"""

from __future__ import annotations

import numpy as np


def points_in_ring(px: np.ndarray, py: np.ndarray,
                   ring: np.ndarray) -> np.ndarray:
    """Vectorized crossing-count point-in-ring (closed ring)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    cond = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (py[:, None] - y1[None, :]) \
            / (y2 - y1)[None, :] + x1[None, :]
    return (cond & (px[:, None] < xint)).sum(axis=1) % 2 == 1


def dist_to_ring(px: np.ndarray, py: np.ndarray,
                 ring: np.ndarray) -> np.ndarray:
    """Min distance from each point to the ring boundary (exact)."""
    a = ring[:-1]
    b = ring[1:]
    d = b - a
    ll = (d * d).sum(axis=1)
    rx = px[:, None] - a[None, :, 0]
    ry = py[:, None] - a[None, :, 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(np.where(ll[None, :] > 0,
                             (rx * d[None, :, 0] + ry * d[None, :, 1])
                             / ll[None, :], 0.0), 0.0, 1.0)
    cx = a[None, :, 0] + t * d[None, :, 0]
    cy = a[None, :, 1] + t * d[None, :, 1]
    return np.sqrt(np.min((px[:, None] - cx) ** 2 + (py[:, None] - cy) ** 2,
                          axis=1))


def ring_thin(ring: np.ndarray, pitch: float, thr: float) -> bool:
    """True iff max inscribed radius < thr — THRESHOLD-AWARE fast path for
    the thinness classifiers.  Sound prefilters (bbox min-side and area
    bounds on the inscribed radius), then COARSE-TO-FINE grid sampling with
    early exit: one interior sample at distance >= thr proves NOT-thin, so
    fat shapes exit on a handful of coarse samples instead of paying the
    full tolerance/8 grid (the coverage_clean frame polygons did exactly
    that)."""
    return parts_thin([[ring]], pitch, thr)


def parts_thin(parts: list[list[np.ndarray]], pitch: float,
               thr: float) -> bool:
    """True iff max inscribed radius over all parts < thr (holes
    respected) — i.e. the polygon's erosion by thr is empty, the
    reference's literal buffer(-tolerance/2) definition.

    Tiered: sound bbox/area prefilters (inscribed radius <= min(w,h)/2 and
    <= sqrt(area/pi)), then the EXACT erosion kernel (geom/offset.py)
    whose emptiness is the definition itself — no tolerance/8 grid over a
    sliver's huge bbox (which made coverage_clean's frame polygons cost
    seconds each).  The grid sampler (`pitch`) remains only as the fallback
    when the offset kernel's degeneracy ladder exhausts."""
    from .clip import ring_area
    pending = []
    for rings in parts:
        ext = rings[0]
        w = float(ext[:, 0].max() - ext[:, 0].min())
        h = float(ext[:, 1].max() - ext[:, 1].min())
        if min(w, h) / 2.0 < thr:
            continue  # inscribed radius <= min(w,h)/2: provably thin
        area = abs(ring_area(ext)) - sum(abs(ring_area(hh))
                                         for hh in rings[1:])
        if area <= np.pi * thr * thr:
            continue  # inscribed circle area bound: provably thin
        pending.append(rings)
    for rings in pending:
        try:
            from .offset import buffer_polygon
            if buffer_polygon([rings], -thr, quad_segs=4):
                return False  # erosion nonempty: NOT thin
        except RuntimeError:
            # degeneracy ladder exhausted: grid-sample fallback.  Huge-extent
            # slivers would blow the 4M-sample cap at the requested pitch —
            # coarsen to the finest pitch the cap allows (the sampler stays a
            # valid lower bound on the inradius; stop_at=thr still early-exits
            # the moment a fat spot is found) instead of crashing the job.
            ext = rings[0]
            w = float(ext[:, 0].max() - ext[:, 0].min())
            h = float(ext[:, 1].max() - ext[:, 1].min())
            p_eff = max(pitch, np.sqrt(max(w * h, 1e-300) / 3.9e6))
            if _parts_sample_max(rings, p_eff, stop_at=thr) >= thr:
                return False
    return True


def _parts_sample_max(rings: list[np.ndarray], pitch: float,
                      stop_at: float | None = None) -> float:
    ext = rings[0]
    minx, miny = ext[:, 0].min(), ext[:, 1].min()
    maxx, maxy = ext[:, 0].max(), ext[:, 1].max()
    xs = np.arange(minx + pitch / 2, maxx, pitch)
    ys = np.arange(miny + pitch / 2, maxy, pitch)
    if len(xs) == 0 or len(ys) == 0:
        xs = np.array([(minx + maxx) / 2])
        ys = np.array([(miny + maxy) / 2])
    if len(xs) * len(ys) > 4_000_000:
        raise ValueError("inradius grid too fine for this extent; "
                         "raise pitch")
    best = 0.0
    # row-blocked so the early exit pays off before the full grid
    for s in range(0, len(xs), max(len(xs) // 8, 1)):
        xb = xs[s:s + max(len(xs) // 8, 1)]
        PX = np.repeat(xb, len(ys))
        PY = np.tile(ys, len(xb))
        inside = points_in_ring(PX, PY, ext)
        for hh in rings[1:]:
            inside &= ~points_in_ring(PX, PY, hh)
        if not inside.any():
            continue
        d = dist_to_ring(PX[inside], PY[inside], ext)
        for hh in rings[1:]:
            d = np.minimum(d, dist_to_ring(PX[inside], PY[inside], hh))
        best = max(best, float(d.max()))
        if stop_at is not None and best >= stop_at:
            return best
    return best


def dp_simplify(chain: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker on one open/closed chain (iterative stack)."""
    n = len(chain)
    if n <= 2:
        return chain
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = chain[i], chain[j]
        d = b - a
        ln = np.hypot(*d)
        seg = chain[i + 1:j]
        if ln == 0:
            dist = np.hypot(*(seg - a).T)
        else:
            dist = np.abs(d[0] * (seg[:, 1] - a[1])
                          - d[1] * (seg[:, 0] - a[0])) / ln
        k = int(np.argmax(dist))
        if dist[k] > tol:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return chain[keep]
