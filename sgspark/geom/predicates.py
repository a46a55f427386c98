"""Vectorized spatial predicates over GeomArray — the refine kernels.

These implement the predicate set the reference routes through shapely's
STRtree (`/root/reference/src/sgis/geopandas_tools/runners.py:170-193`):
intersects / contains / within / dwithin / covers on the point|line|polygon
families.  The Spark join strategy (sgspark/joins.py) generates candidate
pairs with a cell-prefix hash join; these kernels refine candidates in
Arrow batches.

Algorithms (all numpy-vectorized across candidates):
  * point-in-polygon: crossing-number ray cast, evaluated for MANY points
    against ONE polygon at a time (candidates are grouped by the polygon
    side, which after the cell join is the low-cardinality side per batch).
  * segment intersection: orientation tests (exact sign of cross products).
  * distance: point-point / point-segment, vectorized.

Boundary semantics: a point exactly ON a polygon boundary is reported as
intersecting (matching GEOS `intersects`); test inputs are constructed so
boundary ties cannot occur in the oracle-checked paths (integer points vs
half-integer zone edges — see sgspark/synth.py).
"""

from __future__ import annotations

import numpy as np

from .array import FAMILY_OF, GeomArray, expand_ranges


# ---------------------------------------------------------------------- #
# low-level vector kernels
# ---------------------------------------------------------------------- #
def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number PIP of many points vs one closed ring. bool[n].
    Includes points exactly on a vertex/edge via an explicit on-edge test."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    n_pts = len(px)
    inside = np.zeros(n_pts, dtype=bool)
    # broadcast points x edges: (n_pts, n_edges) — fine for batch sizes
    PY = py[:, None]
    PX = px[:, None]
    cond = (y1[None, :] > PY) != (y2[None, :] > PY)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (PY - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    crossing = cond & (PX < xint)
    inside = crossing.sum(axis=1) % 2 == 1
    # on-edge check (boundary counts as intersecting)
    on_edge = _points_on_segments(px, py, x1, y1, x2, y2)
    return inside | on_edge


def _points_on_segments(px, py, x1, y1, x2, y2) -> np.ndarray:
    dx = (x2 - x1)[None, :]
    dy = (y2 - y1)[None, :]
    rx = px[:, None] - x1[None, :]
    ry = py[:, None] - y1[None, :]
    cross = dx * ry - dy * rx
    dot = rx * dx + ry * dy
    ll = dx * dx + dy * dy
    on = (cross == 0) & (dot >= 0) & (dot <= ll) & (ll > 0)
    return on.any(axis=1)


def points_in_polygon_geom(px: np.ndarray, py: np.ndarray,
                           ga: GeomArray, g: int) -> np.ndarray:
    """PIP vs geometry g of ga (POLYGON or MULTIPOLYGON, holes honored)."""
    res = np.zeros(len(px), dtype=bool)
    p0, p1 = ga.geom_offsets[g], ga.geom_offsets[g + 1]
    for p in range(p0, p1):
        r0, r1 = ga.part_offsets[p], ga.part_offsets[p + 1]
        ext = ga.coords[ga.ring_offsets[r0]:ga.ring_offsets[r0 + 1]]
        in_part = points_in_ring(px, py, ext)
        for r in range(r0 + 1, r1):
            hole = ga.coords[ga.ring_offsets[r]:ga.ring_offsets[r + 1]]
            hx1, hy1 = hole[:-1, 0], hole[:-1, 1]
            hx2, hy2 = hole[1:, 0], hole[1:, 1]
            in_hole = points_in_ring(px, py, hole)
            on_hole_edge = _points_on_segments(px, py, hx1, hy1, hx2, hy2)
            in_part &= ~(in_hole & ~on_hole_edge)
        res |= in_part
    return res


def segments_intersect_any(a: np.ndarray, b: np.ndarray) -> bool:
    """True iff any segment of polyline-coords a intersects any of b.
    a, b: float64[n,2] closed or open chains."""
    ax1, ay1 = a[:-1, 0], a[:-1, 1]
    ax2, ay2 = a[1:, 0], a[1:, 1]
    bx1, by1 = b[:-1, 0], b[:-1, 1]
    bx2, by2 = b[1:, 0], b[1:, 1]
    # orientation (na, nb) broadcasting
    d1 = _orient(ax1[:, None], ay1[:, None], ax2[:, None], ay2[:, None],
                 bx1[None, :], by1[None, :])
    d2 = _orient(ax1[:, None], ay1[:, None], ax2[:, None], ay2[:, None],
                 bx2[None, :], by2[None, :])
    d3 = _orient(bx1[None, :], by1[None, :], bx2[None, :], by2[None, :],
                 ax1[:, None], ay1[:, None])
    d4 = _orient(bx1[None, :], by1[None, :], bx2[None, :], by2[None, :],
                 ax2[:, None], ay2[:, None])
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & \
             (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    if proper.any():
        return True
    # collinear / endpoint-touch cases
    touch = (d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)
    if not touch.any():
        return False
    ia, ib = np.nonzero(touch)
    for i, j in zip(ia.tolist(), ib.tolist()):
        if _seg_seg_touch(a[i], a[i + 1], b[j], b[j + 1]):
            return True
    return False


def _orient(ox, oy, ax, ay, bx, by):
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def _on_seg(p, q, r) -> bool:
    return (min(p[0], q[0]) <= r[0] <= max(p[0], q[0]) and
            min(p[1], q[1]) <= r[1] <= max(p[1], q[1]))


def _seg_seg_touch(p1, p2, p3, p4) -> bool:
    def o(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    d1, d2 = o(p3, p4, p1), o(p3, p4, p2)
    d3, d4 = o(p1, p2, p3), o(p1, p2, p4)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True
    if d1 == 0 and _on_seg(p3, p4, p1):
        return True
    if d2 == 0 and _on_seg(p3, p4, p2):
        return True
    if d3 == 0 and _on_seg(p1, p2, p3):
        return True
    if d4 == 0 and _on_seg(p1, p2, p4):
        return True
    return False


# ---------------------------------------------------------------------- #
# fully-vectorized pair kernels (no per-geometry python loop)
# ---------------------------------------------------------------------- #
def pip_pairs_vectorized(px: np.ndarray, py: np.ndarray, ra: GeomArray,
                         ri: np.ndarray) -> np.ndarray:
    """Crossing-number PIP for k candidate pairs (point[k] vs ra[ri[k]]),
    vectorized over the ragged (pair x edge) expansion — the hot-path
    kernel for point-in-polygon joins.  Supports multi-ring polygons via
    even-odd counting (exterior + holes all toggle parity — equivalent to
    the per-ring logic for valid nested rings).  Boundary points count as
    inside (on-edge test included)."""
    inside, on = _pip_parity_and_edge(px, py, ra, ri)
    return inside | on


# Banded PIP: edges per horizontal band of a polygon's y-range, the most
# bands one polygon gets (an edge is listed once per band it spans, so
# this bounds the index at _BAND_MAX slots per edge), and the average pair
# tests per polygon edge from which banding pays for its index (few
# points per polygon keep the plain expansion)
_BAND_EDGES = 2
_BAND_MAX = 64
_BAND_MIN_TESTS = 8


def _pip_parity_and_edge(px, py, ra, ri) -> tuple[np.ndarray, np.ndarray]:
    """(odd crossing parity, on some edge) for point[k] vs ra[ri[k]].

    Each pair tests the edges of ra[ri[k]] whose y-range could hold
    py[k].  With many points per polygon, each polygon's y-range splits
    into bands of about _BAND_EDGES edges and a pair tests its band's
    edges only.  An edge left out has py[k] outside its y-range by more
    than a rounding margin, so it adds no crossing (both ends lie on one
    side of the ray) and cannot hold the point; the kept edges run the
    same IEEE operations either way, so the result is bit-identical."""
    ri = np.asarray(ri, dtype=np.int64)
    # per-geometry contiguous coordinate span (geoms store rings contiguously)
    gstart = ra.coords_start_per_geom()
    gcount = ra.coords_count_per_geom()
    # ring ends are where flat+1 is a ring start: an edge there would
    # join the last vertex of one ring to the first of the next
    is_ring_start = np.zeros(len(ra.coords) + 1, dtype=bool)
    is_ring_start[ra.ring_offsets[:-1]] = True
    used, inv = np.unique(ri, return_inverse=True)
    if gcount[ri].sum() >= _BAND_MIN_TESTS * gcount[used].sum():
        flat, owner = _banded_edges(py, ra, used, inv, gstart, gcount,
                                    is_ring_start)
    else:
        cstart = gstart[ri]
        flat, owner = expand_ranges(cstart, cstart + gcount[ri] - 1)
        valid = ~is_ring_start[flat + 1]
        flat, owner = flat[valid], owner[valid]
    if len(flat) == 0:
        return np.zeros(len(ri), dtype=bool), np.zeros(len(ri), dtype=bool)
    x1 = ra.coords[flat, 0]
    y1 = ra.coords[flat, 1]
    x2 = ra.coords[flat + 1, 0]
    y2 = ra.coords[flat + 1, 1]
    PX = px[owner]
    PY = py[owner]
    cond = (y1 > PY) != (y2 > PY)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (PY - y1) / (y2 - y1) + x1
    crossing = cond & (PX < xint)
    ncross = np.bincount(owner[crossing], minlength=len(ri))
    inside = (ncross % 2).astype(bool)
    # on-edge (boundary counts as intersecting)
    dx = x2 - x1
    dy = y2 - y1
    rx = PX - x1
    ry = PY - y1
    cross = dx * ry - dy * rx
    dot = rx * dx + ry * dy
    ll = dx * dx + dy * dy
    # a zero-length edge (a repeated vertex) would pass the first three
    # tests for every point; its vertex is on the ring's next edge
    on = (cross == 0) & (dot >= 0) & (dot <= ll) & (ll > 0)
    return inside, np.bincount(owner[on], minlength=len(ri)) > 0


def _banded_edges(py, ra, used, inv, gstart, gcount, is_ring_start):
    """(flat, owner): for pair k (polygon used[inv[k]]), the start
    coordinate of every edge in the band holding py[k]."""
    flat, zone = expand_ranges(gstart[used], gstart[used] + gcount[used] - 1)
    keep = ~is_ring_start[flat + 1]
    flat, zone = flat[keep], zone[keep]
    nu = len(used)
    y1 = ra.coords[flat, 1]
    y2 = ra.coords[flat + 1, 1]
    ylo, yhi = np.minimum(y1, y2), np.maximum(y1, y2)
    zy0 = np.full(nu, np.inf)
    zy1 = np.full(nu, -np.inf)
    np.minimum.at(zy0, zone, ylo)
    np.maximum.at(zy1, zone, yhi)
    nb = np.clip(np.bincount(zone, minlength=nu) // _BAND_EDGES, 1,
                 _BAND_MAX)
    h = (zy1 - zy0) / nb
    flat_band = ~(h > 0)  # no edge, or a y-range of width 0
    nb[flat_band], h[flat_band], zy0[flat_band] = 1, 1.0, 0.0
    # margin well above the rounding of the band arithmetic below, so an
    # edge whose y-range holds a point always lands in that point's band
    m = 1e-9 * (h + np.maximum(np.abs(zy0), np.abs(zy1)))
    m[flat_band] = 0.0
    top = nb - 1
    with np.errstate(invalid="ignore"):
        b0 = np.clip(np.floor((ylo - m[zone] - zy0[zone]) / h[zone]),
                     0, top[zone]).astype(np.int64)
        b1 = np.clip(np.floor((yhi + m[zone] - zy0[zone]) / h[zone]),
                     0, top[zone]).astype(np.int64)
        pb = np.nan_to_num(np.floor((py - zy0[inv]) / h[inv]), nan=0.0)
    pb = np.clip(pb, 0, top[inv]).astype(np.int64)
    band0 = np.cumsum(nb) - nb
    # one slot per (edge, band it spans), grouped by band
    span, edge = expand_ranges(np.zeros(len(flat), dtype=np.int64),
                               b1 - b0 + 1)
    key = band0[zone[edge]] + b0[edge] + span
    order = np.argsort(key, kind="stable")
    slot_flat = flat[edge[order]]
    bounds = np.zeros(int(nb.sum()) + 1, dtype=np.int64)
    np.cumsum(np.bincount(key, minlength=len(bounds) - 1), out=bounds[1:])
    pk = band0[inv] + pb
    pos, owner = expand_ranges(bounds[pk], bounds[pk + 1])
    return slot_flat[pos], owner


def point_geom_distance_vectorized(px: np.ndarray, py: np.ndarray,
                                   ra: GeomArray, ri: np.ndarray
                                   ) -> np.ndarray:
    """Min distance from point[k] to geometry ra[ri[k]], vectorized over the
    ragged (pair x segment) expansion; polygons report 0 when inside."""
    ri = np.asarray(ri, dtype=np.int64)
    gstart = ra.coords_start_per_geom()
    gcount = ra.coords_count_per_geom()
    single = gcount[ri] == 1  # right side is a point
    out = np.full(len(ri), np.inf)
    if single.any():
        s = gstart[ri[single]]
        out[single] = np.hypot(px[single] - ra.coords[s, 0],
                               py[single] - ra.coords[s, 1])
    multi = ~single
    if multi.any():
        idx = np.nonzero(multi)[0]
        cstart = gstart[ri[idx]]
        cend = cstart + gcount[ri[idx]]
        flat, owner = expand_ranges(cstart, cend - 1)
        ring_starts = ra.ring_offsets[:-1]
        is_ring_start = np.zeros(len(ra.coords) + 1, dtype=bool)
        is_ring_start[ring_starts] = True
        valid = ~is_ring_start[flat + 1]
        x1 = ra.coords[flat, 0]
        y1 = ra.coords[flat, 1]
        dx = ra.coords[flat + 1, 0] - x1
        dy = ra.coords[flat + 1, 1] - y1
        PX = px[idx][owner]
        PY = py[idx][owner]
        rx = PX - x1
        ry = PY - y1
        ll = dx * dx + dy * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.clip(np.where(ll > 0, (rx * dx + ry * dy) / ll, 0.0), 0, 1)
        d2 = (rx - t * dx) ** 2 + (ry - t * dy) ** 2
        d2 = np.where(valid, d2, np.inf)
        dmin = np.full(len(idx), np.inf)
        np.minimum.at(dmin, owner, d2)
        d = np.sqrt(dmin)
        # inside-polygon -> 0
        is_poly = np.isin(ra.kinds[ri[idx]], (3, 6))
        if is_poly.any():
            sub = np.nonzero(is_poly)[0]
            inside = pip_pairs_vectorized(px[idx][sub], py[idx][sub],
                                          ra, ri[idx][sub])
            d[sub] = np.where(inside, 0.0, d[sub])
        out[idx] = d
    return out


# ---------------------------------------------------------------------- #
# pairwise predicate dispatcher
# ---------------------------------------------------------------------- #
def geom_pair_distance(la: GeomArray, ra: GeomArray,
                       li: np.ndarray, ri: np.ndarray) -> np.ndarray:
    """Distance for candidate pairs (la[li[k]], ra[ri[k]]).  Left side must be
    points (the engine's distance joins are point-driven, mirroring
    `neighbors.py:291-293`); fully vectorized over the ragged pair/segment
    expansion."""
    li = np.asarray(li, dtype=np.int64)
    ri = np.asarray(ri, dtype=np.int64)
    starts = la.coords_start_per_geom()
    px_all = la.coords[starts, 0] if len(la.coords) else np.zeros(len(la))
    py_all = la.coords[starts, 1] if len(la.coords) else np.zeros(len(la))
    return point_geom_distance_vectorized(px_all[li], py_all[li], ra, ri)


def refine_pairs(la: GeomArray, ra: GeomArray, li: np.ndarray, ri: np.ndarray,
                 predicate: str = "intersects", distance: float | None = None
                 ) -> np.ndarray:
    """bool[k] — evaluate predicate for candidate pairs, batched.

    Supported predicates (superset used by the reference's joins):
    intersects, within, contains, covers, covered_by, dwithin.
    `within` is evaluated as inverse `contains` — the same rewrite the
    reference applies in `sfilter.py:311-328`.
    """
    li = np.asarray(li, dtype=np.int64)
    ri = np.asarray(ri, dtype=np.int64)
    if predicate == "dwithin":
        if distance is None:
            raise ValueError("dwithin requires distance")
        return geom_pair_distance(la, ra, li, ri) <= distance
    if predicate in ("within", "covered_by"):
        # left within right == right contains left
        return _contains_pairs(ra, la, ri, li)
    if predicate in ("contains", "covers"):
        return _contains_pairs(la, ra, li, ri)
    if predicate == "intersects":
        return _intersects_pairs(la, ra, li, ri)
    raise ValueError(f"unsupported predicate: {predicate}")


def _intersects_pairs(la, ra, li, ri) -> np.ndarray:
    out = np.zeros(len(li), dtype=bool)
    starts = la.coords_start_per_geom()
    counts = la.coords_count_per_geom()
    left_is_single_point = counts == 1
    px_all = la.coords[np.minimum(starts, max(len(la.coords) - 1, 0)), 0] \
        if len(la.coords) else np.zeros(len(la))
    py_all = la.coords[np.minimum(starts, max(len(la.coords) - 1, 0)), 1] \
        if len(la.coords) else np.zeros(len(la))
    # HOT PATH: point-left x polygon-right pairs, vectorized PIP
    vec = left_is_single_point[li] & np.isin(ra.kinds[ri], (3, 6))
    if vec.any():
        idx = np.nonzero(vec)[0]
        out[idx] = pip_pairs_vectorized(px_all[li[idx]], py_all[li[idx]],
                                        ra, ri[idx])
    # rectangle x rectangle: intersects == closed bbox overlap (exact)
    hard_mask = ~vec
    if hard_mask.any():
        l_rect, lb = rect_flags(la)
        r_rect, rb = rect_flags(ra)
        rr = hard_mask & l_rect[li] & r_rect[ri]
        if rr.any():
            i = np.nonzero(rr)[0]
            out[i] = ((np.minimum(lb[li[i], 2], rb[ri[i], 2]) >=
                       np.maximum(lb[li[i], 0], rb[ri[i], 0])) &
                      (np.minimum(lb[li[i], 3], rb[ri[i], 3]) >=
                       np.maximum(lb[li[i], 1], rb[ri[i], 1])))
            hard_mask = hard_mask & ~rr
    if hard_mask.any():
        i = np.nonzero(hard_mask)[0]
        out[i] = _general_intersects(la, ra, li[i], ri[i])
    return out


# Upper bound on the entries of one expansion in `_general_intersects` and
# `_covers_general` (pair x edge and edge x edge): their arrays cost ~110
# and ~170 bytes per entry, so a full chunk peaks at ~28 and ~44 MB per
# Python worker.
MAX_EDGE_PAIRS = 1 << 18


def _edge_table(ga: GeomArray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(a, b, off): edge k runs from coords[a[k]] to coords[b[k]], and the
    edges of geometry g are off[g]:off[g + 1].  A 1-coordinate ring (a
    point or a multipoint member) is one degenerate (P, P) edge."""
    n = np.diff(ga.ring_offsets)
    cnt = np.where(n >= 2, n - 1, n)
    a, ring = expand_ranges(ga.ring_offsets[:-1], ga.ring_offsets[:-1] + cnt)
    ring_off = np.concatenate(([0], np.cumsum(cnt)))
    return a, a + (n[ring] >= 2), ring_off[ga.part_offsets[ga.geom_offsets]]


def _edge_chunks(nl: np.ndarray, nr: np.ndarray):
    """(start, end) slices of pairs with nl and nr edges per side, whose
    unfiltered edge expansion stays within MAX_EDGE_PAIRS; a pair above
    the bound runs alone."""
    cum = np.cumsum(np.maximum(nl * nr, nl + nr))
    s = 0
    while s < len(cum):
        base = cum[s - 1] if s else 0
        e = max(int(np.searchsorted(cum, base + MAX_EDGE_PAIRS, "right")),
                s + 1)
        yield s, e
        s = e


def _general_intersects(la: GeomArray, ra: GeomArray, li: np.ndarray,
                        ri: np.ndarray) -> np.ndarray:
    """Exact `intersects` for pairs of any families, batched: A meets B iff
    an edge of A touches an edge of B, or, with no touching edges, the
    first vertex of some part of one lies in the other (a polygon).
    Pairs run in `_edge_chunks`."""
    ledges, redges = _edge_table(la), _edge_table(ra)
    lbox, rbox = la.bounds(), ra.bounds()
    out = np.zeros(len(li), dtype=bool)
    for s, e in _edge_chunks(np.diff(ledges[2])[li], np.diff(redges[2])[ri]):
        l, r = li[s:e], ri[s:e]
        hit = _edges_touch(la, ledges, l, rbox[r], ra, redges, r, lbox[l])
        for ga, g, other, og in ((la, l, ra, r), (ra, r, la, l)):
            probe = ~hit & np.isin(other.kinds[og], (3, 6))
            if probe.any():
                hit[probe] = _part_heads_inside(ga, g[probe], other, og[probe])
        out[s:e] = hit
    return out


def _edges_near(ga, edges, g, box):
    """(pair, edge) for the edges of ga[g[k]] whose bbox meets box[k]."""
    a, b, off = edges
    e, pair = expand_ranges(off[g], off[g + 1])
    x1, y1 = ga.coords[a[e], 0], ga.coords[a[e], 1]
    x2, y2 = ga.coords[b[e], 0], ga.coords[b[e], 1]
    keep = ((np.minimum(x1, x2) <= box[pair, 2])
            & (np.maximum(x1, x2) >= box[pair, 0])
            & (np.minimum(y1, y2) <= box[pair, 3])
            & (np.maximum(y1, y2) >= box[pair, 1]))
    return pair[keep], e[keep]


def _edges_touch(la, ledges, li, lnear, ra, redges, ri, rnear) -> np.ndarray:
    """bool[k]: some edge of la[li[k]] touches some edge of ra[ri[k]] —
    `_seg_seg_touch` over the (pair x near left edge x near right edge)
    expansion."""
    lp, lx = _edges_near(la, ledges, li, lnear)
    rp, rx = _edges_near(ra, redges, ri, rnear)
    k, j = _cross_expand(lp, rp, len(li))
    pair, lx, rx = lp[k], lx[k], rx[j]
    p1, p2 = la.coords[ledges[0][lx]], la.coords[ledges[1][lx]]
    p3, p4 = ra.coords[redges[0][rx]], ra.coords[redges[1][rx]]
    d1, d2, d3, d4 = _orients(p1, p2, p3, p4)
    touch = ((((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)))
             | ((d1 == 0) & _on_segs(p3, p4, p1))
             | ((d2 == 0) & _on_segs(p3, p4, p2))
             | ((d3 == 0) & _on_segs(p1, p2, p3))
             | ((d4 == 0) & _on_segs(p1, p2, p4)))
    return np.bincount(pair[touch], minlength=len(li)) > 0


def _cross_expand(lp: np.ndarray, rp: np.ndarray, n: int):
    """(k, j): every combination of an entry lp[k] and an entry rp[j] of
    the same pair; rp must be sorted (as `_edges_near` returns it)."""
    cnt = np.bincount(rp, minlength=n)
    first = np.cumsum(cnt) - cnt
    j, k = expand_ranges(first[lp], first[lp] + cnt[lp])
    return k, j


def _orients(p1, p2, p3, p4):
    """The four orientations of segments (p1, p2) and (p3, p4): p1 and p2
    against line p3p4, then p3 and p4 against line p1p2."""
    return (_orient(p3[:, 0], p3[:, 1], p4[:, 0], p4[:, 1], p1[:, 0], p1[:, 1]),
            _orient(p3[:, 0], p3[:, 1], p4[:, 0], p4[:, 1], p2[:, 0], p2[:, 1]),
            _orient(p1[:, 0], p1[:, 1], p2[:, 0], p2[:, 1], p3[:, 0], p3[:, 1]),
            _orient(p1[:, 0], p1[:, 1], p2[:, 0], p2[:, 1], p4[:, 0], p4[:, 1]))


def _on_segs(p, q, r) -> np.ndarray:
    """Vectorized `_on_seg`: r lies in the bbox of segment (p, q)."""
    return ((np.minimum(p[:, 0], q[:, 0]) <= r[:, 0])
            & (r[:, 0] <= np.maximum(p[:, 0], q[:, 0]))
            & (np.minimum(p[:, 1], q[:, 1]) <= r[:, 1])
            & (r[:, 1] <= np.maximum(p[:, 1], q[:, 1])))


def _part_heads_inside(ga, g, poly, pg) -> np.ndarray:
    """bool[k]: the first vertex of some part of ga[g[k]] lies in (or on)
    polygon poly[pg[k]]."""
    part, k = expand_ranges(ga.geom_offsets[g], ga.geom_offsets[g + 1])
    head = ga.ring_offsets[ga.part_offsets[part]]
    inside = pip_pairs_vectorized(ga.coords[head, 0], ga.coords[head, 1],
                                  poly, pg[k])
    return np.bincount(k[inside], minlength=len(g)) > 0


def rect_flags(ga: GeomArray) -> tuple[np.ndarray, np.ndarray]:
    """(is_axis_aligned_rect bool[n], bounds float[n,4]) — single-ring
    5-point polygons whose vertices are the four bbox corners in ring
    order: every vertex on the bbox edges, every edge changes exactly one
    coordinate, and vertices 0/2 and 1/3 are opposite corners (so a
    repeated vertex, a bow tie or a back-and-forth path is no rect)."""
    counts = ga.coords_count_per_geom()
    starts = ga.coords_start_per_geom()
    b = ga.bounds()
    is_r = (counts == 5) & np.isin(ga.kinds, (3,))
    idx = np.nonzero(is_r)[0]
    if len(idx):
        # vectorized: gather the 5 points of each candidate
        gather = starts[idx][:, None] + np.arange(5)[None, :]
        cx = ga.coords[gather.ravel(), 0].reshape(-1, 5)
        cy = ga.coords[gather.ravel(), 1].reshape(-1, 5)
        on_x = ((cx == b[idx, 0][:, None]) | (cx == b[idx, 2][:, None])).all(axis=1)
        on_y = ((cy == b[idx, 1][:, None]) | (cy == b[idx, 3][:, None])).all(axis=1)
        axis = ((np.diff(cx, axis=1) != 0) != (np.diff(cy, axis=1) != 0)
                ).all(axis=1)
        opposite = ((cx[:, 2] != cx[:, 0]) & (cy[:, 2] != cy[:, 0])
                    & (cx[:, 3] != cx[:, 1]) & (cy[:, 3] != cy[:, 1]))
        is_r[idx] = on_x & on_y & axis & opposite
    return is_r, b


def convex_flags(ga: GeomArray) -> np.ndarray:
    """bool[n]: single-ring hole-free POLYGONs that are convex — eligible
    for the batched convex x convex clip tier.  Vectorized (padded rings,
    consecutive-edge cross products)."""
    simple = ga.simple_polygon_flags()
    out = np.zeros(len(ga), dtype=bool)
    idx = np.nonzero(simple)[0]
    if not len(idx):
        return out
    P, C = ga.padded_first_rings(idx)
    n, L, _ = P.shape
    j = np.arange(L)
    valid = j[None, :] < C[:, None]
    i1 = np.where(j[None, :] + 1 >= C[:, None], 0, j[None, :] + 1)
    i2 = np.where(i1 + 1 >= C[:, None], i1 + 1 - C[:, None], i1 + 1)
    P1 = np.take_along_axis(P, i1[:, :, None], axis=1)
    P2 = np.take_along_axis(P, i2[:, :, None], axis=1)
    a = P1 - P
    b = P2 - P1
    cr = a[:, :, 0] * b[:, :, 1] - a[:, :, 1] * b[:, :, 0]
    cr = np.where(valid, cr, 0.0)
    out[idx] = ((cr >= 0).all(axis=1) | (cr <= 0).all(axis=1)) & (C >= 3)
    return out


def _geom_geom_intersects(la, lg, ra, rg) -> bool:
    """Per-pair `intersects`: the reference the tests hold
    `_general_intersects` to."""
    lfam = FAMILY_OF.get(int(la.kinds[lg]), "point")
    rfam = FAMILY_OF.get(int(ra.kinds[rg]), "point")
    lchains = la.rings_of_geom(lg)
    rchains = ra.rings_of_geom(rg)
    if not lchains or not rchains:
        return False
    # any boundary crossing
    for a in lchains:
        for b in rchains:
            if len(a) >= 2 and len(b) >= 2 and segments_intersect_any(a, b):
                return True
    # containment without crossing: the first vertex of every part
    if rfam == "polygon":
        a0 = la.coords[la.ring_offsets[la.part_offsets[
            la.geom_offsets[lg]:la.geom_offsets[lg + 1]]]]
        if points_in_polygon_geom(a0[:, 0], a0[:, 1], ra, rg).any():
            return True
    if lfam == "polygon":
        b0 = ra.coords[ra.ring_offsets[ra.part_offsets[
            ra.geom_offsets[rg]:ra.geom_offsets[rg + 1]]]]
        if points_in_polygon_geom(b0[:, 0], b0[:, 1], la, lg).any():
            return True
    if lfam == "point" or rfam == "point":
        # a point meets a line or point iff it equals one of its vertices
        # or lies on one of its nonzero-length segments (exact orientation
        # test)
        pts, chains = ((np.concatenate(lchains), rchains) if lfam == "point"
                       else (np.concatenate(rchains), lchains))
        for c in chains:
            a, b = c[:-1], c[1:]
            seg = (a != b).any(axis=1)
            if (pts[:, None] == c[None]).all(axis=2).any() or \
                    _points_on_segments(pts[:, 0], pts[:, 1], a[seg, 0],
                                        a[seg, 1], b[seg, 0], b[seg, 1]).any():
                return True
    return False


def _contains_pairs(outer: GeomArray, inner: GeomArray,
                    oi: np.ndarray, ii: np.ndarray) -> np.ndarray:
    """outer[oi[k]] contains inner[ii[k]] (closed semantics ~ covers).
    A polygon outer may contain anything; a line or point outer contains
    points and lines, never a polygon."""
    out = np.zeros(len(oi), dtype=bool)
    poly = np.isin(outer.kinds[oi], (3, 6))
    # HOT PATH: single-point inners vs polygon outers — vectorized PIP
    pt_inner = (inner.coords_count_per_geom()[ii] == 1) & poly
    if pt_inner.any():
        idx = np.nonzero(pt_inner)[0]
        s = inner.coords_start_per_geom()[ii[idx]]
        out[idx] = pip_pairs_vectorized(inner.coords[s, 0], inner.coords[s, 1],
                                        outer, oi[idx])
    rest = np.nonzero((poly & ~pt_inner)
                      | (~poly & ~np.isin(inner.kinds[ii], (3, 6))))[0]
    if len(rest):
        out[rest] = _covers_general(outer, inner, oi[rest], ii[rest])
    return out


def _in_outer(px, py, outer, oedges, o) -> np.ndarray:
    """bool[n]: point (px[n], py[n]) lies in (or on) polygon outer[o[n]],
    or on an edge of a line or point outer[o[n]] (exact orientation; the
    (P, P) edge of a point holds only P)."""
    res = np.zeros(len(px), dtype=bool)
    poly = np.isin(outer.kinds[o], (3, 6))
    if poly.any():
        res[poly] = pip_pairs_vectorized(px[poly], py[poly], outer, o[poly])
    n = np.nonzero(~poly)[0]
    if len(n):
        a, b, off = oedges
        e, k = expand_ranges(off[o[n]], off[o[n] + 1])
        p, q = outer.coords[a[e]], outer.coords[b[e]]
        r = np.c_[px[n][k], py[n][k]]
        on = (_orient(p[:, 0], p[:, 1], q[:, 0], q[:, 1], r[:, 0], r[:, 1])
              == 0) & _on_segs(p, q, r)
        res[n] = _any_per_pair(k[on], len(n))
    return res


def _covers_general(outer, inner, oi, ii) -> np.ndarray:
    """outer[oi[k]] covers inner[ii[k]], batched: every vertex of the
    inner lies in the outer (`_in_outer`), and every piece of an inner
    edge, split where it meets an outer edge, has its midpoint in the
    outer.  A polygon inner of a polygon outer must also not have an
    outer hole in it: no piece of a hole ring, split where it meets the
    inner's rings, has its midpoint strictly inside the inner.  Pairs run
    in `_edge_chunks`."""
    oedges, iedges = _edge_table(outer), _edge_table(inner)
    obox, ibox = outer.bounds(), inner.bounds()
    ring = np.searchsorted(outer.ring_offsets, oedges[0], "right") - 1
    part = np.searchsorted(outer.part_offsets, ring, "right") - 1
    hole_edge = ring != outer.part_offsets[part]
    cstart = inner.coords_start_per_geom()
    ccount = inner.coords_count_per_geom()
    out = np.zeros(len(oi), dtype=bool)
    for s, e in _edge_chunks(np.diff(oedges[2])[oi], np.diff(iedges[2])[ii]):
        o, i = oi[s:e], ii[s:e]
        flat, k = expand_ranges(cstart[i], cstart[i] + ccount[i])
        bad = ~_in_outer(inner.coords[flat, 0], inner.coords[flat, 1],
                         outer, oedges, o[k])
        ip, ix = _edges_near(inner, iedges, i, obox[o])
        op, ox = _edges_near(outer, oedges, o, ibox[i])
        mx, my, m = _piece_midpoints(inner, iedges, ip, ix,
                                     outer, oedges, op, ox, len(o))
        outside = ~_in_outer(mx, my, outer, oedges, o[m])
        ok = (ccount[i] > 0) & ~_any_per_pair(k[bad], len(o)) \
            & ~_any_per_pair(m[outside], len(o))
        h = np.isin(inner.kinds[i[op]], (3, 6)) & hole_edge[ox]
        if h.any():
            mx, my, m = _piece_midpoints(outer, oedges, op[h], ox[h],
                                         inner, iedges, ip, ix, len(o))
            parity, on = _pip_parity_and_edge(mx, my, inner, i[m])
            ok &= ~_any_per_pair(m[parity & ~on], len(o))
        out[s:e] = ok
    return out


def _any_per_pair(owner: np.ndarray, n: int) -> np.ndarray:
    return np.bincount(owner, minlength=n) > 0


def _piece_midpoints(a, aedges, ap, ax, b, bedges, bp, bx, n):
    """(x, y, pair) of the midpoint of every piece that the edges ax of
    a (owned by pairs ap) split into where they meet the edges bx of b
    (pairs bp, sorted): at proper crossings and where an endpoint of a b
    edge lies on the a edge.  Split points at b vertices are those
    vertices' own coordinates, so a piece along a b edge keeps its
    midpoint on that edge in the usual exact cases."""
    k, j = _cross_expand(ap, bp, n)
    p1, p2 = a.coords[aedges[0][ax]], a.coords[aedges[1][ax]]
    q1, q2 = b.coords[bedges[0][bx[j]]], b.coords[bedges[1][bx[j]]]
    d1, d2, d3, d4 = _orients(p1[k], p2[k], q1, q2)
    v = p2 - p1
    ll = (v * v).sum(axis=1)
    proper = (((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
              & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0))
    on3 = (d3 == 0) & _on_segs(p1[k], p2[k], q1)
    on4 = (d4 == 0) & _on_segs(p1[k], p2[k], q2)
    with np.errstate(divide="ignore", invalid="ignore"):
        tc = d1[proper] / (d1[proper] - d2[proper])

        def t_of(q, sel):
            return np.where(ll[k[sel]] > 0, ((q[sel] - p1[k[sel]])
                            * v[k[sel]]).sum(axis=1) / ll[k[sel]], 0.0)
        t3, t4 = t_of(q1, on3), t_of(q2, on4)
    entry = np.arange(len(ax))
    ent = np.concatenate((entry, entry, k[proper], k[on3], k[on4]))
    t = np.concatenate((np.zeros(len(ax)), np.ones(len(ax)), tc, t3, t4))
    pt = np.concatenate((p1, p2, p1[k[proper]] + tc[:, None]
                         * v[k[proper]], q1[on3], q2[on4]))
    order = np.lexsort((t, ent))
    ent, t, pt = ent[order], t[order], pt[order]
    piece = (ent[1:] == ent[:-1]) & (t[1:] > t[:-1])
    mid = (pt[:-1][piece] + pt[1:][piece]) / 2.0
    return mid[:, 0], mid[:, 1], ap[ent[:-1][piece]]
