"""Unit tests for the pure-numpy geometry core (no Spark).

Oracles: closed-form analytic values (shoelace areas, circle lens areas)
mirroring the reference's 3-decimal area assertions
(/root/reference/tests/test_overlay.py:80-87).
"""

import numpy as np
import pytest

from sgspark.geom import (from_wkb, from_wkt, point_buffer, points,
                          polygon_boolean, refine_pairs, ring_area,
                          ring_boolean, to_wkb, to_wkt)
from sgspark.geom.clip import clip_ring_convex
from sgspark.geom.predicates import (geom_pair_distance, points_in_ring,
                                     segments_intersect_any)
from sgspark.cells import (anchor_cell_key, cover_cell_keys, point_cell_key,
                           ssb_rute_id)

SQ = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
SQ_HOLE = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 4 6, 6 6, 6 4, 4 4))"
TRI = "POLYGON ((20 20, 30 20, 25 28, 20 20))"
LINE = "LINESTRING (0 0, 5 5, 10 0)"
MP = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))"


def test_wkt_roundtrip_and_measures():
    ga = from_wkt([SQ, SQ_HOLE, TRI, LINE, "POINT (3 4)", MP])
    assert len(ga) == 6
    a = ga.area()
    assert a[0] == pytest.approx(100.0)
    assert a[1] == pytest.approx(96.0)     # hole subtracts 4
    assert a[2] == pytest.approx(40.0)
    assert a[3] == 0.0 and a[4] == 0.0
    assert a[5] == pytest.approx(8.0)
    ln = ga.length()
    assert ln[0] == pytest.approx(40.0)
    assert ln[3] == pytest.approx(2 * np.hypot(5, 5))
    b = ga.bounds()
    assert list(b[0]) == [0, 0, 10, 10]
    assert list(b[5]) == [0, 0, 7, 7]
    # WKT round trip (integer-exact)
    wkt2 = to_wkt(ga)
    ga2 = from_wkt(wkt2)
    assert np.array_equal(ga.coords, ga2.coords)
    # WKB round trip
    ga3 = from_wkb(to_wkb(ga))
    assert np.array_equal(ga.coords, ga3.coords)
    assert np.array_equal(ga.kinds, ga3.kinds)
    assert np.array_equal(ga.ring_offsets, ga3.ring_offsets)


def test_take_and_expand_ranges_skip_empty():
    """Empty geometries and empty ranges contribute nothing: `take` over
    a POLYGON EMPTY keeps the geometries after it aligned."""
    ga = from_wkt(["POINT (0 0)", "POINT (1 1)", "POLYGON EMPTY",
                   "POINT (3 3)"])
    assert to_wkt(ga.take(np.array([0, 2, 3])))[2] == "POINT (3 3)"
    from sgspark.geom.array import expand_ranges
    flat, owner = expand_ranges(np.array([0, 5, 10, 3]),
                                np.array([2, 5, 12, 3]))
    assert flat.tolist() == [0, 1, 10, 11]
    assert owner.tolist() == [0, 0, 2, 2]
    assert len(from_wkt([]).coords_count_per_geom()) == 0


def test_centroid():
    ga = from_wkt([SQ, "POINT (3 4)"])
    c = ga.centroid()
    assert c[0] == pytest.approx([5.0, 5.0])
    assert c[1] == pytest.approx([3.0, 4.0])


def test_pip_with_hole():
    ga = from_wkt([SQ_HOLE])
    px = np.array([5.0, 1.0, 11.0, 5.0])
    py = np.array([5.0, 1.0, 5.0, 3.0])
    from sgspark.geom.predicates import points_in_polygon_geom
    res = points_in_polygon_geom(px, py, ga, 0)
    assert list(res) == [False, True, False, True]  # (5,5) in hole


def test_zero_length_edge_holds_only_its_vertex():
    """A repeated vertex is a zero-length edge: it holds that vertex,
    not every point (the per-ring PIP the oracles use)."""
    ring = from_wkt(["POLYGON ((0 0, 10 0, 10 0, 0 10, 0 0))"]) \
        .rings_of_geom(0)[0]
    px, py = np.array([9.0, 10.0, 2.0, 11.0]), np.array([9.0, 0.0, 2.0, 0.0])
    assert points_in_ring(px, py, ring).tolist() == [False, True, True,
                                                     False]


def test_refine_pairs_pip_and_dwithin():
    polys = from_wkt([SQ, TRI])
    pts = points(np.array([[5.0, 5.0], [25.0, 22.0], [50.0, 50.0]]))
    li = np.array([0, 1, 2, 0])
    ri = np.array([0, 1, 0, 1])
    hit = refine_pairs(pts, polys, li, ri, "within")
    assert list(hit) == [True, True, False, False]
    hit2 = refine_pairs(pts, polys, li, ri, "intersects")
    assert list(hit2) == [True, True, False, False]
    d = geom_pair_distance(pts, polys, li, ri)
    assert d[0] == 0.0 and d[1] == 0.0
    assert d[2] == pytest.approx(np.hypot(40, 40))
    assert d[3] == pytest.approx(np.hypot(20 - 5, 20 - 5))


def test_contains_polygon_pairs():
    outer = from_wkt([SQ])
    inner = from_wkt(["POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))",
                      "POLYGON ((8 8, 12 8, 12 12, 8 12, 8 8))"])
    res = refine_pairs(inner, outer, np.array([0, 1]), np.array([0, 0]), "within")
    assert list(res) == [True, False]
    # vertices inside is not enough: an edge crossing the L's notch, an
    # edge poking into it, a polygon enclosing the hole, a line crossing it
    outer = from_wkt(["POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))",
                      "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0), "
                      "(13 3, 17 3, 17 7, 13 7, 13 3))"])
    inner = from_wkt(["LINESTRING (1 3.5, 3.5 1)",
                      "POLYGON ((0.5 3.9, 0.5 0.1, 3.9 0.1, 0.5 3.9))",
                      "POLYGON ((11 1, 19 1, 19 9, 11 9, 11 1))",
                      "LINESTRING (11 5, 19 5)",
                      # covered: along the boundary, sharing the hole's rim,
                      # holed around the hole
                      "LINESTRING (0 0, 4 0, 4 2)",
                      "POLYGON ((12 2, 18 2, 18 3, 12 3, 12 2))",
                      "POLYGON ((11 1, 19 1, 19 9, 11 9, 11 1), "
                      "(12 2, 18 2, 18 8, 12 8, 12 2))"])
    oi = np.array([0, 0, 1, 1, 0, 1, 1])
    res = refine_pairs(inner, outer, np.arange(7), oi, "within")
    assert list(res) == [False] * 4 + [True] * 3
    assert list(refine_pairs(outer, inner, oi, np.arange(7), "contains")) \
        == list(res)


def test_within_line_and_point_containers():
    """Line and point outers cover with the closed semantics polygon
    outers use: a point on a segment or equal to a point, a line whose
    vertices and split edge pieces all lie on the outer."""
    outer = from_wkt(["LINESTRING (0 0, 4 0)",
                      "MULTILINESTRING ((0 0, 2 0), (2 0, 2 3))",
                      "MULTILINESTRING ((0 0, 1 0), (3 0, 4 0))",
                      "MULTILINESTRING ((0 -1, 0 1), (4 -1, 4 1), "
                      "(2 -1, 2 1))",
                      "POINT (1 0)",
                      "MULTIPOINT ((1 0), (2 0))"])
    cases = [  # (inner, outer index, within?)
        ("POINT (1 0)", 0, True),                 # on the segment
        ("POINT (4 0)", 0, True),                 # at an endpoint
        ("POINT (1 1)", 0, False),                # off the line
        ("POINT (5 0)", 0, False),                # on its extension
        ("MULTIPOINT ((1 0), (3 0))", 0, True),
        ("MULTIPOINT ((1 0), (1 1))", 0, False),
        ("LINESTRING (0 0, 2 0)", 0, True),       # collinear sub-line
        ("LINESTRING (1 0, 3 0)", 0, True),
        ("LINESTRING (0 0, 4 0)", 0, True),       # equal
        ("LINESTRING (1 0, 5 0)", 0, False),      # leaves past the end
        ("LINESTRING (1 0, 3 0, 3 1)", 0, False),  # leaves sideways
        ("LINESTRING (1 0, 2 0, 2 2)", 1, True),  # bends with the parts
        ("POINT (2 3)", 1, True),
        ("LINESTRING (1 0, 2 1)", 1, False),      # cuts the corner
        ("LINESTRING (0 0, 4 0)", 2, False),      # spans the parts' gap
        ("LINESTRING (0.5 0, 1 0)", 2, True),
        ("LINESTRING (0 0, 4 0)", 3, False),      # only crosses (2 0)
        ("POINT (1 0)", 4, True),                 # equals the point
        ("POINT (1 1)", 4, False),
        ("MULTIPOINT ((2 0), (1 0))", 5, True),
        ("LINESTRING (1 0, 2 0)", 5, False),
        ("POLYGON ((0 0, 1 0, 1 1, 0 0))", 0, False),  # polygon inner
    ]
    inner = from_wkt([c[0] for c in cases])
    oi = np.array([c[1] for c in cases])
    want = [c[2] for c in cases]
    n = len(cases)
    assert refine_pairs(inner, outer, np.arange(n), oi, "within").tolist() \
        == want
    assert refine_pairs(outer, inner, oi, np.arange(n), "contains") \
        .tolist() == want


def test_rect_flags_needs_the_four_bbox_corners():
    """A 5-point ring whose vertices all sit on bbox corners is a rect
    only when it walks the four corners in order."""
    from sgspark.geom.predicates import rect_flags
    ga = from_wkt(["POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))",
                   "POLYGON ((4 2, 4 0, 0 0, 0 2, 4 2))",
                   "POLYGON ((0 0, 4 0, 4 2, 4 2, 0 0))",   # repeated vertex
                   "POLYGON ((0 0, 4 2, 4 0, 0 2, 0 0))",   # bow tie
                   "POLYGON ((0 0, 4 0, 4 2, 4 0, 0 0))"])  # back and forth
    assert rect_flags(ga)[0].tolist() == [True, True, False, False, False]
    # the repeated-vertex triangle is not its bbox
    pts = points(np.array([[1.0, 1.5], [3.0, 1.0]]))
    hit = refine_pairs(ga, pts, np.array([2, 2]), np.array([0, 1]),
                       "intersects")
    assert hit.tolist() == [False, True]


def test_segments_intersect():
    a = np.array([[0.0, 0.0], [10.0, 10.0]])
    b = np.array([[0.0, 10.0], [10.0, 0.0]])
    c = np.array([[20.0, 20.0], [30.0, 30.0]])
    assert segments_intersect_any(a, b)
    assert not segments_intersect_any(a, c)


def test_convex_clip_exact():
    sq = from_wkt([SQ]).rings_of_geom(0)[0]
    clipper = np.array([[5.0, -1.0], [20.0, -1.0], [20.0, 20.0], [5.0, 20.0],
                        [5.0, -1.0]])
    out = clip_ring_convex(sq, clipper)
    assert out is not None
    assert ring_area(out) == pytest.approx(50.0)  # exact half


def test_gh_boolean_squares():
    a = from_wkt([SQ]).rings_of_geom(0)[0]
    b = from_wkt(["POLYGON ((5.5 5.5, 15.5 5.5, 15.5 15.5, 5.5 15.5, 5.5 5.5))"]
                 ).rings_of_geom(0)[0]
    inter = ring_boolean(a, b, "intersection")
    assert sum(ring_area(r) for r in inter) == pytest.approx(4.5 * 4.5)
    uni = ring_boolean(a, b, "union")
    assert sum(ring_area(r) for r in uni) == pytest.approx(100 + 100 - 4.5 * 4.5)
    diff = ring_boolean(a, b, "difference")
    assert sum(ring_area(r) for r in diff) == pytest.approx(100 - 4.5 * 4.5)


def _lens_area(r1, r2, d):
    """Analytic circle-circle intersection area."""
    if d >= r1 + r2:
        return 0.0
    if d <= abs(r1 - r2):
        return np.pi * min(r1, r2) ** 2
    a1 = r1 * r1 * np.arccos((d * d + r1 * r1 - r2 * r2) / (2 * d * r1))
    a2 = r2 * r2 * np.arccos((d * d + r2 * r2 - r1 * r1) / (2 * d * r2))
    a3 = 0.5 * np.sqrt((-d + r1 + r2) * (d + r1 - r2) * (d - r1 + r2) * (d + r1 + r2))
    return a1 + a2 - a3


@pytest.mark.parametrize("d", [50.0, 120.0, 199.0])
def test_gh_circle_lens(d):
    qs = 64  # fine discretization so analytic oracle holds to ~0.2%
    c1 = point_buffer(np.array([[0.0, 0.0]]), 100.0, qs).rings_of_geom(0)[0]
    c2 = point_buffer(np.array([[d, 0.0]]), 120.0, qs).rings_of_geom(0)[0]
    inter = ring_boolean(c1, c2, "intersection")
    got = sum(ring_area(r) for r in inter)
    want = _lens_area(100.0, 120.0, d)
    assert got == pytest.approx(want, rel=5e-3)
    # union + difference complement checks
    uni = sum(ring_area(r) for r in ring_boolean(c1, c2, "union"))
    a1 = ring_area(c1)
    a2 = ring_area(c2)
    assert uni == pytest.approx(a1 + a2 - got, rel=1e-6)
    dif = sum(ring_area(r) for r in ring_boolean(c1, c2, "difference"))
    assert dif == pytest.approx(a1 - got, rel=1e-6)


def test_gh_contained_difference_makes_hole():
    a = from_wkt([SQ]).rings_of_geom(0)[0]
    b = from_wkt(["POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))"]).rings_of_geom(0)[0]
    rings = ring_boolean(a, b, "difference")
    assert sum(ring_area(r) for r in rings) == pytest.approx(96.0)


def test_polygon_boolean_with_holes():
    A = [[from_wkt([SQ_HOLE]).rings_of_geom(0)[0],
          from_wkt([SQ_HOLE]).rings_of_geom(0)[1]]]
    B = [[np.array([[8.5, 8.5], [12.5, 8.5], [12.5, 12.5], [8.5, 12.5], [8.5, 8.5]])]]
    out = polygon_boolean(A, B, "intersection")
    area = sum(sum(ring_area(r) if i == 0 else ring_area(r)
                   for i, r in enumerate(p)) for p in out)
    assert area == pytest.approx(1.5 * 1.5)


def test_cells_arithmetic():
    x = np.array([254_123.0, 273_999.0])
    y = np.array([6_644_456.0, 6_661_001.0])
    rid = ssb_rute_id(x, y, 1000)
    assert rid[0] == "22540006644000"
    assert rid[1] == "22730006661000"
    k = point_cell_key(x, y, 1000.0)
    gi, keys = cover_cell_keys(np.array([0.0]), np.array([0.0]),
                               np.array([2500.0]), np.array([1500.0]), 1000.0)
    assert len(keys) == 3 * 2
    assert (gi == 0).all()
    ak = anchor_cell_key(np.array([100.0]), np.array([100.0]),
                         np.array([50.0]), np.array([150.0]), 1000.0)
    assert ak[0] == point_cell_key(np.array([100.0]), np.array([150.0]), 1000.0)[0]


def test_rect_polygon_wkb_matches_generic_writer():
    """The vectorized rectangle writer emits the same bytes as the
    generic `to_wkb(from_rings(...))` path it replaces in
    `bounds_to_polygon` and `make_grid_from_bbox`, for random rectangles
    over both signs, integral corners, zero extents and -0.0."""
    from sgspark.geom.array import POLYGON, from_rings
    from sgspark.geom.wkb import rect_polygon_wkb
    rng = np.random.default_rng(11)
    n = 300
    x0 = rng.uniform(-1e6, 1e6, n)
    y0 = rng.uniform(-1e7, 1e7, n)
    x1 = x0 + rng.uniform(0, 5e3, n)
    y1 = y0 + rng.uniform(0, 5e3, n)
    x0[:40] = np.round(x0[:40])          # integral corners
    x1[40:60] = x0[40:60]                # zero width
    y0[60:70], y1[60:70] = -0.0, 0.0     # signed zero
    rings = [[[np.array([[a, b], [c, b], [c, d], [a, d], [a, b]])]]
             for a, b, c, d in zip(x0, y0, x1, y1)]
    assert rect_polygon_wkb(x0, y0, x1, y1) == \
        to_wkb(from_rings(rings, [POLYGON] * n))
