"""`intersects` refine for non-point lefts.

Lines, polygons and multipoints on the left take the batched exact test
(`predicates._general_intersects`): edge x edge touches over the edges
near the other geometry's bbox, then first-vertex-of-every-part
containment.  Its reference is the per-pair `_geom_geom_intersects`,
run on the driver over every bbox-overlapping pair.  `sjoin_pairs` must
return exactly the oracle's pairs on the broadcast route and on
`broadcast_right=False`, for rect / concave / holed / multipart /
high-vertex layers: lines collinear with edges, touching at vertices,
wholly inside, inside holes, and containment without crossing in both
directions."""

import numpy as np
import pytest
from hypothesis import assume, example, given, settings, strategies as st
from pyspark.sql import types as T

import sgspark.geom.predicates as predicates
from sgspark.geom.predicates import _geom_geom_intersects, refine_pairs
from sgspark.geom.wkb import from_wkt, to_wkb
from sgspark.joins import sjoin_pairs

POLYS = [
    # axis-aligned rectangle (rect fast branch)
    "POLYGON ((0 0, 6 0, 6 4, 0 4, 0 0))",
    # concave L
    "POLYGON ((10 0, 14 0, 14 2, 12 2, 12 4, 10 4, 10 0))",
    # square with hole
    "POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0), "
    "(23 3, 27 3, 27 7, 23 7, 23 3))",
    # multipolygon, two islands
    "MULTIPOLYGON (((40 0, 44 0, 44 4, 40 4, 40 0)), "
    "((46 6, 50 6, 50 10, 46 10, 46 6)))",
    # triangle (diagonal edges)
    "POLYGON ((60 0, 70 0, 65 10, 60 0))",
    # 40-gon: more edges than one chunk of a few edge pairs
    "POLYGON ((" + ", ".join(
        f"{80 + 5 * np.cos(2 * np.pi * i / 40)!r} "
        f"{5 + 5 * np.sin(2 * np.pi * i / 40)!r}"
        for i in list(range(40)) + [0]) + "))",
]

LINES = [
    "LINESTRING (1 1, 5 3)",            # 0 wholly inside rect
    "LINESTRING (-1 2, 7 2)",           # 1 crosses rect horizontally
    "LINESTRING (-1 -1, -1 5)",         # 2 outside rect
    "LINESTRING (0 0, 6 0)",            # 3 collinear with rect bottom edge
    "LINESTRING (6 4, 8 8)",            # 4 touches rect corner
    "LINESTRING (11 1, 11 3)",          # 5 inside L
    "LINESTRING (13 3, 13 5)",          # 6 in L's notch (outside)
    "LINESTRING (9 3, 13 3)",           # 7 crosses into L then notch
    "LINESTRING (12 2, 12 4)",          # 8 collinear with L notch edge
    "LINESTRING (24 4, 26 6)",          # 9 wholly inside hole (outside)
    "LINESTRING (21 1, 29 1)",          # 10 inside annulus
    "LINESTRING (25 5, 25 12)",         # 11 hole -> through rim -> out
    "LINESTRING (41 1, 43 3)",          # 12 island A only
    "LINESTRING (45 5, 45.5 5.5)",      # 13 between islands (outside)
    "LINESTRING (43 3, 47 7)",          # 14 spans both islands
    "LINESTRING (65 10, 65 12)",        # 15 touches triangle apex
    "LINESTRING (62 1, 68 1)",          # 16 inside triangle
    "LINESTRING (59 5, 64 5)",          # 17 crosses triangle's left edge
    "LINESTRING (80 5, 80.1 5.1)",      # 18 inside 40-gon
    "LINESTRING (74 -1, 86 11)",        # 19 diagonal through 40-gon
    "MULTILINESTRING ((100 100, 101 101), (1 1, 2 2))",  # 20 2nd chain in
    "MULTILINESTRING ((1 1, 2 2), (100 100, 101 101))",  # 21 1st chain in
    "LINESTRING (3 2, 3 2)",            # 22 degenerate point-line in rect
]

LEFTS = POLYS + [
    "POLYGON ((2 1, 4 1, 4 3, 2 3, 2 1))",            # 6 inside rect (A in B)
    "POLYGON ((-5 -5, 75 -5, 75 15, -5 15, -5 -5))",  # 7 contains most (B in A)
    "POLYGON ((24 4, 26 4, 26 6, 24 6, 24 4))",       # 8 inside the hole
    "POLYGON ((5 3, 11 3, 11 5, 5 5, 5 3))",          # 9 straddles rect + L
    "POLYGON ((6 4, 8 4, 8 6, 6 6, 6 4))",            # 10 corner touch w/ rect
    "POLYGON ((0 4, 6 4, 6 8, 0 8, 0 4))",            # 11 shares rect top edge
    "POLYGON ((200 200, 201 200, 201 201, 200 201, 200 200))",  # 12 far away
    # 13 holed left whose hole swallows the first multipolygon island;
    # the second island lies inside the left without crossing it
    "POLYGON ((38 -2, 52 -2, 52 12, 38 12, 38 -2), "
    "(39 -1, 45 -1, 45 5, 39 5, 39 -1))",
]


def _geom_df(spark, wkts, id_col):
    ga = from_wkt(wkts)
    b = ga.bounds()
    rows = [(i, bytearray(w), float(b[i, 0]), float(b[i, 1]),
             float(b[i, 2]), float(b[i, 3]))
            for i, w in enumerate(to_wkb(ga))]
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType())])
    return spark.createDataFrame(rows, schema)


def _random_lines(n=150, seed=11):
    rng = np.random.RandomState(seed)
    wkts = []
    for _ in range(n):
        k = rng.randint(2, 5)
        x0, y0 = rng.uniform(-3, 90), rng.uniform(-3, 13)
        xs = x0 + np.cumsum(rng.uniform(-4, 4, k))
        ys = y0 + np.cumsum(rng.uniform(-4, 4, k))
        wkts.append("LINESTRING (" + ", ".join(
            f"{x!r} {y!r}" for x, y in zip(xs, ys)) + ")")
    return wkts


def _random_polys(n=120, seed=23):
    rng = np.random.RandomState(seed)
    wkts = []
    for i in range(n):
        cx, cy = rng.uniform(-5, 95), rng.uniform(-5, 15)
        r = rng.uniform(0.3, 6.0)
        kind = i % 3
        if kind == 0:  # rotated triangle
            a0 = rng.uniform(0, 2 * np.pi)
            pts = [(cx + r * np.cos(a0 + t), cy + r * np.sin(a0 + t))
                   for t in (0.0, 2.2, 4.4)]
        elif kind == 1:  # axis-aligned rect
            pts = [(cx - r, cy - r), (cx + r, cy - r),
                   (cx + r, cy + r), (cx - r, cy + r)]
        else:  # concave star pentagon
            pts = [(cx + (r if k % 2 == 0 else 0.4 * r) * np.cos(
                        2 * np.pi * k / 10),
                    cy + (r if k % 2 == 0 else 0.4 * r) * np.sin(
                        2 * np.pi * k / 10)) for k in range(10)]
        pts.append(pts[0])
        wkts.append("POLYGON ((" + ", ".join(
            f"{x!r} {y!r}" for x, y in pts) + "))")
    return wkts


def pair_set(df):
    return {(r[0], r[1]) for r in df.collect()}


def oracle_pairs(lwkts, rwkts):
    """(left index, right index) of every bbox-overlapping pair that
    `_geom_geom_intersects` reports as intersecting."""
    la, ra = from_wkt(lwkts), from_wkt(rwkts)
    lb, rb = la.bounds(), ra.bounds()
    return {(i, j) for i in range(len(la)) for j in range(len(ra))
            if lb[i, 0] <= rb[j, 2] and lb[i, 2] >= rb[j, 0]
            and lb[i, 1] <= rb[j, 3] and lb[i, 3] >= rb[j, 1]
            and _geom_geom_intersects(la, i, ra, j)}


def _both_routes(spark, lwkts, rwkts, gridsize=2000.0, lid="lid",
                 rid="rid"):
    """sjoin_pairs "intersects" pairs on the broadcast route and on the
    distributed route; asserts they are the oracle's pairs."""
    l = _geom_df(spark, lwkts, lid)
    r = l if rwkts is lwkts else _geom_df(spark, rwkts, rid)
    want = oracle_pairs(lwkts, rwkts)
    for bcast in (None, False):
        got = pair_set(sjoin_pairs(l, r, "intersects", left_id=lid,
                                   right_id=rid, gridsize=gridsize,
                                   broadcast_right=bcast))
        assert got == want, (bcast, got ^ want)
    return want


@pytest.mark.parametrize("gridsize", [3.0, 7.0])
def test_line_lefts_match_oracle(spark, gridsize):
    got = _both_routes(spark, LINES + _random_lines(), POLYS, gridsize)
    # hand-placed expectations (line index, zone index)
    for lid, zid in [(0, 0), (1, 0), (3, 0), (4, 0), (5, 1), (7, 1),
                     (8, 1), (10, 2), (11, 2), (12, 3), (14, 3),
                     (15, 4), (16, 4), (17, 4), (18, 5), (19, 5),
                     (20, 0), (21, 0), (22, 0)]:
        assert (lid, zid) in got, (lid, zid)
    for lid in (2, 6, 9, 13):
        assert not any(p == lid for p, _ in got), lid


@pytest.mark.parametrize("gridsize", [2000.0, 5.0])
def test_polygon_lefts_match_oracle(spark, gridsize):
    got = _both_routes(spark, LEFTS, POLYS, gridsize)
    for lid, zid in [(6, 0), (7, 0), (7, 1), (7, 2), (7, 3), (7, 4),
                     (9, 0), (9, 1), (10, 0), (11, 0), (13, 3)]:
        assert (lid, zid) in got, (lid, zid)
    assert (8, 2) not in got
    assert not any(p == 12 for p, _ in got)


def test_random_polygons_match_oracle(spark):
    got = _both_routes(spark, _random_polys(),
                       POLYS + _random_polys(40, seed=7))
    assert len(got) > 50  # non-trivial overlap corpus


def test_self_join_matches_oracle(spark):
    wkts = POLYS + _random_polys(60, seed=41)
    got = _both_routes(spark, wkts, wkts, lid="pid", rid="pid")
    # every geometry intersects itself: the identity diagonal is present
    assert {(i, i) for i in range(len(wkts))} <= got


def test_chunked_refine_identical(monkeypatch):
    """Chunks of a few edge pairs (a pair above the bound runs alone)
    give the same answers as one chunk per batch."""
    lwkts = LINES + _random_lines(40) + LEFTS + _random_polys(30)
    rwkts = POLYS + _random_polys(20, seed=7)
    la, ra = from_wkt(lwkts), from_wkt(rwkts)
    li, ri = (a.ravel() for a in np.meshgrid(
        np.arange(len(la)), np.arange(len(ra)), indexing="ij"))
    whole = refine_pairs(la, ra, li, ri, "intersects")
    monkeypatch.setattr(predicates, "MAX_EDGE_PAIRS", 3)
    assert (refine_pairs(la, ra, li, ri, "intersects") == whole).all()
    assert whole.sum() > 100


# ---------------------------------------------------------------------- #
# hypothesis differential on an integer lattice: small coordinates make
# shared edges, vertex touches and collinear overlaps common.  Single
# points on the left take the PIP fast path against polygons and the
# batched test against lines and points.
# ---------------------------------------------------------------------- #
c = st.integers(min_value=0, max_value=12)


def _wkt_xy(pts):
    return ", ".join(f"{x} {y}" for x, y in pts)


@st.composite
def ring(draw, x0=0):
    """Closed integer ring: a rectangle, or a triangle with nonzero area."""
    if draw(st.booleans()):
        x, y = draw(c) + x0, draw(c)
        w = draw(st.integers(1, 8))
        h = draw(st.integers(1, 8))
        return [(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)]
    p = [(draw(c) + x0, draw(c)) for _ in range(3)]
    (ax, ay), (bx, by), (qx, qy) = p
    assume((bx - ax) * (qy - ay) != (by - ay) * (qx - ax))
    return p + [p[0]]


@st.composite
def polygon(draw, x0=0):
    """A rectangle with an optional hole strictly inside, or a triangle."""
    r = draw(ring(x0))
    xs, ys = [x for x, _ in r], [y for _, y in r]
    if len(r) == 5 and max(xs) - min(xs) >= 3 and max(ys) - min(ys) >= 3 \
            and draw(st.booleans()):
        hx, hy = min(xs) + 1, min(ys) + 1
        hw = draw(st.integers(1, max(xs) - min(xs) - 2))
        hh = draw(st.integers(1, max(ys) - min(ys) - 2))
        hole = [(hx, hy), (hx + hw, hy), (hx + hw, hy + hh), (hx, hy + hh),
                (hx, hy)]
        return f"(({_wkt_xy(r)}), ({_wkt_xy(hole)}))"
    return f"(({_wkt_xy(r)}))"


@st.composite
def geometry(draw, left):
    kinds = ["point", "multipoint", "line", "multiline", "polygon",
             "multipolygon"]
    kind = draw(st.sampled_from(kinds))
    pt = st.tuples(c, c)
    if kind == "point":
        return "POINT ({} {})".format(*draw(pt))
    if kind == "multipoint":
        pts = draw(st.lists(pt, min_size=2, max_size=4))
        return "MULTIPOINT (" + ", ".join(f"({x} {y})" for x, y in pts) + ")"
    if kind in ("line", "multiline"):
        n = 1 if kind == "line" else draw(st.integers(2, 3))
        parts = [_wkt_xy(draw(st.lists(pt, min_size=2, max_size=4)))
                 for _ in range(n)]
        if kind == "line":
            return f"LINESTRING ({parts[0]})"
        return "MULTILINESTRING (" + ", ".join(f"({p})" for p in parts) + ")"
    if kind == "polygon":
        return "POLYGON " + draw(polygon())
    # parts side by side, so the multipolygon is valid
    return "MULTIPOLYGON (" + draw(polygon()) + ", " + draw(polygon(30)) + ")"


@settings(max_examples=200, deadline=None)
@given(lefts=st.lists(geometry(True), min_size=1, max_size=4),
       rights=st.lists(geometry(False), min_size=1, max_size=4))
def test_refine_matches_oracle_property(lefts, rights):
    la, ra = from_wkt(lefts), from_wkt(rights)
    li, ri = (a.ravel() for a in np.meshgrid(
        np.arange(len(la)), np.arange(len(ra)), indexing="ij"))
    got = refine_pairs(la, ra, li, ri, "intersects")
    want = [_geom_geom_intersects(la, int(i), ra, int(j))
            for i, j in zip(li, ri)]
    assert got.tolist() == want


@settings(max_examples=200, deadline=None)
@example(x0=0, y0=0, dx=1, dy=0, n=49, k=1)
@given(x0=c, y0=c, dx=st.integers(-3, 3), dy=st.integers(-3, 3),
       n=st.integers(2, 60), k=st.integers(1, 59))
def test_point_on_segment_property(x0, y0, dx, dy, n, k):
    """A lattice point at a non-lattice parameter k/n of a segment lies on
    it, for a point or multipoint on either side and the segment as a line
    or as one part of a multiline."""
    assume((dx, dy) != (0, 0) and k < n)
    a, b = (x0, y0), (x0 + n * dx, y0 + n * dy)
    p = (x0 + k * dx, y0 + k * dy)
    pts = ["POINT ({} {})".format(*p), f"MULTIPOINT ((50 50), ({_wkt_xy([p])}))"]
    segs = [f"LINESTRING ({_wkt_xy([a, b])})",
            f"MULTILINESTRING ((90 90, 91 95), ({_wkt_xy([a, b])}))"]
    for lw, rw in [(q, g) for q in pts for g in segs] + \
            [(g, q) for q in pts for g in segs]:
        la, ra = from_wkt([lw]), from_wkt([rw])
        z = np.zeros(1, dtype=np.int64)
        assert refine_pairs(la, ra, z, z, "intersects").tolist() == [True], \
            (lw, rw)
        assert _geom_geom_intersects(la, 0, ra, 0), (lw, rw)



@pytest.mark.parametrize("left_kind", ["point", "polygon"])
@pytest.mark.parametrize("broadcast_right", [None, True, False])
def test_empty_right_layer(spark, left_kind, broadcast_right):
    """An empty right layer yields no pairs, with the usual schema."""
    wkts = (["POINT (1 1)", "POINT (5 2)"] if left_kind == "point"
            else LEFTS[:3])
    left = _geom_df(spark, wkts, "lid")
    right = _geom_df(spark, ["POINT (0 0)"], "zid").limit(0)
    out = sjoin_pairs(left, right, "intersects", left_id="lid",
                      right_id="zid", broadcast_right=broadcast_right)
    assert out.collect() == []
    assert [(f.name, f.dataType) for f in out.schema.fields] == \
        [("lid", T.LongType()), ("zid", T.LongType())]
