"""The point x polygon join's three routes agree pair for pair.

`sjoin_pairs` reaches each route through its existing arguments:

  kernel_bcast  the default call                -> broadcast right, Arrow refine
  points_dist   broadcast_right=False, point hint -> bucketed Arrow cogroup
  kernel_dist   broadcast_right=False            -> cell join, Arrow refine

All three refine with the same kernel (`refine_pairs`), so they must agree
on concave, holed and multipart polygons, including points exactly on
edges, vertices and hole rims, and on any partitioning of the input.
`dwithin` has no point executor: its point-hinted distributed call takes
`kernel_dist`.
"""

import logging
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F, types as T

import sgspark.joins as joins
from sgspark.geom.wkb import from_wkt, to_wkb
from sgspark.joins import sjoin_pairs

POLYS = [
    # concave L
    "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))",
    # square with hole
    "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0), "
    "(13 3, 17 3, 17 7, 13 7, 13 3))",
    # multipolygon, two islands
    "MULTIPOLYGON (((30 0, 34 0, 34 4, 30 4, 30 0)), "
    "((36 6, 40 6, 40 10, 36 10, 36 6)))",
    # triangle (diagonal edges)
    "POLYGON ((50 0, 60 0, 55 10, 50 0))",
    # 40-gon: many edges per pair in the ragged PIP expansion
    "POLYGON ((" + ", ".join(
        f"{70 + 5 * np.cos(2 * np.pi * i / 40)!r} "
        f"{5 + 5 * np.sin(2 * np.pi * i / 40)!r}"
        for i in list(range(40)) + [0]) + "))",
    # triangle with a repeated vertex (a zero-length edge at (36 5.5));
    # the probe point (35 5) lies in its bbox but outside it
    "POLYGON ((34.5 4, 36 4, 36 5.5, 36 5.5, 34.5 4))",
]


def zones_df(spark, wkts=POLYS):
    ga = from_wkt(wkts)
    b = ga.bounds()
    rows = [(i, bytearray(w), float(b[i, 0]), float(b[i, 1]),
             float(b[i, 2]), float(b[i, 3]))
            for i, w in enumerate(to_wkb(ga))]
    schema = T.StructType([
        T.StructField("zid", T.LongType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType())])
    return spark.createDataFrame(rows, schema)


def points_df(spark):
    pts = [
        (1.0, 1.0), (3.0, 3.0),            # inside L / in L's notch (out)
        (2.0, 2.0), (0.0, 0.0), (4.0, 1.0),  # reflex vertex / vertex / edge
        (15.0, 5.0), (11.0, 1.0),          # inside hole (out) / in annulus
        (13.0, 3.0), (13.0, 5.0),          # hole vertex / hole edge (in)
        (32.0, 2.0), (38.0, 8.0), (35.0, 5.0),  # island A / B / between
                                                # (in zid 5's bbox, out)
        (55.0, 5.0), (52.5, 5.0), (55.0, 10.0),  # tri in / on diag / apex
        (100.0, 100.0),                    # far outside
    ]
    # plus a deterministic scatter
    rng = np.random.RandomState(7)
    pts += [(70.0, 5.0), (75.0, 5.0)]  # 40-gon center / on-vertex
    pts += [(float(x), float(y)) for x, y in
            np.c_[rng.uniform(-2, 78, 300), rng.uniform(-2, 12, 300)]]
    pdf = pd.DataFrame(pts, columns=["x", "y"])
    pdf["pid"] = np.arange(len(pdf))
    ga_wkb = to_wkb(from_wkt([f"POINT ({r.x!r} {r.y!r})"
                              for r in pdf.itertuples()]))
    pdf["geometry"] = [bytearray(b) for b in ga_wkb]
    pdf["minx"] = pdf.x
    pdf["miny"] = pdf.y
    pdf["maxx"] = pdf.x
    pdf["maxy"] = pdf.y
    return spark.createDataFrame(
        pdf[["pid", "geometry", "minx", "miny", "maxx", "maxy"]])


def pair_set(df):
    return {(r[0], r[1]) for r in df.collect()}


# the arguments that reach each route on a general-polygon right
ROUTE_ARGS = {
    "kernel_bcast": {},
    "points_dist": {"broadcast_right": False, "assume_left_points": True},
    "kernel_dist": {"broadcast_right": False},
}


class _RouteNames(logging.Handler):
    def __init__(self):
        super().__init__()
        self.names = []

    def emit(self, record):
        self.names.append(record.route)


@contextmanager
def logged_routes():
    """The route names `sgspark.route` logs inside the block."""
    h = _RouteNames()
    log = logging.getLogger("sgspark.route")
    level = log.level
    log.addHandler(h)
    log.setLevel(logging.INFO)
    try:
        yield h.names
    finally:
        log.removeHandler(h)
        log.setLevel(level)


def three_routes(left, right, predicate="within", rows=pair_set, **kw):
    """{route: rows(out)} of one `sjoin_pairs` call per route of
    ROUTE_ARGS, each checked to have taken that route."""
    got = {}
    for name, args in ROUTE_ARGS.items():
        with logged_routes() as names:
            got[name] = rows(sjoin_pairs(left, right, predicate, **kw,
                                         **args))
        assert names == [name], (name, names)
    return got


@pytest.mark.parametrize("predicate", ["within", "intersects"])
def test_three_paths_agree(spark, predicate):
    zones = zones_df(spark)
    pts = points_df(spark)
    got = three_routes(pts, zones, predicate, left_id="pid",
                       right_id="zid", gridsize=7.0)
    kernel = got["kernel_dist"]
    assert got["points_dist"] == kernel == got["kernel_bcast"]
    # sanity on the hand-placed boundary cases (boundary counts as inside)
    for pid, zid in [(0, 0), (2, 0), (3, 0), (4, 0), (6, 1), (7, 1),
                     (8, 1), (9, 2), (10, 2), (12, 3), (13, 3), (14, 3)]:
        assert (pid, zid) in kernel
    for pid in (1, 5, 11, 15):
        assert not any(p == pid for p, _ in kernel)


def test_rect_keep_distance_routes_agree(spark):
    """keep_distance against rectangles: the auto broadcast route (whose
    compiled rect filters emit no distance, so it refines with the kernel
    here) and broadcast_right=False return the same columns and rows."""
    zones = zones_df(spark, ["POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))",
                             "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))",
                             "POLYGON ((3 1, 12 1, 12 5, 3 5, 3 1))"])
    pts = points_df(spark)
    for predicate in ("within", "intersects", "covered_by"):
        outs = [sjoin_pairs(pts, zones, predicate, left_id="pid",
                            right_id="zid", gridsize=7.0,
                            keep_distance=True, **kw)
                for kw in ({"assume_left_points": True}, {},
                           {"broadcast_right": False})]
        assert all(o.schema == outs[-1].schema for o in outs)
        assert outs[-1].columns == ["pid", "zid", "distance"]
        rows = [sorted(tuple(r) for r in o.collect()) for o in outs]
        assert rows[0] == rows[1] == rows[2] and len(rows[0]) > 0


def test_points_dist_plan_has_one_python_stage(spark):
    """The pair path of `points_dist` holds exactly one Python stage, the
    bucketed Arrow cogroup; the cell keys, buckets and the right's cover
    explode are JVM expressions, and no nested-loop join is planned."""
    zones = zones_df(spark)
    pts = points_df(spark)
    with logged_routes() as names:
        out = sjoin_pairs(pts, zones, "within", left_id="pid",
                          right_id="zid", gridsize=7.0,
                          broadcast_right=False, assume_left_points=True)
    assert names == ["points_dist"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInArrow") == 1
    assert not any(p in plan for p in joins._PY_PLAN_NODES)
    assert "BroadcastNestedLoopJoin" not in plan


def refines_with_kernel(df) -> bool:
    """The plan of `df` refines its pairs in the Arrow kernel's
    mapInPandas stage."""
    return "kernel(" in df._jdf.queryExecution().executedPlan().toString()


def test_dwithin_three_paths_agree(spark):
    """dwithin against general polygons: kernel-dist / point-hinted dist
    / broadcast-kernel must agree on pairs AND bit-exact distances.
    dwithin has no point executor: the point-hinted distributed call
    refines with the Arrow kernel."""
    zones = zones_df(spark)
    pts = points_df(spark)

    def rows(df):
        return {(r[0], r[1], r[2]) for r in df.collect()}

    kernel = rows(sjoin_pairs(pts, zones, "dwithin", left_id="pid",
                              right_id="zid", distance=1.25, gridsize=7.0,
                              broadcast_right=False))
    out = sjoin_pairs(pts, zones, "dwithin", left_id="pid",
                      right_id="zid", distance=1.25, gridsize=7.0,
                      broadcast_right=False, assume_left_points=True)
    assert refines_with_kernel(out)
    hinted = rows(out)
    bcast = rows(sjoin_pairs(pts, zones, "dwithin", left_id="pid",
                             right_id="zid", distance=1.25, gridsize=7.0,
                             assume_left_points=True))
    assert kernel == hinted == bcast
    assert len(kernel) > 0
    d = {(a, b): dist for a, b, dist in kernel}
    assert d[(0, 0)] == 0.0          # inside -> 0
    assert d[(4, 0)] == 0.0          # on the L's edge -> boundary = 0
    assert (11, 2) not in d          # (35,5): corner dist sqrt(2) > 1.25
    assert 0.35 < d[(11, 5)] < 0.36  # outside zid 5, 0.5/sqrt(2) away
    wider = rows(sjoin_pairs(pts, zones, "dwithin", left_id="pid",
                             right_id="zid", distance=1.5, gridsize=7.0,
                             assume_left_points=True))
    dw = {(a, b): dist for a, b, dist in wider}
    assert dw[(11, 2)] == float(np.sqrt(np.float64(1.0) + np.float64(1.0)))


def high_vertex_zones_df(spark):
    """Rights that defeat the unroll tiers without cell subsetting: a
    200-gon, a concave comb (many reflex teeth), and a holed 100-gon —
    plus a C-shape whose bbox has cover cells entirely LEFT of the body
    in their band (exercises the packed __base parity constant)."""
    comb = "POLYGON ((0 0, 40 0, 40 10, " + ", ".join(
        f"{40 - 2 * i} {10 if i % 2 == 0 else 2}" for i in range(1, 20)
    ) + ", 0 10, 0 0))"
    ngon200 = "POLYGON ((" + ", ".join(
        f"{60 + 15 * np.cos(2 * np.pi * i / 200)!r} "
        f"{15 + 15 * np.sin(2 * np.pi * i / 200)!r}"
        for i in list(range(200)) + [0]) + "))"
    ring100 = "POLYGON ((" + ", ".join(
        f"{110 + 14 * np.cos(2 * np.pi * i / 100)!r} "
        f"{15 + 14 * np.sin(2 * np.pi * i / 100)!r}"
        for i in list(range(100)) + [0]) + "), (" + ", ".join(
        f"{110 + 6 * np.cos(2 * np.pi * i / 60)!r} "
        f"{15 + 6 * np.sin(2 * np.pi * i / 60)!r}"
        for i in list(range(60)) + [0]) + "))"
    cshape = ("POLYGON ((170 0, 180 0, 180 30, 150 30, 150 20, "
              "170 20, 170 0))")  # bbox [150,180]x[0,30]; body right/top
    ga = from_wkt([comb, ngon200, ring100, cshape])
    b = ga.bounds()
    rows = [(i, bytearray(w), float(b[i, 0]), float(b[i, 1]),
             float(b[i, 2]), float(b[i, 3]))
            for i, w in enumerate(to_wkb(ga))]
    return spark.createDataFrame(rows, zones_df(spark).schema)


def high_vertex_points_df(spark):
    rng = np.random.RandomState(11)
    pts = [(20.0, 5.0), (20.0, 9.5),      # comb body / between teeth
           (60.0, 15.0), (74.9, 15.0),    # 200-gon center / near rim
           (110.0, 15.0), (110.0, 25.0),  # ring hole (out) / annulus (in)
           (155.0, 10.0), (175.0, 10.0),  # C bbox empty notch / C body
           (155.0, 25.0)]                 # C top bar (in)
    pts += [(float(x), float(y)) for x, y in
            np.c_[rng.uniform(-5, 190, 400), rng.uniform(-5, 35, 400)]]
    pdf = pd.DataFrame(pts, columns=["x", "y"])
    pdf["pid"] = np.arange(len(pdf))
    pdf["geometry"] = [bytearray(b) for b in to_wkb(from_wkt(
        [f"POINT ({r.x!r} {r.y!r})" for r in pdf.itertuples()]))]
    pdf["minx"] = pdf.x
    pdf["miny"] = pdf.y
    pdf["maxx"] = pdf.x
    pdf["maxy"] = pdf.y
    return spark.createDataFrame(
        pdf[["pid", "geometry", "minx", "miny", "maxx", "maxy"]])


@pytest.mark.parametrize("gridsize", [4.0, 11.0, 50000.0])
def test_high_vertex_three_paths_agree(spark, gridsize):
    """High-vertex rights (a 200-gon, a comb, a holed 100-gon, a C-shape)
    give identical pair sets on every route at gridsizes that produce
    many cover cells per polygon (4.0), a few (11.0), and one
    (50000.0)."""
    zones = high_vertex_zones_df(spark)
    pts = high_vertex_points_df(spark)
    got = three_routes(pts, zones, "within", left_id="pid",
                       right_id="zid", gridsize=gridsize)
    kernel = got["kernel_dist"]
    assert got["points_dist"] == kernel == got["kernel_bcast"]
    assert len(kernel) > 0
    # hand-placed sanity: C-notch point outside, body/top-bar inside
    assert not any(p == 6 for p, _ in kernel)
    assert (7, 3) in kernel and (8, 3) in kernel
    assert (5, 2) in kernel and not any(p == 4 for p, _ in kernel)


def test_high_vertex_dwithin_paths_agree(spark):
    zones = high_vertex_zones_df(spark)
    pts = high_vertex_points_df(spark)

    def rows(df):
        return {(r[0], r[1], r[2]) for r in df.collect()}

    kw = dict(left_id="pid", right_id="zid", gridsize=6.0, distance=2.5)
    kernel = rows(sjoin_pairs(pts, zones, "dwithin",
                              broadcast_right=False, **kw))
    out = sjoin_pairs(pts, zones, "dwithin", broadcast_right=False,
                      assume_left_points=True, **kw)
    assert refines_with_kernel(out)
    hinted = rows(out)
    bcast = rows(sjoin_pairs(pts, zones, "dwithin",
                             assume_left_points=True, **kw))
    assert kernel == hinted == bcast and len(kernel) > 0


@pytest.mark.parametrize("pad", [0, 18])
def test_zero_length_edge_holds_only_its_vertex(spark, pad):
    """`POLYGON ((0 0, 10 0, 10 0, 0 10, 0 0))` repeats (10 0): every
    route agrees with the Arrow kernel on it, alone (pad=0) and as the
    first part of a multipolygon with 18 islands (pad=18), and
    (9 9) is outside."""
    from sgspark.geom import refine_pairs
    probes = [(9.0, 9.0), (10.0, 0.0), (2.0, 2.0), (5.0, 5.0),
              (10.0, 1.0), (11.0, 0.0)]
    tri = "((0 0, 10 0, 10 0, 0 10, 0 0))"
    islands = [f"(({20 + 2 * k} 20, {21 + 2 * k} 20, {21 + 2 * k} 21, "
               f"{20 + 2 * k} 20))" for k in range(pad)]
    wkt = f"MULTIPOLYGON ({', '.join([tri] + islands)})" if pad \
        else f"POLYGON {tri}"
    ga = from_wkt([wkt] + [f"POINT ({x} {y})" for x, y in probes])
    n = len(probes)
    want = refine_pairs(ga, ga, np.arange(1, n + 1), np.zeros(n, int),
                        "within").tolist()
    assert want == [False, True, True, True, False, False]
    got = three_routes(lattice_df(spark, probes), zones_df(spark, [wkt]),
                       "within", left_id="pid", right_id="zid",
                       gridsize=3.0)
    expect = {(i, 0) for i, w in enumerate(want) if w}
    assert got["points_dist"] == got["kernel_dist"] \
        == got["kernel_bcast"] == expect


def test_concave_zone_variant_paths_agree(spark, monkeypatch):
    """SGSPARK_CONCAVE_ZONES=1 bench variant: L-shaped zones through the
    kernel and the distributed JVM path give identical pair sets."""
    monkeypatch.setenv("SGSPARK_CONCAVE_ZONES", "1")
    from sgspark.synth import synth_documents, zones_from_customer
    from sgspark.io import extract_geometries, wkt_to_wkb_df
    sf_dir = "/root/testdata/sf0.001"
    zones = wkt_to_wkb_df(zones_from_customer(spark, sf_dir)).cache()
    zones.count()
    docs = synth_documents(spark, 500)
    geo = extract_geometries(docs).cache()
    geo.count()
    pts = geo.where("geom_kind = 'point' AND span_pos = 1")
    got = three_routes(pts, zones, "within", left_id="doc_index",
                       right_id="zone_id")
    assert got["points_dist"] == got["kernel_dist"] == got["kernel_bcast"]
    assert len(got["points_dist"]) > 0
    zones.unpersist()
    geo.unpersist()


def lattice_df(spark, xy):
    """Point frame (pid, geometry, bbox) of the (x, y) list, pid = index."""
    pdf = pd.DataFrame(xy, columns=["x", "y"], dtype=np.float64)
    pdf["pid"] = np.arange(len(pdf))
    pdf["geometry"] = [bytearray(b) for b in to_wkb(from_wkt(
        [f"POINT ({r.x!r} {r.y!r})" for r in pdf.itertuples()]))]
    pdf["minx"] = pdf["maxx"] = pdf.x
    pdf["miny"] = pdf["maxy"] = pdf.y
    return spark.createDataFrame(
        pdf[["pid", "geometry", "minx", "miny", "maxx", "maxy"]])


def star_ring(cx, cy, radii, phase):
    """Closed ring of a star polygon around (cx, cy) with integer
    vertices: one vertex per radius at evenly spaced angles."""
    k = len(radii)
    ang = phase + 2 * np.pi * np.arange(k) / k
    pts = [f"{round(cx + r * np.cos(a))} {round(cy + r * np.sin(a))}"
           for r, a in zip(radii, ang)]
    return "(" + ", ".join(pts + pts[:1]) + ")"


@st.composite
def star_zone(draw):
    """WKT of a star polygon with integer vertices: plain, with a hole
    (the same star at a third of the radii), or a two-part
    multipolygon."""
    cx = draw(st.integers(-12, 12))
    cy = draw(st.integers(-12, 12))
    radii = draw(st.lists(st.integers(3, 9), min_size=3, max_size=9))
    phase = draw(st.floats(0, 1))
    kind = draw(st.sampled_from(["plain", "hole", "multi"]))
    outer = star_ring(cx, cy, radii, phase)
    if kind == "hole":
        inner = star_ring(cx, cy, [r / 3 for r in radii], phase)
        return f"POLYGON ({outer}, {inner})"
    if kind == "multi":
        far = star_ring(cx + 20, cy, radii, phase)
        return f"MULTIPOLYGON (({outer}), ({far}))"
    return f"POLYGON {outer}"


# lattice points at half-unit spacing: the integer ones hit the stars'
# vertices and axis-aligned or diagonal edges
LATTICE = [(x / 2, y / 2) for x in range(-48, 82, 3)
           for y in range(-44, 45, 3)] + \
    [(float(x), float(y)) for x in range(-22, 43, 2) for y in range(-22, 23, 2)]


@settings(max_examples=12, deadline=None)
@given(wkts=st.lists(star_zone(), min_size=1, max_size=4),
       gridsize=st.sampled_from([1.0, 3.0, 7.0, 50.0]),
       predicate=st.sampled_from(["within", "intersects", "covered_by"]))
def test_star_zones_routes_agree(spark, wkts, gridsize, predicate):
    """Random star polygons with holes and multiparts against lattice
    points (on-edge and on-vertex ones included): points_dist ==
    kernel_bcast == kernel_dist."""
    got = three_routes(lattice_df(spark, LATTICE), zones_df(spark, wkts),
                       predicate, left_id="pid", right_id="zid",
                       gridsize=gridsize)
    assert got["points_dist"] == got["kernel_dist"] == got["kernel_bcast"]


def test_points_dist_rows_independent_of_partitioning(spark):
    """points_dist returns identical rows whatever the left's partitioning
    and order, and whatever the shuffle width (one bucket at 1).  The
    fixture has a bucket holding several cells and a zone whose cover
    cells fall in different buckets."""
    zones = zones_df(spark)
    pts = points_df(spark)
    kw = dict(left_id="pid", right_id="zid", gridsize=7.0,
              broadcast_right=False, assume_left_points=True)
    route = joins._sjoin_route(pts, zones, "within", right_id="zid",
                               distance=None, gridsize=7.0,
                               keep_distance=False, broadcast_right=False,
                               assume_left_points=True)
    assert route.name == "points_dist"
    b = route.facts["buckets"]
    bucket = F.expr(f"pmod(hash(cell_key), {b})")
    cells = pts.select(F.col("minx").alias("__x"),
                       F.col("miny").alias("__y")) \
        .select(joins._point_cell_key(7.0)).distinct() \
        .select(bucket.alias("b")).groupBy("b").count()
    assert cells.agg(F.max("count")).first()[0] > 1
    covers = joins._cover_cells(zones, 7.0).select(
        "zid", bucket.alias("b")).groupBy("zid") \
        .agg(F.countDistinct("b").alias("nb"))
    assert covers.agg(F.max("nb")).first()[0] > 1

    def rows(left):
        return sorted(tuple(r) for r in sjoin_pairs(
            left, zones, "within", **kw).collect())

    base = rows(pts)
    assert len(base) > 0
    assert rows(pts.coalesce(1)) == base
    assert rows(pts.repartition(5)) == base
    assert rows(pts.orderBy(F.col("pid").desc())) == base
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        assert rows(pts) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_null_right_id_routes_agree(spark):
    """A zone with a null id refines against its own geometry on every
    route, and the zones sharing its bucket against theirs."""
    zones = zones_df(spark).withColumn(
        "zid", F.when(F.col("zid") == 1, F.lit(None)).otherwise(F.col("zid")))
    got = three_routes(points_df(spark), zones, left_id="pid",
                       right_id="zid", gridsize=7.0)
    assert got["points_dist"] == got["kernel_dist"] == got["kernel_bcast"]
    assert (6, None) in got["points_dist"]  # (11 1), in the annulus


def test_points_dist_bounds_bytes_per_bucket(spark, monkeypatch):
    """Buckets are bounded in bytes, not cells: a dense left raises the
    bucket count through its size estimate.  Neither that count nor
    refining a bucket's pairs in small chunks changes the rows."""
    zones = zones_df(spark)
    n = 50_000
    dense = spark.range(n).select(
        F.col("id").alias("pid"),
        (F.col("id") % 797 / 10.0 - 2).alias("minx"),
        (F.col("id") % 139 / 10.0 - 2).alias("miny")) \
        .select("*", F.col("minx").alias("maxx"), F.col("miny").alias("maxy"))

    def run():
        route = joins._sjoin_route(
            dense, zones, "within", right_id="zid", distance=None,
            gridsize=7.0, keep_distance=False, broadcast_right=False,
            assume_left_points=True)
        assert route.name == "points_dist"
        rows = sorted(tuple(r) for r in sjoin_pairs(
            dense, zones, "within", left_id="pid", right_id="zid",
            gridsize=7.0, broadcast_right=False,
            assume_left_points=True).collect())
        return route.facts["buckets"], rows

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    b0, base = run()
    assert b0 == width and len(base) > 0
    monkeypatch.setattr(joins, "BUCKET_BYTES", 1 << 14)
    monkeypatch.setattr(joins, "_REFINE_PAIRS", 7)
    b1, rows = run()
    assert b1 >= n * 16 // (1 << 14) > width  # 16+ bytes a left row
    assert rows == base
