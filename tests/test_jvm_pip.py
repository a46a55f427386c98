"""JVM-compiled general point-in-polygon joins (round 4, VERDICT r3 #1b).

The ray-cast PIP SQL expression (_pip_sql) must agree pair-for-pair with
the Arrow kernel (pip_pairs_vectorized) on concave, holed and multipart
polygons — including points exactly on edges, vertices and hole rims —
across all three execution paths:

  kernel       broadcast_right=False, no point hint  -> mapInPandas refine
  jvm-bcast    broadcast right, point hint           -> _points_vs_polygons_jvm
  jvm-dist     no broadcast, point hint              -> _points_vs_polygons_distributed

These fixtures sit far below `joins.PIP_COMPILED_MIN_PAIRS`, where the
default size rule sends jvm-dist calls to the Arrow kernel, so the tests
that exercise the compiled executor pin it with `compiled()`.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from sgspark.conf import config_override
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
    # 40-gon: > PIP_UNROLL_EDGES, exercises the interpreted fallback branch
    "POLYGON ((" + ", ".join(
        f"{70 + 5 * np.cos(2 * np.pi * i / 40)!r} "
        f"{5 + 5 * np.sin(2 * np.pi * i / 40)!r}"
        for i in list(range(40)) + [0]) + "))",
]


def zones_df(spark):
    ga = from_wkt(POLYS)
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


def compiled():
    """Force the compiled point x polygon route regardless of size."""
    return config_override(use_jvm_pip=True)


@pytest.mark.parametrize("predicate", ["within", "intersects"])
def test_three_paths_agree(spark, predicate):
    zones = zones_df(spark)
    pts = points_df(spark)
    kernel = pair_set(sjoin_pairs(
        pts, zones, predicate, left_id="pid", right_id="zid",
        gridsize=7.0, broadcast_right=False))
    with compiled():
        jvm_d = pair_set(sjoin_pairs(
            pts, zones, predicate, left_id="pid", right_id="zid",
            gridsize=7.0, broadcast_right=False, assume_left_points=True))
    jvm_b = pair_set(sjoin_pairs(
        pts, zones, predicate, left_id="pid", right_id="zid",
        gridsize=7.0, assume_left_points=True))
    assert kernel == jvm_d == jvm_b
    # sanity on the hand-placed boundary cases (boundary counts as inside)
    for pid, zid in [(0, 0), (2, 0), (3, 0), (4, 0), (6, 1), (7, 1),
                     (8, 1), (9, 2), (10, 2), (12, 3), (13, 3), (14, 3)]:
        assert (pid, zid) in kernel
    for pid in (1, 5, 11, 15):
        assert not any(p == pid for p, _ in kernel)


def test_distributed_jvm_plan_is_python_free_on_pairs(spark):
    """The pair path of the distributed JVM join must contain exactly one
    Arrow stage (the O(|right|) edge pack), none after the join."""
    zones = zones_df(spark)
    pts = points_df(spark)
    with compiled():
        out = sjoin_pairs(pts, zones, "within", left_id="pid",
                          right_id="zid", gridsize=7.0,
                          broadcast_right=False, assume_left_points=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one MapInPandas total (rights pack); the join + PIP filter are JVM
    assert plan.count("MapInPandas") == 1


def test_size_rule_picks_route(spark, monkeypatch, tmp_path):
    """Default config: the distributed point x polygon join refines with
    the Arrow kernel below PIP_COMPILED_MIN_PAIRS estimated pairs, with
    the compiled PIP above it, and with the compiled PIP when the left's
    row count is unknown."""
    import sgspark.joins as J
    zones, pts = zones_df(spark), points_df(spark)

    def plan(left):
        out = sjoin_pairs(left, zones, "within", left_id="pid",
                          right_id="zid", gridsize=7.0,
                          broadcast_right=False, assume_left_points=True)
        return out._jdf.queryExecution().executedPlan().toString()

    # small: the row count from Catalyst (local relation) or, for a
    # parquet scan without statistics, from the count folded into the
    # stats job
    pts.write.parquet(str(tmp_path / "pts"))
    scanned = spark.read.parquet(str(tmp_path / "pts"))
    assert J._plan_row_count(pts) == 318
    assert J._plan_row_count(scanned) is None
    assert "kernel(" in plan(pts)
    assert "kernel(" in plan(scanned)
    # large: 10x the constant in rows over a right layer whose bboxes
    # cover a tenth of its world estimates exactly the constant, which
    # takes the compiled route; so does a synthetic Catalyst row count of
    # that size on the fixture
    st = {"wx0": 0.0, "wx1": 100.0, "wy0": 0.0, "wy1": 100.0,
          "area": 1000.0}
    assert J._pip_pairs_estimate(10 * J.PIP_COMPILED_MIN_PAIRS, st, 0.0) \
        == J.PIP_COMPILED_MIN_PAIRS
    monkeypatch.setattr(J, "_plan_row_count",
                        lambda df: 10 * J.PIP_COMPILED_MIN_PAIRS)
    assert "kernel(" not in plan(pts)
    monkeypatch.undo()
    # unknown: a Python-produced left has no Catalyst count and is not
    # counted by the probe
    py_left = pts.mapInPandas(lambda it: it, pts.schema)
    assert J._plan_row_count(py_left) is None
    assert "kernel(" not in plan(py_left)


def test_declines_on_mixed_or_huge_rights(spark):
    """Line rights or country-sized rights fall back to the kernel path
    and still produce correct results."""
    ga = from_wkt(["LINESTRING (0 0, 5 5)", POLYS[0]])
    b = ga.bounds()
    rows = [(i, bytearray(w), float(b[i, 0]), float(b[i, 1]),
             float(b[i, 2]), float(b[i, 3]))
            for i, w in enumerate(to_wkb(ga))]
    zones = spark.createDataFrame(rows, zones_df(spark).schema)
    pts = points_df(spark)
    with compiled():
        out = sjoin_pairs(pts, zones, "intersects", left_id="pid",
                          right_id="zid", gridsize=7.0,
                          broadcast_right=False, assume_left_points=True)
    got = pair_set(out)
    assert (0, 1) in got          # (1,1) inside the L polygon (zid=1 here)
    assert (2, 0) in got and (2, 1) in got  # (2,2) on the line AND in L


def test_dwithin_three_paths_agree(spark):
    """dwithin against general polygons: kernel / jvm-broadcast / jvm-dist
    must agree on pairs AND bit-exact distances (same IEEE op order)."""
    zones = zones_df(spark)
    pts = points_df(spark)

    def rows(df):
        return {(r[0], r[1], r[2]) for r in df.collect()}

    kernel = rows(sjoin_pairs(pts, zones, "dwithin", left_id="pid",
                              right_id="zid", distance=1.25, gridsize=7.0,
                              broadcast_right=False))
    with compiled():
        jvm_d = rows(sjoin_pairs(pts, zones, "dwithin", left_id="pid",
                                 right_id="zid", distance=1.25,
                                 gridsize=7.0, broadcast_right=False,
                                 assume_left_points=True))
    jvm_b = rows(sjoin_pairs(pts, zones, "dwithin", left_id="pid",
                             right_id="zid", distance=1.25, gridsize=7.0,
                             assume_left_points=True))
    assert kernel == jvm_d == jvm_b
    assert len(kernel) > 0
    d = {(a, b): dist for a, b, dist in kernel}
    assert d[(0, 0)] == 0.0          # inside -> 0
    assert d[(4, 0)] == 0.0          # on the L's edge -> boundary = 0
    assert (11, 2) not in d          # (35,5): corner dist sqrt(2) > 1.25
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
    """Round 5 (VERDICT r4 #1): >32-edge rights ride the cell-subset pack;
    pair sets must stay identical across kernel / jvm-dist / jvm-bcast at
    gridsizes that produce many cover cells per polygon (4.0), a few
    (11.0), and one (50000.0, where subsetting is a no-op)."""
    zones = high_vertex_zones_df(spark)
    pts = high_vertex_points_df(spark)
    kw = dict(left_id="pid", right_id="zid", gridsize=gridsize)
    kernel = pair_set(sjoin_pairs(pts, zones, "within",
                                  broadcast_right=False, **kw))
    with compiled():
        jvm_d = pair_set(sjoin_pairs(pts, zones, "within",
                                     broadcast_right=False,
                                     assume_left_points=True, **kw))
    jvm_b = pair_set(sjoin_pairs(pts, zones, "within",
                                 assume_left_points=True, **kw))
    assert kernel == jvm_d == jvm_b and len(kernel) > 0
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
    with compiled():
        jvm_d = rows(sjoin_pairs(pts, zones, "dwithin",
                                 broadcast_right=False,
                                 assume_left_points=True, **kw))
    jvm_b = rows(sjoin_pairs(pts, zones, "dwithin",
                             assume_left_points=True, **kw))
    assert kernel == jvm_d == jvm_b and len(kernel) > 0


def test_cell_subsets_are_small(spark):
    """The scale property the pack exists for: a 200-edge polygon's cover
    cells each carry a SMALL edge subset (codegen tiers), not the full
    array, and cells left of the body carry base parity instead of
    edges."""
    from sgspark.joins import _pack_cover_rows, _edge_rows_of
    ga = from_wkt([
        "POLYGON ((" + ", ".join(
            f"{60 + 15 * np.cos(2 * np.pi * i / 200)!r} "
            f"{15 + 15 * np.sin(2 * np.pi * i / 200)!r}"
            for i in list(range(200)) + [0]) + "))"])
    b = ga.bounds()
    pdf = _pack_cover_rows(_edge_rows_of(ga), np.array([0]), b,
                           np.array([False]), 4.0, 0.0)

    def real_edges(row):
        # decode the round-6 chained-vertex pack: edge k (0-based) =
        # (v[k], v[k+1]) unless bit k of the skip words marks a connector
        vx = np.asarray(row["__evx"])
        vy = np.asarray(row["__evy"])
        n = max(len(vx) - 1, 0)
        w = list(row["__eskip"])
        keep = [not ((w[k >> 6] >> (k & 63)) & 1) for k in range(n)]
        ks = [k for k in range(n) if keep[k]]
        return (vx[ks], vy[ks],
                vx[[k + 1 for k in ks]], vy[[k + 1 for k in ks]])

    sizes = pdf["__evx"].map(lambda v: max(len(v) - 1, 0))
    # EVERY row rides the codegen tiers: big-subset cells subdivide KxK
    # (round-5 subcell refinement), so no interpreted fallback remains —
    # sizes are SLOTS (kept edges + rare connectors) in the chained pack
    assert sizes.max() <= 32
    assert len(pdf) > 30              # many cover cells at g=4
    assert pdf["__vert"].any()        # orientation choice engaged
    assert (pdf["__km1"] > 0).any()   # subdivision engaged somewhere
    # chaining is the point: bytes per row ~ half the 4-array form
    # (vertices ~ edges + arcs, not 2 doubles per edge per coordinate)
    n_real = sum(len(real_edges(pdf.iloc[j])[0]) for j in range(len(pdf)))
    n_vert = int(pdf["__evx"].map(len).sum())
    assert n_vert <= 1.25 * n_real + 2 * len(pdf)
    # a polygon FULLY INSIDE one huge cell (coarse gridsize — the shape
    # of the ngon bench regression) must also compile: subcells shrink
    # its 200-edge subset below the tier
    p1 = _pack_cover_rows(_edge_rows_of(ga), np.array([0]), b,
                          np.array([False]), 50000.0, 0.0)
    assert p1["__evx"].map(lambda v: max(len(v) - 1, 0)).max() <= 32
    assert (p1["__km1"] > 0).all()
    # base-parity folding engages on LONG band-spanning edges — the
    # C-shape's right wall spans every band, so cells in its bbox notch
    # carry base=1 instead of far edges
    gc = from_wkt(["POLYGON ((170 0, 180 0, 180 30, 150 30, 150 20, "
                   "170 20, 170 0))"])
    pc = _pack_cover_rows(_edge_rows_of(gc), np.array([0]), gc.bounds(),
                          np.array([False]), 4.0, 0.0)
    assert (pc["__base"] > 0).any()
    # parity sanity vs numpy PIP at each cell center
    from sgspark.geom.predicates import refine_pairs
    from sgspark.geom.wkb import from_wkt as fw
    import sgspark.cells as C
    M = 1 << C.Y_BITS
    cx = (pdf["cell_key"] // M).to_numpy()
    cy = (pdf["cell_key"] % M).to_numpy()
    centers_x = cx * 4.0 - C.FALSE_EASTING + 2.0
    centers_y = cy * 4.0 + 2.0
    pts_ga = fw([f"POINT ({x!r} {y!r})"
                 for x, y in zip(centers_x, centers_y)])
    li = np.arange(len(pdf))
    ri = np.zeros(len(pdf), dtype=np.int64)
    truth = refine_pairs(pts_ga, ga, li, ri, "within")
    for j in range(len(pdf)):
        axs, ays, bxs, bys = real_edges(pdf.iloc[j])
        x, y = centers_x[j], centers_y[j]
        if pdf["__vert"].iloc[j]:
            x, y = y, x  # vertical-ray cells pack swapped coordinates
        if len(axs):
            cross = ((ays > y) != (bys > y)) & \
                (x < (bxs - axs) * (y - ays) / np.where(
                    bys == ays, 1.0, bys - ays) + axs)
            n = int(cross.sum())
        else:
            n = 0
        inside = ((n + int(pdf["__base"].iloc[j])) % 2) == 1
        assert inside == bool(truth[j]), j


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
    with compiled():
        jvm = pair_set(sjoin_pairs(
            pts, zones, "within", left_id="doc_index", right_id="zone_id",
            broadcast_right=False, assume_left_points=True))
    with config_override(use_jvm_pip=False):
        kern = pair_set(sjoin_pairs(
            pts, zones, "within", left_id="doc_index", right_id="zone_id",
            broadcast_right=False, assume_left_points=True))
    assert jvm == kern and len(jvm) > 0
    zones.unpersist()
    geo.unpersist()
