"""Routing decisions of `sjoin_pairs` and `shortest_paths`.

Each call runs one routing decision (`joins._sjoin_route`,
`network._shortest_paths_route`) and logs it as exactly one record on the
`sgspark.route` logger; the executors it routes to never decline.  Also
here: the probes that pick the distributed point x polygon executor, and
the runner seam (`sgspark.conf`) the executors resolve their kernels
from.
"""
import logging
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import sgspark.joins as J
from sgspark.cells import cover_cell_keys, neighbor_keys, point_cell_key
from sgspark.geom.wkb import from_wkt, to_wkb
from sgspark.io import wkt_to_wkb_df
from sgspark.joins import sjoin_pairs
from test_point_join_routes import POLYS, pair_set, points_df, zones_df

RECTS = ["POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))",
         "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"]


@pytest.fixture
def routes(caplog):
    """The `sgspark.route` records logged while the test runs (a callable
    returning them)."""
    caplog.set_level(logging.INFO, logger="sgspark.route")
    return lambda: [r for r in caplog.records if r.name == "sgspark.route"]


def one_route(routes, operator):
    """The single record the call left, checked for its fields."""
    recs = routes()
    assert len(recs) == 1, [r.getMessage() for r in recs]
    rec = recs[0]
    assert rec.operator == operator and rec.reasons
    assert all(isinstance(v, (int, float)) for v in rec.stats.values())
    return rec


def pip_route(left, right, **kw):
    """The route `_sjoin_route` picks for a point `within` join."""
    args = dict(right_id="zid", distance=None, gridsize=7.0,
                keep_distance=False, broadcast_right=False,
                assume_left_points=True)
    args.update(kw)
    return J._sjoin_route(left, right, "within", **args)


@pytest.mark.parametrize("name,kw", [
    ("empty", {}),
    ("rect_bcast", {"assume_left_points": True}),
    ("rect_bcast", {}),
    ("kernel_bcast", {"assume_left_points": True}),
    ("kernel_bcast", {"assume_left_points": False}),
    ("points_dist", {"broadcast_right": False,
                     "assume_left_points": True}),
    ("kernel_dist", {"broadcast_right": False}),
])
def test_each_sjoin_call_logs_one_route(spark, routes, name, kw):
    pts = points_df(spark)
    zones = zones_df(spark, RECTS if name == "rect_bcast" else POLYS)
    if name == "empty":
        zones = zones.where("zid < 0")
    out = sjoin_pairs(pts, zones, "within", left_id="pid",
                      right_id="zid", gridsize=7.0, **kw)
    rec = one_route(routes, "sjoin_pairs")
    assert rec.route == name
    assert name in rec.getMessage()
    if name == "empty":
        assert out.collect() == [] and rec.stats["n_right"] == 0
    else:
        assert len(pair_set(out)) > 0
    if name in ("rect_bcast", "kernel_bcast"):
        assert rec.stats["n_right"] == (2 if name == "rect_bcast" else 6)
    if name == "points_dist":
        assert rec.stats["n_right"] == 6
        assert rec.stats["buckets"] >= int(
            spark.conf.get("spark.sql.shuffle.partitions"))


def test_public_operators_log_one_route_each(spark, routes):
    """sjoin / sfilter wrap one sjoin_pairs call each."""
    pts, zones = points_df(spark), zones_df(spark)
    J.sjoin(pts, zones, "within", left_id="pid", right_id="zid")
    assert one_route(routes, "sjoin_pairs").route == "kernel_bcast"


def test_no_route_record_below_info(spark, caplog):
    caplog.set_level(logging.WARNING, logger="sgspark.route")
    sjoin_pairs(points_df(spark), zones_df(spark), "within",
                left_id="pid", right_id="zid", gridsize=7.0)
    assert not [r for r in caplog.records if r.name == "sgspark.route"]


def _chain(spark):
    edges = spark.createDataFrame(pd.DataFrame(
        {"source": ["1", "2", "3"], "target": ["2", "3", "4"],
         "length": [1.0, 2.0, 1.0]}))
    origins = spark.createDataFrame(pd.DataFrame(
        {"oid": ["a"], "node": ["1"]}))
    return edges, origins


@pytest.mark.parametrize("name", ["driver", "shortcuts", "per_hop"])
def test_each_shortest_paths_call_logs_one_route(spark, routes,
                                                 monkeypatch, name):
    from sgspark.network import shortest_paths
    edges, origins = _chain(spark)
    kw = {}
    if name == "shortcuts":
        monkeypatch.setenv("SGSPARK_LOCAL_GRAPH_EDGES", "0")
    if name == "per_hop":
        kw["penalties"] = spark.createDataFrame(pd.DataFrame(
            {"oid": ["a"], "pu": ["1"], "pv": ["2"], "mult": [2.0]}))
    out = shortest_paths(edges, origins, **kw)
    rec = one_route(routes, "shortest_paths")
    assert rec.route == name
    assert rec.stats["bf_rounds"] >= 1 and rec.stats["edges"] == 6
    if name == "shortcuts":
        assert rec.stats["shortcut_hops"] == 1 << rec.stats[
            "shortcut_doublings"]
    costs = {r["u"]: r["cost"] for r in out.collect()}
    assert costs["4"] == (5.0 if name == "per_hop" else 4.0)


def test_od_cost_matrix_logs_one_route(spark, routes):
    from sgspark.network import od_cost_matrix
    edges, origins = _chain(spark)
    dests = spark.createDataFrame(pd.DataFrame({"did": ["x"],
                                                "node": ["4"]}))
    out = od_cost_matrix(edges, origins, dests).collect()
    assert [tuple(r) for r in out] == [("a", "x", 4.0)]
    assert one_route(routes, "shortest_paths").route == "driver"


def test_point_dwithin_skips_left_huge_branch(spark):
    """Point lefts under `dwithin` cover at most (2d/g + 2)^2 cells, so
    the left huge-geometry branch (a broadcast nested-loop join over a
    second pass of the left) is not planned when that is under
    MAX_COVER_CELLS.  The distributed route keeps the right's branch.
    The left is checkpointed: over a local relation, Catalyst would drop
    the (empty) branch itself."""
    pts, zones = points_df(spark).localCheckpoint(), zones_df(spark)

    def nlj(**kw):
        out = sjoin_pairs(pts, zones, "dwithin", left_id="pid",
                          right_id="zid", distance=1.25, gridsize=7.0,
                          assume_left_points=True, **kw)
        return out._jdf.queryExecution().executedPlan().toString() \
            .count("BroadcastNestedLoopJoin")

    assert nlj() == 0
    # the zones are a local relation (no Python): a max-cover probe shows
    # no right row is huge, so the right's branch is not planned either
    assert nlj(broadcast_right=False) == 0
    # a distance whose point cover can exceed the cap keeps the branch:
    # its join condition widens the left's bbox (bx0 - d)
    l0 = pts.selectExpr("pid AS __lid", "geometry AS __lg", "minx", "miny",
                        "maxx", "maxy")
    r0 = zones.selectExpr("zid AS __rid", "geometry AS __rg", "minx",
                          "miny", "maxx", "maxy")
    far = J.cell_candidate_pairs(l0, r0, 1.0, expand=40.0,
                                 assume_left_points=True)
    assert re.search(r"\(bx0#\d+ - 40\.0\) <= maxx",
                     far._jdf.queryExecution().executedPlan().toString())


def test_kernel_dist_python_left_plans_no_nested_loop(spark, docs500):
    """The distributed kernel route decides each huge-geometry branch per
    side: an extract-derived point left (its plan runs Python, so it is
    never probed) needs no branch by its point-cover bound, and the
    local-relation zones are probed.  The plan then holds no
    BroadcastNestedLoopJoin, and with it no second pass over the left's
    upstream extract kernel."""
    from sgspark.io import extract_geometries
    pts = extract_geometries(docs500).where("geom_kind = 'point'") \
        .withColumn("pid", F.xxhash64("doc_id", "span_pos"))
    assert not J.plan_is_python_free(pts)
    out = sjoin_pairs(pts, zones_df(spark), "dwithin", left_id="pid",
                      right_id="zid", distance=1.25, gridsize=7.0,
                      assume_left_points=True, broadcast_right=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_cell_join_pin_decision(spark):
    """The cell-join width pin engages for python-built inputs and stands
    down for provably-tiny python-free ones (plan-level check)."""
    def plan_of(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # python-built side (wkt kernel): must pin regardless of tiny size
    wk = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "zid": [1, 2],
        "geometry_wkt": ["POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
                         "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"]})))
    side = wk.selectExpr("zid AS __lid", "geometry AS __lg",
                         "minx", "miny", "maxx", "maxy")
    other = wk.selectExpr("zid AS __rid", "geometry AS __rg",
                          "minx", "miny", "maxx", "maxy")
    pinned = J.cell_candidate_pairs(side, other, 2000.0)
    assert "RepartitionByExpression" in plan_of(pinned)

    # tiny python-free side (materialized local relation): must NOT pin
    lc = wk.localCheckpoint()
    lc.count()
    side2 = lc.selectExpr("zid AS __lid", "geometry AS __lg",
                          "minx", "miny", "maxx", "maxy")
    other2 = lc.selectExpr("zid AS __rid", "geometry AS __rg",
                           "minx", "miny", "maxx", "maxy")
    unpinned = J.cell_candidate_pairs(side2, other2, 2000.0)
    assert "RepartitionByExpression" not in plan_of(unpinned)


class TestConfigSeam:
    def test_refine_runner_override(self, spark, routes):
        """The configured refine_runner is really what executes: an
        all-False runner empties the join; an all-True runner returns the
        full candidate set (superset of the real result)."""
        from sgspark.conf import config_override

        def none_pass(la, ra, li, ri, pred):
            return np.zeros(len(li), dtype=bool)

        def all_pass(la, ra, li, ri, pred):
            return np.ones(len(li), dtype=bool)

        zones, pts = zones_df(spark), points_df(spark)

        def run():
            return pair_set(sjoin_pairs(
                pts, zones, "within", left_id="pid", right_id="zid",
                gridsize=7.0, broadcast_right=False))

        real = run()
        with config_override(refine_runner=none_pass):
            assert run() == set()
        with config_override(refine_runner=all_pass):
            sup = run()
        assert real <= sup and len(sup) > len(real)

        # polygon lefts on the default (broadcast) route: the runner is
        # honoured there too
        xy = pts.select("pid", "minx", "miny").toPandas()
        sq = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
            "pid": xy.pid,
            "geometry_wkt": [
                f"POLYGON (({x - .1!r} {y - .1!r}, {x + .1!r} {y - .1!r}, "
                f"{x + .1!r} {y + .1!r}, {x - .1!r} {y + .1!r}, "
                f"{x - .1!r} {y - .1!r}))" for x, y in zip(xy.minx, xy.miny)]})))

        def run_polys():
            return pair_set(sjoin_pairs(
                sq, zones, "intersects", left_id="pid", right_id="zid",
                gridsize=7.0))

        before = len(routes())
        real = run_polys()
        assert [r.route for r in routes()[before:]] == ["kernel_bcast"]
        with config_override(refine_runner=none_pass):
            assert run_polys() == set()
        with config_override(refine_runner=all_pass):
            sup = run_polys()
        assert real <= sup and len(sup) > len(real)

    def test_union_runner_override(self, spark):
        """The configured union_runner replaces the dissolve union: a
        first-blob runner makes multi-row groups dissolve to their first
        geometry's area."""
        from sgspark.conf import config_override
        from sgspark.dissolve import diss
        from test_round5_fixes import _poly_df
        df = _poly_df(spark, ["POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                              "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"])
        from sgspark.geom.wkb import from_wkb
        with config_override(union_runner=lambda blobs: bytes(blobs[0])):
            out = diss(df.select("geometry")).collect()
        assert len(out) == 1
        area = float(from_wkb([out[0]["geometry"]]).area()[0])
        assert area == pytest.approx(4.0)  # one input square, not union=7


    def test_config_override_is_thread_local(self):
        """An override holds in the thread that makes it and in no
        other thread running at the same time."""
        import threading
        from sgspark.conf import config_override, get_runner

        def default(*a):
            return None

        entered, release = threading.Event(), threading.Event()
        seen = {}

        def overriding():
            with config_override(refine_runner=np.zeros):
                entered.set()
                release.wait(10)
                seen["a"] = get_runner("refine_runner", default)
            seen["a_after"] = get_runner("refine_runner", default)

        def plain():
            entered.wait(10)
            seen["b"] = get_runner("refine_runner", default)
            release.set()

        ts = [threading.Thread(target=f) for f in (overriding, plain)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(20)
        assert seen == {"a": np.zeros, "b": default, "a_after": default}
        assert get_runner("refine_runner", default) is default


class TestNullSafeTypeProbe:
    def test_null_kind_routes_to_kernel(self, spark):
        """A right row with NULL geom_kind joins like any other: the
        distributed point route reads geometries, not `geom_kind`, and
        its pairs equal the broadcast kernel's."""
        pts = points_df(spark)
        want = pair_set(sjoin_pairs(pts, zones_df(spark), "within",
                                    left_id="pid", right_id="zid",
                                    gridsize=7.0))
        for kind in (F.when(F.col("zid") == 0, F.lit(None).cast("string"))
                     .otherwise(F.lit("polygon")), F.lit("polygon")):
            zones = zones_df(spark).withColumn("geom_kind", kind)
            assert pip_route(pts, zones).name == "points_dist"
            assert pair_set(sjoin_pairs(
                pts, zones, "within", left_id="pid", right_id="zid",
                gridsize=7.0, broadcast_right=False,
                assume_left_points=True)) == want


def test_declines_on_mixed_or_huge_rights(spark):
    """Line rights take the distributed point route (its refine handles
    any right type); country-sized rights route to the kernel.  Both
    produce correct results."""
    ga = from_wkt(["LINESTRING (0 0, 5 5)", POLYS[0]])
    b = ga.bounds()
    rows = [(i, bytearray(w), float(b[i, 0]), float(b[i, 1]),
             float(b[i, 2]), float(b[i, 3]))
            for i, w in enumerate(to_wkb(ga))]
    zones = spark.createDataFrame(rows, zones_df(spark).schema)
    pts = points_df(spark)
    assert pip_route(pts, zones).name == "points_dist"
    out = sjoin_pairs(pts, zones, "intersects", left_id="pid",
                      right_id="zid", gridsize=7.0,
                      broadcast_right=False, assume_left_points=True)
    got = pair_set(out)
    assert (0, 1) in got          # (1,1) inside the L polygon (zid=1 here)
    assert (2, 0) in got and (2, 1) in got  # (2,2) on the line AND in L
    assert got == pair_set(sjoin_pairs(pts, zones, "intersects",
                                       left_id="pid", right_id="zid",
                                       gridsize=7.0))
    # a country-sized right: its cover at the grid exceeds MAX_COVER_CELLS
    big = zones_df(spark, ["POLYGON ((0 0, 1000 0, 1000 1000, 0 0))",
                           POLYS[0]])
    r = pip_route(pts, big, gridsize=1.0)
    assert r.name == "kernel_dist"
    assert any("covers over" in w for w in r.reasons)


def _probe(spark, right):
    """`_collect_bounded`'s rows and the Spark jobs it ran."""
    sc, group = spark.sparkContext, f"collect_bounded-{id(right)}"
    sc.setJobGroup(group, "broadcast probe")
    try:
        rows = J._collect_bounded(right, J.BROADCAST_RIGHT_MAX_BYTES)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_collect_bounded_caches_only_python_rights(spark, tmp_path):
    """The broadcast probe sums the right's WKB bytes, then collects it.
    A Python-free right (parquet) is scanned twice rather than cached,
    which would cost a job of its own; a right built by a Python kernel
    is cached, so the kernel runs once."""
    zones = zones_df(spark)
    zones.write.parquet(str(tmp_path / "zones"))
    rows, jobs = _probe(spark, spark.read.parquet(str(tmp_path / "zones")))
    assert sorted(r.zid for r in rows) == list(range(len(POLYS)))
    assert jobs == 3

    calls = spark.sparkContext.accumulator(0)

    def kernel(batches):
        for pdf in batches:
            calls.add(len(pdf))
            yield pdf

    rows, _ = _probe(spark, zones.mapInPandas(kernel, zones.schema))
    assert sorted(r.zid for r in rows) == list(range(len(POLYS)))
    assert calls.value == len(POLYS)


# ------------------------------------------- cell keys and huge bboxes
# The numpy cell keys and their Spark-SQL twins agree for negative y (an
# earlier (cx<<25)|cy vs cx*2^25+cy encoding dropped southern pairs), and
# rows whose bbox covers too many cells still join exactly.
def test_cell_key_negative_y_matches_sql_twin(spark):
    g = 1000.0
    x = np.array([100.0, 5000.0, -100.0])
    y = np.array([-1.0, -2500.0, 150.0])
    np_keys = point_cell_key(x, y, g)
    pdf = pd.DataFrame({"x": x, "y": y})
    sql_keys = (spark.createDataFrame(pdf)
                .withColumn("k", F.expr(
                    f"cast(floor((x + 2000000) / {g}) as bigint) * {2**25}"
                    f" + cast(floor(y / {g}) as bigint)"))
                .orderBy("x").select("k").toPandas())
    got = dict(zip(x, np_keys))
    want = dict(zip(sorted(x), sql_keys["k"].tolist()))
    for xi in x:
        assert got[xi] == want[xi]


def test_cover_and_neighbors_consistent_negative_y():
    g = 1000.0
    # bbox straddling y=0
    gi, keys = cover_cell_keys(np.array([0.0]), np.array([-500.0]),
                               np.array([10.0]), np.array([500.0]), g)
    assert len(keys) == 2
    k_lo = point_cell_key(np.array([5.0]), np.array([-500.0]), g)[0]
    k_hi = point_cell_key(np.array([5.0]), np.array([500.0]), g)[0]
    assert set(keys) == {k_lo, k_hi}
    # neighbor arithmetic crosses y=0 correctly
    nbrs = neighbor_keys(np.array([k_lo]), ring=1)[0]
    assert k_hi in nbrs


def test_sjoin_negative_y(spark):
    """Join pairs must not be dropped for y < 0 (previous encoding bug)."""
    pts = pd.DataFrame({
        "pid": [0, 1, 2],
        "geometry_wkt": ["POINT (100 -100)", "POINT (150 -2400)", "POINT (100 100)"]})
    polys = pd.DataFrame({
        "zid": [0, 1],
        "geometry_wkt": ["POLYGON ((0 -500, 300 -500, 300 300, 0 300, 0 -500))",
                "POLYGON ((0 -2500, 300 -2500, 300 -2300, 0 -2300, 0 -2500))"]})
    l = wkt_to_wkb_df(spark.createDataFrame(pts))
    r = wkt_to_wkb_df(spark.createDataFrame(polys))
    got = sorted((x.pid, x.zid) for x in
                 sjoin_pairs(l, r, "intersects", left_id="pid",
                             right_id="zid", gridsize=1000.0,
                             broadcast_right=False).collect())
    assert got == [(0, 0), (1, 1), (2, 0)]
    got_b = sorted((x.pid, x.zid) for x in
                   sjoin_pairs(l, r, "intersects", left_id="pid",
                               right_id="zid", gridsize=1000.0,
                               broadcast_right=True).collect())
    assert got_b == [(0, 0), (1, 1), (2, 0)]


def test_huge_bbox_rows_routed(spark):
    """Geometries whose bbox covers > MAX_COVER_CELLS cells must not
    explode the cover table — they take the broadcast bbox-join branch
    (both paths) and still produce exact pairs."""
    pts = pd.DataFrame({
        "pid": [0, 1, 2],
        "geometry_wkt": ["POINT (5 5)", "POINT (7777 8888)",
                         "POINT (999999 999999)"]})
    polys = pd.DataFrame({
        "zid": [0, 1],
        # zid 0: country-sized (1e8 cells at gridsize 1)
        "geometry_wkt": ["POLYGON ((0 0, 10000 0, 10000 10000, 0 10000, 0 0))",
                         "POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))"]})
    l = wkt_to_wkb_df(spark.createDataFrame(pts))
    r = wkt_to_wkb_df(spark.createDataFrame(polys))
    want = [(0, 0), (0, 1), (1, 0)]
    for bcast in (False, True):
        got = sorted((x.pid, x.zid) for x in
                     sjoin_pairs(l, r, "intersects", left_id="pid",
                                 right_id="zid", gridsize=1.0,
                                 broadcast_right=bcast).collect())
        assert got == want, (bcast, got)
    # huge LEFT geometry too
    for bcast in (False, True):
        got2 = sorted((x.zid, x.pid) for x in
                      sjoin_pairs(r, l, "intersects", left_id="zid",
                                  right_id="pid", gridsize=1.0,
                                  broadcast_right=bcast).collect())
        assert got2 == [(0, 0), (0, 1), (1, 0)], (bcast, got2)
