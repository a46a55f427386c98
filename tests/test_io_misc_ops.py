"""Round-2 surface completion: IO mask/filters/bounds, line splitting,
directed networks, network holes, TSP, neighbor frames, grouped centroids,
sorts, point grids.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sgspark.io import (check_files, get_bounds_series, map_geoms,
                        read_geopandas, read_parquet_url, wkt_to_wkb_df,
                        write_geoparquet, with_bounds)


@pytest.fixture(scope="module")
def geo_dataset(spark, tmp_path_factory):
    """Partitioned geoparquet dataset: 300 points in 3 x-bands, hive
    partitioned by cxb = floor(x/1000)."""
    base = str(tmp_path_factory.mktemp("geods"))
    pdf = pd.DataFrame({
        "pid": range(300),
        "geometry_wkt": [f"POINT ({(i % 3) * 1000 + (i % 97)} {i % 89})"
                         for i in range(300)]})
    df = wkt_to_wkb_df(spark.createDataFrame(pdf))
    df = df.withColumn("cxb", F.expr("cast(floor(minx / 1000) as int)"))
    write_geoparquet(df, base, partition_cols=["cxb"])
    return base


def test_read_geopandas_mask_prunes_partitions(spark, geo_dataset):
    out = read_geopandas(spark, geo_dataset,
                         mask=(0, 0, 999, 1000),
                         partition_grid=("cxb", 1000))
    rows = out.collect()
    assert len(rows) == 100
    assert all(r.minx < 1000 for r in rows)
    # partition pruning: only files under cxb=0 were read
    files = out.select(F.input_file_name().alias("f")).distinct().collect()
    assert all("cxb=0" in r.f for r in files)
    # the bbox mask reaches the parquet scan as PushedFilters (row-group
    # min/max pruning — the reference's file-level bbox pruning twin)
    import io as _io
    from contextlib import redirect_stdout
    buf = _io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "minx" in plan.split("PushedFilters")[1][:200]


def test_read_geopandas_filters_and_columns(spark, geo_dataset):
    out = read_geopandas(spark, geo_dataset,
                         filters=[("pid", "<", 10)], columns=["pid", "minx"])
    assert out.columns == ["pid", "minx"]
    assert out.count() == 10
    # OR-of-AND groups
    out2 = read_geopandas(
        spark, geo_dataset,
        filters=[[("pid", "<", 5)], [("pid", ">=", 295)]])
    assert out2.count() == 10


def test_get_bounds_series_and_check_files(spark, geo_dataset):
    b = get_bounds_series(spark, geo_dataset)
    assert len(b) >= 3  # at least one file per partition
    assert (b.maxx >= b.minx).all()
    f = check_files(spark, geo_dataset + "/*/*.parquet")
    assert len(f) == len(b)
    assert (f.size_bytes > 0).all()


def test_read_parquet_url_file_scheme(spark, geo_dataset):
    files = check_files(spark, geo_dataset + "/*/*.parquet")
    url = files.path.iloc[0]
    assert read_parquet_url(spark, url).count() > 0


# ----------------------------------------------------------------- lines
def test_map_geoms_contract(spark):
    """The row-wise mapper over a 3-partition frame whose middle
    partition is empty: an integer index drops (count 0) and repeats
    (count 2) source rows, a mask drops rows, a replaced column keeps its
    place, added columns come last, and the pass-through columns keep
    their order, types and values."""
    from sgspark.geom.wkb import from_wkt, to_wkb
    wkts = ["POINT (1 2)", "LINESTRING (0 0, 3 4)", "POINT (-5 7)",
            "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"]
    blobs = to_wkb(from_wkt(wkts))
    rows = [(k, f"r{i}", bytearray(b), float(i) / 2, [i, i + 1])
            for i, (k, b) in enumerate(zip([2, 0, 1, 3], blobs))]
    ddl = "k int, name string, geometry binary, w double, tags array<int>"
    rdd = spark.sparkContext.parallelize(
        [rows[:2], [], rows[2:]], 3).flatMap(lambda part: part)
    df = spark.createDataFrame(rdd, ddl)
    assert df.rdd.glom().map(len).collect() == [2, 0, 2]

    def explode(ga, pdf):
        n = pdf["k"].to_numpy()
        idx = np.repeat(np.arange(len(pdf)), n)
        rep = np.concatenate([np.arange(c) for c in n])
        return idx, {"name": pdf["name"].str.upper().to_numpy()[idx],
                     "rep": rep, "minx": ga.bounds()[idx, 0]}

    out = map_geoms(df, explode, {"rep": "int", "minx": "double"})
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == \
        [(f.name, f.dataType.simpleString()) for f in df.schema] + \
        [("rep", "int"), ("minx", "double")]
    got = sorted(tuple(r) for r in out.collect())
    want = sorted((k, f"R{i}", b, float(i) / 2, [i, i + 1], j, x)
                  for i, (k, b, x) in enumerate(zip(
                      [2, 0, 1, 3], blobs, [1.0, 0.0, -5.0, 0.0]))
                  for j in range(k))
    assert [(r[0], r[1], bytes(r[2]), *r[3:]) for r in got] == want

    kept = map_geoms(df, lambda ga, pdf: (pdf["k"].to_numpy() > 1, {}),
                     drop=("tags",))
    assert kept.columns == ["k", "name", "geometry", "w"]
    assert sorted(r["name"] for r in kept.collect()) == ["r0", "r3"]

    moved = map_geoms(df, lambda _, pdf: (None, {"k": pdf["k"] * 10}),
                      {"k": "bigint"}, geometry=None)
    assert moved.columns == ["name", "geometry", "w", "tags", "k"]
    assert sorted(r["k"] for r in moved.collect()) == [0, 10, 20, 30]


def test_split_lines_by_nearest_point(spark):
    from sgspark.line_ops import split_lines_by_nearest_point
    lines = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "lid": [1, 2],
        "geometry_wkt": ["LINESTRING (0 0, 100 0)",
                         "LINESTRING (0 50, 100 50)"]})))
    points = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "pid": [10, 11, 12],
        "geometry_wkt": ["POINT (30 5)", "POINT (70 -3)",
                         "POINT (500 500)"]})))
    out = split_lines_by_nearest_point(lines, points, line_id="lid",
                                       point_id="pid", max_distance=10.0)
    rows = out.orderBy("lid", "piece_idx").collect()
    # line 1 split at x=30 and x=70 -> 3 pieces; line 2 untouched -> 1
    assert [(r.lid, r.piece_idx) for r in rows] == \
        [(1, 0), (1, 1), (1, 2), (2, 0)]
    from sgspark.geom.wkb import from_wkb
    ga = from_wkb([r.geometry for r in rows])
    assert sorted(np.round(ga.length(), 6)) == [30.0, 30.0, 40.0, 100.0]


# ---------------------------------------------------------------- network
def test_make_directed_network(spark):
    from sgspark.network import make_directed_network
    edges = spark.createDataFrame(pd.DataFrame({
        "source": ["A", "B", "C"], "target": ["B", "C", "A"],
        "oneway": ["B", "FT", "TF"], "length": [1000.0, 2000.0, 3000.0],
        "speed": [50.0, 100.0, 60.0]}))
    out = make_directed_network(edges, speed_col="speed").collect()
    pairs = sorted((r.source, r.target) for r in out)
    assert pairs == [("A", "B"), ("A", "C"), ("B", "A"), ("B", "C")]
    m = {(r.source, r.target): round(r.minutes, 4) for r in out}
    assert m[("A", "B")] == round(1000 / 50 * 60 / 1000, 4)  # 1.2 min


def test_close_network_holes(spark):
    from sgspark.network import close_network_holes, make_node_ids
    # two disconnected 2-edge chains with nearby deadends
    lines = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "lid": [1, 2],
        "geometry_wkt": ["LINESTRING (0 0, 100 0)",
                         "LINESTRING (105 0, 200 0)"]})))
    edges = make_node_ids(lines)
    out = close_network_holes(edges, 10.0)
    fills = out.where("hole_fill").collect()
    assert len(fills) == 1
    assert fills[0]["length"] == pytest.approx(5.0)
    # max_distance too small -> no fill
    assert close_network_holes(edges, 2.0).where("hole_fill").count() == 0


def test_tsp():
    from sgspark.network import traveling_salesman_problem
    # square corners: optimal tour length 40
    pts = np.array([[0, 0], [10, 0], [10, 10], [0, 10]])
    tour = traveling_salesman_problem(pts)
    d = 0.0
    for i in range(len(tour)):
        a, b = pts[tour[i]], pts[tour[(i + 1) % len(tour)]]
        d += float(np.hypot(*(a - b)))
    assert d == pytest.approx(40.0)


# ------------------------------------------------------------- misc frame
def test_get_neighbor_dfs(spark, docs500, zones50):
    from sgspark.joins import get_neighbor_dfs
    from sgspark.io import extract_geometries
    pts = extract_geometries(docs500).where(
        "geom_kind = 'point' AND span_pos = 1")
    zones = wkt_to_wkb_df(zones50)
    out = get_neighbor_dfs(pts, zones, left_id="doc_index",
                           right_id="zone_id", predicate="within")
    row = out.orderBy("doc_index").first()
    assert len(row.neighbors) >= 1
    assert "zone_id" in row.neighbors[0].asDict()


def test_get_grouped_centroids(spark):
    from sgspark.conversion import get_grouped_centroids
    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "grp": ["a", "a", "b"],
        "geometry_wkt": ["POINT (0 0)", "POINT (10 0)", "POINT (5 5)"]})))
    out = get_grouped_centroids(df, ["grp"]).collect()
    labels = {r.grp: r.grouped_centroid for r in out}
    assert labels["a"] == "5_0"
    assert labels["b"] == "5_5"


def test_sort_nans_last(spark):
    from sgspark.conversion import sort_nans_last
    df = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3],
        "a": [None, "x", "y"], "b": [None, None, "z"]}))
    rows = sort_nans_last(df, ["a", "b"]).collect()
    assert [r.id for r in rows] == [3, 2, 1]


def test_points_in_bounds_and_polygons(spark):
    from sgspark.conversion import points_in_bounds, points_in_polygons
    grid = points_in_bounds(spark, (0, 0, 10, 10), 5.0)
    assert grid.count() == 9  # 3x3
    polys = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "pid": [1],
        "geometry_wkt": ["POLYGON ((-1 -1, 6 -1, 6 6, -1 6, -1 -1))"]})))
    inside = points_in_polygons(polys, 5.0, id_col="pid")
    assert inside.count() == 4  # (0,0),(0,5),(5,0),(5,5)


def test_sort_long_first(spark):
    from sgspark.conversion import sort_long_first, sort_short_first
    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "id": [1, 2],
        "geometry_wkt": ["LINESTRING (0 0, 1 0)",
                         "LINESTRING (0 0, 9 0)"]})))
    assert [r.id for r in sort_long_first(df).collect()] == [2, 1]
    assert [r.id for r in sort_short_first(df).collect()] == [1, 2]


def test_gridloop_geoms_invariance(spark, docs500, zones50):
    """gridloop over ARBITRARY geometries (not just points): per-cell
    bbox-area sums equal the global run for multiple buffers/gridsizes."""
    import pandas as pd
    from sgspark.tiling import gridloop_geoms
    from sgspark.io import extract_geometries

    geo = extract_geometries(docs500).where("span_pos > 1") \
        .select("doc_index", "span_pos", "minx", "miny", "maxx", "maxy")

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        own = pdf[~pdf["__halo"]]
        if len(own) == 0:
            return pd.DataFrame({"x": [], "y": [], "total_w": []})
        # one output row per input row, owner point = bbox lower-left
        return pd.DataFrame({
            "x": own.minx, "y": own.miny,
            "total_w": (own.maxx - own.minx) + len(pdf) * 0.0})

    outs = {}
    for gs, buf in ((1000.0, 0.0), (700.0, 100.0), (2500.0, 300.0)):
        out = gridloop_geoms(geo, per_cell, "x double, y double, total_w double",
                             gs, gridbuffer=buf)
        outs[(gs, buf)] = sorted((round(r.x, 6), round(r.y, 6),
                                  round(r.total_w, 6))
                                 for r in out.collect())
    vals = list(outs.values())
    assert vals[0] == vals[1] == vals[2]
    assert len(vals[0]) == geo.count()


def test_to_gdf_universal(spark):
    from sgspark.conversion import to_gdf
    # WKT list
    a = to_gdf(spark, ["POINT (1 2)", "POINT (3 4)"])
    assert a.count() == 2
    # xy tuples
    b = to_gdf(spark, [(1.0, 2.0), (3.0, 4.0)])
    assert sorted(r.x for r in b.collect()) == [1.0, 3.0]
    # dict id -> wkt
    c = to_gdf(spark, {"k1": "POINT (5 6)"})
    assert c.first().row_id == "k1"
    # WKB bytes
    blob = a.first().geometry
    d = to_gdf(spark, [blob])
    assert d.first().minx == a.first().minx
    # GeoJSON-ish
    e = to_gdf(spark, [{"type": "Polygon",
                        "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4],
                                         [0, 0]]]}])
    assert e.first().maxx == 4.0


def test_bounds_to_points_and_segments(spark):
    from sgspark.conversion import bounds_to_points, get_line_segments
    from sgspark.io import wkt_to_wkb_df
    from sgspark.geom.wkb import from_wkb
    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "pid": [1], "geometry_wkt": ["POLYGON ((0 0, 8 0, 8 6, 0 6, 0 0))"]})))
    mp = bounds_to_points(df).first()
    ga = from_wkb([mp.geometry])
    assert ga.coords_count_per_geom()[0] == 4
    lines = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "lid": [1], "geometry_wkt": ["LINESTRING (0 0, 1 0, 2 0, 3 0)"]})))
    segs = get_line_segments(lines).collect()
    assert [s.segment_idx for s in segs] == [0, 1, 2]


def test_make_lines_between_points(spark):
    from sgspark.conversion import df_from_xy, make_lines_between_points
    from sgspark.geom.wkb import from_wkb
    a = df_from_xy(spark, [0.0, 10.0], [0.0, 0.0], ids=[1, 2])
    b = df_from_xy(spark, [3.0, 10.0], [4.0, 5.0], ids=[1, 2])
    out = make_lines_between_points(a, b, a_id="row_id", b_id="row_id")
    ga = from_wkb([r.geometry for r in out.orderBy("row_id").collect()])
    assert sorted(np.round(ga.length(), 6)) == [5.0, 5.0]


def test_service_area_edges(spark):
    from sgspark.network import service_area_edges
    edges = spark.createDataFrame(pd.DataFrame({
        "source": ["A", "B"], "target": ["B", "C"],
        "length": [10.0, 10.0]}))
    orig = spark.createDataFrame(pd.DataFrame({"oid": ["o"], "node": ["A"]}))
    out = service_area_edges(edges, orig, 15.0).collect()
    d = {(r.source, r.target): (round(r.frac_from_source, 6),
                                round(r.frac_from_target, 6)) for r in out}
    assert d[("A", "B")] == (1.0, 0.5)   # fully within + back-reach from B
    assert d[("B", "C")] == (0.5, 0.0)   # half of the second edge


def test_network_rules(spark):
    from sgspark.network import NetworkAnalysisRules
    edges = spark.createDataFrame(pd.DataFrame({
        "source": ["A"], "target": ["B"], "length": [1.0]}))
    r = NetworkAnalysisRules(weight="length")
    r.validate(edges)
    assert r.rules_hash() == NetworkAnalysisRules(weight="length").rules_hash()
    assert r.rules_hash() != NetworkAnalysisRules(weight="minutes",
                                                  ).rules_hash()
    with pytest.raises(ValueError, match="missing"):
        NetworkAnalysisRules(weight="nope").validate(edges)


def test_gridlooper_class(spark, docs500):
    from sgspark.tiling import Gridlooper
    from sgspark.io import extract_geometries
    pts = extract_geometries(docs500).where(
        "geom_kind = 'point' AND span_pos = 1").selectExpr(
        "doc_index AS doc_id", "minx AS x", "miny AS y")

    def per_cell(cell: pd.DataFrame) -> pd.DataFrame:
        own = cell[~cell["__halo"]]
        if len(own) == 0:
            return pd.DataFrame({"x": [], "y": [], "n": []})
        return pd.DataFrame({"x": [float(own.x.min())],
                             "y": [float(own.y.min())],
                             "n": [len(own)]})

    gl = Gridlooper(1000.0, "x double, y double, n long")
    out = gl.run(pts, per_cell)
    assert out.agg(F.sum("n")).first()[0] == pts.count()


def test_bucketed_colocated_join(spark, tmp_path):
    """Two layers bucketed by cell_key join WITHOUT a shuffle exchange —
    the co-located-join lever for 100TB repeated spatial joins."""
    from sgspark.io import read_bucketed, write_bucketed
    from sgspark.tiling import add_cell_key
    import io as _io
    from contextlib import redirect_stdout

    a = spark.range(1000).selectExpr("id", "cast(id % 50 as double) AS x",
                                     "cast(id % 40 as double) AS y")
    a = add_cell_key(a, 10.0)
    b = spark.range(500).selectExpr("id AS bid",
                                    "cast(id % 50 as double) AS x",
                                    "cast(id % 40 as double) AS y")
    b = add_cell_key(b, 10.0)
    write_bucketed(a, "buck_a", 8, path=str(tmp_path / "a"))
    write_bucketed(b, "buck_b", 8, path=str(tmp_path / "b"))
    ta = read_bucketed(spark, "buck_a")
    tb = read_bucketed(spark, "buck_b")
    joined = ta.hint("merge").join(tb, "cell_key")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert joined.count() > 0
    spark.sql("DROP TABLE IF EXISTS buck_a")
    spark.sql("DROP TABLE IF EXISTS buck_b")
