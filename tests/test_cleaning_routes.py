"""Round-2 operators: coverage_clean pipeline pieces + route reconstruction.

Reference parity targets: close_thin_holes / remove_spikes /
split_polygons_by_lines (polygon_operations.py:1058-1478), coverage_clean
(cleaning.py:55-330), get_route / get_k_routes / get_route_frequencies
(_get_route.py:11-257).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sgspark.io import wkt_to_wkb_df
from sgspark.geom.wkb import from_wkb


def poly_wkt(x0, y0, x1, y1):
    return (f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, "
            f"{x0} {y0}))")


def total_area(rows, col="geometry"):
    ga = from_wkb([r[col] for r in rows])
    return float(ga.area().sum())


# ------------------------------------------------------------ thin holes
def test_close_thin_holes(spark):
    from sgspark.polygon_ops import close_thin_holes
    wkt = ("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), "
           "(2 2, 2 18, 3 18, 3 2, 2 2), "           # 1 wide -> thin
           "(10 10, 10 15, 15 15, 15 10, 10 10))")   # 5 wide -> stays
    df = wkt_to_wkb_df(spark.createDataFrame(
        pd.DataFrame({"pid": [1], "geometry_wkt": [wkt]})))
    out = close_thin_holes(df, 2.0).collect()
    assert len(out) == 1
    assert total_area(out) == pytest.approx(400 - 25, abs=1e-9)


# ----------------------------------------------------------------- spikes
def test_remove_spikes(spark):
    from sgspark.polygon_ops import remove_spikes
    ring = ("POLYGON ((0 0, 10 0, 10 10, 5.001 10, 5 30, 4.999 10, 0 10, "
            "0 0))")
    df = wkt_to_wkb_df(spark.createDataFrame(
        pd.DataFrame({"pid": [1], "geometry_wkt": [ring]})))
    out = remove_spikes(df, 1.0).collect()
    assert total_area(out) == pytest.approx(100, abs=0.1)


# ------------------------------------------------------------------ split
def test_split_polygons_by_lines(spark):
    from sgspark.polygon_ops import split_polygons_by_lines
    polys = wkt_to_wkb_df(spark.createDataFrame(
        pd.DataFrame({"pid": [1],
                      "geometry_wkt": [poly_wkt(0, 0, 10, 10)]})))
    lines = wkt_to_wkb_df(spark.createDataFrame(
        pd.DataFrame({"lid": [7],
                      "geometry_wkt": ["LINESTRING (5 -1, 5 11)"]})))
    out = split_polygons_by_lines(polys, lines, id_col="pid", line_id="lid") \
        .collect()
    assert len(out) == 2
    areas = sorted(round(a, 6) for a in
                   from_wkb([r.geometry for r in out]).area())
    assert areas == [50.0, 50.0]


# ---------------------------------------------------------- coverage_clean
def test_coverage_clean_pipeline(spark):
    """4 rects enclosing a thin 1-wide gap, with 0.5-deep double surfaces
    where the top/bottom strips overlap the side squares, and a thin hole
    in A.  Cleaned coverage = union area + filled gap, no overlaps left."""
    from sgspark.cleaning import coverage_clean
    A = ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
         "(2 2, 2 8, 2.5 8, 2.5 2, 2 2))")          # thin hole (0.5 wide)
    B = poly_wkt(11, 0, 21, 10)
    C = poly_wkt(0, 9.5, 21, 20)
    D = poly_wkt(0, -10, 21, 0.5)
    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2, 3, 4], "geometry_wkt": [A, B, C, D]})))
    out = coverage_clean(df, 2.0, id_col="pid").collect()
    assert sorted(r.pid for r in out) == [1, 2, 3, 4]
    # closed-hole layer union: A=100, B=100, C=D=220.5 minus 4 overlaps of
    # 5 each = 621; plus the filled 1x9 gap = 630
    assert total_area(out) == pytest.approx(630.0, abs=1e-3)
    # no double surfaces remain: pairwise intersection areas ~ 0
    from sgspark.overlay import get_intersections
    from sgspark.io import with_bounds
    cleaned = with_bounds(spark.createDataFrame(
        pd.DataFrame({"pid": [r.pid for r in out],
                      "geometry": [r.geometry for r in out]})))
    inter = get_intersections(cleaned, id_col="pid").collect()
    assert total_area(inter) == pytest.approx(0.0, abs=1e-6)


def test_coverage_clean_partitioning_invariant(spark, tmp_path):
    """The correctness gate's coverage fixture (25 tiles at pitch 101, a
    hole-bearing frame and a half-offset overlapper; tolerance 3,
    gridsize 300) cleans to the same pids and byte-identical WKB,
    whatever the input's partitioning or row order: the last ring pass
    starts every ring at its smallest vertex and sorts the holes.  The
    frame absorbs the whole thin-gap network under every layout: its ring
    605^2 - 505^2 plus the hole minus tiles minus the overlapper's 199."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from sgspark.cleaning import coverage_clean
    from sgspark.geom.wkb import from_wkt, to_wkb

    def table(pids, wkts):
        ga = from_wkt(wkts)
        b = ga.bounds()
        return pa.table({"pid": pa.array(pids, pa.int64()),
                         "geometry": pa.array(to_wkb(ga), pa.binary()),
                         "minx": b[:, 0], "miny": b[:, 1],
                         "maxx": b[:, 2], "maxy": b[:, 3]})

    t = np.arange(25)
    pq.write_table(table(t, [poly_wkt(x, y, x + 100, y + 100) for x, y in
                             zip((t % 5) * 101, (t // 5) * 101)]),
                   tmp_path / "part-0.parquet")
    pq.write_table(table([1000, 1001], [
        "POLYGON ((-50 -50, 555 -50, 555 555, -50 555, -50 -50), "
        "(-0.5 -0.5, -0.5 504.5, 504.5 504.5, 504.5 -0.5, -0.5 -0.5))",
        poly_wkt(50.5, 49.5, 150.5, 149.5)]), tmp_path / "part-1.parquet")
    cov = spark.read.parquet(str(tmp_path))
    assert cov.rdd.getNumPartitions() == 2
    layouts = {"two files": cov, "coalesce(1)": cov.coalesce(1),
               "repartition(8)": cov.repartition(8),
               "repartition(3, pid)": cov.repartition(3, "pid"),
               "reversed": cov.orderBy(F.desc("pid"))}
    got = {name: dict(coverage_clean(df, 3.0, id_col="pid",
                                     gridsize=300.0)
                      .select("pid", "geometry").collect())
           for name, df in layouts.items()}
    want = got.pop("two files")

    for name, rows in got.items():
        assert sorted(rows) == sorted(want), name
        for pid, g in rows.items():
            assert bytes(g) == bytes(want[pid]), (name, pid)
    area = dict(zip(want, from_wkb(list(want.values())).area()))
    assert area[1000] == pytest.approx(
        605 ** 2 - 505 ** 2 + 505 ** 2 - 25 * 100 ** 2 - 199, abs=1e-6)
    assert area[1001] == pytest.approx(199, abs=1e-6)


# ------------------------------------------------------------------ routes
@pytest.fixture()
def road_graph(spark):
    edges = spark.createDataFrame(pd.DataFrame({
        "source": ["A", "B", "C", "A", "B"],
        "target": ["B", "C", "D", "D", "D"],
        "length": [1.0, 1.0, 1.0, 5.0, 1.5]}))
    orig = spark.createDataFrame(pd.DataFrame({"oid": ["o1"],
                                               "node": ["A"]}))
    dest = spark.createDataFrame(pd.DataFrame({"did": ["d1"],
                                               "node": ["D"]}))
    return edges, orig, dest


def test_get_route(spark, road_graph):
    from sgspark.network import get_route, od_cost_matrix
    edges, orig, dest = road_graph
    od = od_cost_matrix(edges, orig, dest).collect()
    assert od[0]["cost"] == pytest.approx(2.5)
    r = get_route(edges, orig, dest).orderBy("seq").collect()
    assert [(x.seq, x.source, x.target) for x in r] == \
        [(1, "A", "B"), (2, "B", "D")]
    assert sum(x.cost for x in r) == pytest.approx(2.5)


def test_get_k_routes_and_frequencies(spark, road_graph):
    from sgspark.network import get_k_routes, get_route_frequencies
    edges, orig, dest = road_graph
    kr = get_k_routes(edges, orig, dest, 2).orderBy("route_k", "seq") \
        .collect()
    assert [(x.route_k, x.source, x.target) for x in kr] == \
        [(1, "A", "B"), (1, "B", "D"),
         (2, "A", "B"), (2, "B", "C"), (2, "C", "D")]
    fr = get_route_frequencies(edges, orig, dest).collect()
    assert sorted((x.source, x.target, x.frequency) for x in fr) == \
        [("A", "B", 1), ("B", "D", 1)]


def test_route_unreachable(spark):
    from sgspark.network import get_route, od_cost_matrix
    edges = spark.createDataFrame(pd.DataFrame({
        "source": ["A"], "target": ["B"], "length": [1.0]}))
    orig = spark.createDataFrame(pd.DataFrame({"oid": ["o1"],
                                               "node": ["A"]}))
    dest = spark.createDataFrame(pd.DataFrame({"did": ["d1"],
                                               "node": ["Z"]}))
    od = od_cost_matrix(edges, orig, dest).collect()
    assert od[0]["cost"] is None
    assert get_route(edges, orig, dest).count() == 0
