"""Round-2 scalar/composite kernels: simplify, extract_unique_points,
shortest_lines, snap_vertices, extend_lines, split_by_neighbors,
fix_double_surfaces, get_rough_centerlines."""

import numpy as np
import pandas as pd
import pytest

from sgspark.io import wkt_to_wkb_df
from sgspark.geom.wkb import from_wkb


def W(spark, wkts, idc="pid"):
    return wkt_to_wkb_df(spark.createDataFrame(
        pd.DataFrame({idc: range(len(wkts)), "geometry_wkt": wkts})))


def test_simplify(spark):
    from sgspark.polygon_ops import simplify
    # square with redundant collinear midpoints
    df = W(spark, ["POLYGON ((0 0, 5 0, 10 0, 10 10, 5 10.001, 0 10, 0 0))"])
    out = simplify(df, 0.01).collect()
    ga = from_wkb([out[0].geometry])
    # collinear 5,0 dropped; 5,10.001 (deviation 0.001 < tol) dropped
    assert ga.coords_count_per_geom()[0] == 5
    assert ga.area()[0] == pytest.approx(100.0, abs=0.1)


def test_extract_unique_points(spark):
    from sgspark.polygon_ops import extract_unique_points
    df = W(spark, ["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"])
    out = extract_unique_points(df).collect()
    ga = from_wkb([out[0].geometry])
    assert ga.coords_count_per_geom()[0] == 4  # closing dup removed


def test_shortest_lines(spark):
    from sgspark.point_ops import shortest_lines
    pts = W(spark, ["POINT (0 0)", "POINT (100 100)"])
    tgts = W(spark, ["POLYGON ((3 -5, 8 -5, 8 5, 3 5, 3 -5))"], idc="tid")
    out = shortest_lines(pts, tgts, left_id="pid", right_id="tid",
                         max_distance=10.0).collect()
    assert len(out) == 1  # far point has no target within 10
    assert out[0].shortest_distance == pytest.approx(3.0)
    ga = from_wkb([out[0].geometry])
    assert ga.length()[0] == pytest.approx(3.0)


def test_snap_vertices(spark):
    from sgspark.point_ops import snap_vertices
    df = W(spark, ["POLYGON ((0.1 0.1, 10 0, 10 10, 0 10, 0.1 0.1))"])
    tgt = W(spark, ["POINT (0 0)"], idc="tid")
    out = snap_vertices(df, tgt, 0.5, left_id="pid", right_id="tid") \
        .collect()
    ga = from_wkb([out[0].geometry])
    c = ga.coords
    assert (c[0] == np.array([0.0, 0.0])).all()  # snapped to target vertex


def test_extend_lines(spark):
    from sgspark.line_ops import extend_lines
    df = W(spark, ["LINESTRING (0 0, 10 0)"], idc="lid")
    out = extend_lines(df, 2.0).collect()
    ga = from_wkb([out[0].geometry])
    assert ga.length()[0] == pytest.approx(14.0)


def test_split_by_neighbors(spark):
    from sgspark.polygon_ops import split_by_neighbors
    polys = W(spark, ["POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"])
    # neighbor whose left edge (x=6, fully spanning after extension) cuts
    nbr = W(spark, ["POLYGON ((6 -2, 14 -2, 14 12, 6 12, 6 -2))"],
            idc="nid")
    out = split_by_neighbors(polys, nbr, id_col="pid", neighbor_id="nid",
                             tolerance=1.0).collect()
    areas = sorted(round(float(a), 6)
                   for a in from_wkb([r.geometry for r in out]).area())
    assert areas == [40.0, 60.0]


def test_fix_double_surfaces(spark):
    from sgspark.polygon_ops import fix_double_surfaces
    df = W(spark, ["POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
                   "POLYGON ((5.5 0.5, 15.5 0.5, 15.5 9.5, 5.5 9.5, 5.5 0.5))"])
    out = fix_double_surfaces(df, id_col="pid").collect()
    total = float(from_wkb([r.geometry for r in out]).area().sum())
    # union area: 100 + 90 - overlap (4.5 * 9) = 149.5
    assert total == pytest.approx(149.5, abs=1e-6)


def test_fix_double_surfaces_one_bounds_area_pass(spark):
    """`fix_double_surfaces` ranks by bounds and area from ONE Arrow pass,
    materialized once: across every SQL execution the call and its
    collect run, a single MapInPandas produces `__area`.  Unmaterialized,
    each plan reference re-ran the pass."""
    import re
    from sgspark.polygon_ops import fix_double_surfaces
    df = W(spark, ["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
                   "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"]).localCheckpoint()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        rows = store.executionsList()
        return [rows.apply(i) for i in range(rows.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    out = fix_double_surfaces(df, id_col="pid")
    rows = out.collect()
    nodes = [b for e in executions() if e.executionId() > seen
             for b in re.findall(r"\(\d+\) MapInPandas\nInput .*\n"
                                 r"Arguments: .*", e.physicalPlanDescription())]
    assert sum("__area#" in b for b in nodes) == 1
    assert sorted(float(a) for a in
                  from_wkb([r.geometry for r in rows]).area()) == [12.0, 16.0]


def test_get_rough_centerlines(spark):
    from sgspark.polygon_ops import get_rough_centerlines
    # long thin horizontal rectangle -> centerline roughly along y=5
    df = W(spark, ["POLYGON ((0 0, 100 0, 100 10, 0 10, 0 0))"])
    out = get_rough_centerlines(df, id_col="pid").collect()
    ga = from_wkb([out[0].geometry])
    ys = ga.coords[:, 1]
    assert np.abs(ys - 5.0).max() < 3.0   # stays near the spine
    assert ga.length()[0] > 60            # spans most of the long axis


def test_polygons_to_lines_split(spark):
    from sgspark.polygon_ops import polygons_to_lines
    # two overlapping squares in different frames: each CLOSED boundary
    # ring split at its 2 crossing points -> 3 linestring pieces
    # (shapely split semantics: the ring is a closed LineString)
    a = W(spark, ["POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"])
    b = W(spark, ["POLYGON ((5 -5, 15 -5, 15 5, 5 5, 5 -5))"])
    out = polygons_to_lines([a, b], id_col="pid").collect()
    per_frame = {}
    for r in out:
        per_frame.setdefault(r.frame_idx, []).append(r.piece_idx)
    assert sorted(per_frame[0]) == [0, 1, 2]
    assert sorted(per_frame[1]) == [0, 1, 2]
    ga = from_wkb([r.geometry for r in out])
    assert float(ga.length().sum()) == pytest.approx(80.0)  # both rings


def test_clip_lines_by_polygons(spark):
    from sgspark.line_ops import clip_lines_by_polygons
    lines = W(spark, ["LINESTRING (-5 5, 15 5)",      # crosses square
                      "LINESTRING (2 2, 8 2)",        # fully inside
                      "LINESTRING (20 20, 30 20)"],   # outside
              idc="lid")
    polys = W(spark, ["POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"])
    out = clip_lines_by_polygons(lines, polys, line_id="lid",
                                 poly_id="pid").collect()
    lens = {r.lid: round(float(from_wkb([r.geometry]).length()[0]), 6)
            for r in out}
    assert lens == {0: 10.0, 1: 6.0}
    # hole respected: piece over the hole is cut out
    holed = W(spark, ["POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                      "(4 4, 4 6, 6 6, 6 4, 4 4))"])
    out2 = clip_lines_by_polygons(
        W(spark, ["LINESTRING (-5 5, 15 5)"], idc="lid"), holed,
        line_id="lid", poly_id="pid").collect()
    total = float(from_wkb([r.geometry for r in out2]).length().sum())
    assert total == pytest.approx(8.0)  # 10 inside minus 2 over the hole
