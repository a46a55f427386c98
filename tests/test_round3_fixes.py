"""Regression tests for the round-2 ADVICE findings:

1. points_in_polygons pt_id: derived from integer grid indices, so
   sub-unit spacing no longer collides ids and cross-attaches results.
2. tier-2 / convex-clip pinched rings: a rect clip that splits a concave
   subject into disconnected pieces yields a valid MULTI-piece result
   (split at repeated vertices), not one self-touching ring (the Spark
   end-to-end case is in test_overlay.py).
3. (moved to test_overlay.py: overlay huge-bbox routing)
4. get_route with directed=True reports the cost of the direction
   actually traveled, not min(FT, TF).
5. read_geopandas partition_grid accepts a max-extent margin so wide
   geometries stored in a lower minx band are not pruned away.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sgspark.geom.clip import (polygon_boolean, ring_area, ring_has_repeats,
                               split_pinched_ring)
from sgspark.io import wkt_to_wkb_df


def rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


def sq_wkt(x0, y0, s):
    return (f"POLYGON (({x0} {y0}, {x0 + s} {y0}, {x0 + s} {y0 + s}, "
            f"{x0} {y0 + s}, {x0} {y0}))")


# ------------------------------------------------- 1. points_in_polygons ids
def test_points_in_polygons_subunit_spacing(spark):
    from sgspark.conversion import points_in_polygons
    # two disjoint unit squares; spacing 0.5 -> truncated-coordinate ids
    # would collide across the grid
    polys = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "pid": [0, 1],
        "geometry_wkt": [sq_wkt(0, 0, 1), sq_wkt(3, 0, 1)]})))
    out = points_in_polygons(polys, 0.5, id_col="pid").toPandas()
    # every reported point must actually lie inside its polygon
    for _, row in out.iterrows():
        x, y, pid = row["x"], row["y"], row["pid"]
        x0 = 0.0 if pid == 0 else 3.0
        assert x0 - 1e-9 <= x <= x0 + 1 + 1e-9, (x, y, pid)
        assert -1e-9 <= y <= 1 + 1e-9
    # the 0.5-grid inside a unit square has 3x3 = 9 points per polygon
    assert len(out) == 18


# ---------------------------------------------------- 2. pinched-ring split
def test_split_pinched_ring_u_shape():
    # U-shape clipped by a rect that removes the bottom bar -> 2 pieces
    u = np.array([[0, 0], [9, 0], [9, 6], [6, 6], [6, 2], [3, 2], [3, 6],
                  [0, 6], [0, 0]], float)
    clip = rect(-1, 3, 10, 7)
    res = polygon_boolean([[u]], [[clip]], "intersection")
    # two disconnected 3x3 pieces, each a separate simple part
    assert len(res) == 2
    areas = sorted(abs(ring_area(p[0])) for p in res)
    assert np.allclose(areas, [9.0, 9.0])
    for p in res:
        assert not ring_has_repeats(p[0])


def test_split_pinched_ring_helper_roundtrip():
    # hand-built pinched ring: two triangles joined at one vertex
    pinched = np.array([[0, 0], [2, 0], [1, 1], [0, 2], [-2, 0], [-1, -1],
                        [1, 1], [0, 0]], float)
    # ring revisits (1,1)
    assert ring_has_repeats(pinched)
    pieces = split_pinched_ring(pinched)
    assert len(pieces) == 2
    total = sum(abs(ring_area(p)) for p in pieces)
    assert total == pytest.approx(abs(ring_area(pinched)), abs=1e-12)


# ------------------------------------------------- 4. directed route costs
def test_get_route_directed_asymmetric_cost(spark):
    from sgspark.network import get_route
    # a->b cheap, b->a expensive; route a->b must report the traveled cost
    edges = spark.createDataFrame(pd.DataFrame({
        "source": ["a", "b"], "target": ["b", "a"],
        "length": [1.0, 9.0]}))
    origins = spark.createDataFrame(pd.DataFrame({
        "oid": ["o"], "node": ["a"]}))
    dests = spark.createDataFrame(pd.DataFrame({
        "did": ["d"], "node": ["b"]}))
    r = get_route(edges, origins, dests, directed=True).toPandas()
    assert len(r) == 1
    assert r["cost"].iloc[0] == pytest.approx(1.0)
    # and the reverse od pair pays the expensive direction
    r2 = get_route(edges,
                   spark.createDataFrame(pd.DataFrame({"oid": ["o"],
                                                       "node": ["b"]})),
                   spark.createDataFrame(pd.DataFrame({"did": ["d"],
                                                       "node": ["a"]})),
                   directed=True).toPandas()
    assert r2["cost"].iloc[0] == pytest.approx(9.0)


# ------------------------------------------- 5. partition pruning margin
def test_partition_grid_margin(spark, tmp_path):
    from sgspark.io import read_geopandas, write_geoparquet
    # wide geometry: minx = 5, extent 200 -> stored in band 0 at g=100;
    # mask at x in [150, 160] overlaps it but floor(150/100)=1 > 0
    pdf = pd.DataFrame({
        "gid": [0, 1],
        "geometry_wkt": ["POLYGON ((5 0, 205 0, 205 10, 5 10, 5 0))",
                         sq_wkt(150, 50, 5)]})
    df = wkt_to_wkb_df(spark.createDataFrame(pdf))
    df = df.withColumn("band", F.expr("cast(floor(minx / 100) as int)"))
    path = os.path.join(str(tmp_path), "layer")
    write_geoparquet(df, path, partition_cols=["band"])
    # without margin the wide row is pruned away
    got0 = read_geopandas(spark, path, mask=(150, 0, 160, 60),
                          partition_grid=("band", 100)).toPandas()
    assert set(got0.gid) == {1}
    # with max_extent margin both rows survive
    got1 = read_geopandas(spark, path, mask=(150, 0, 160, 60),
                          partition_grid=("band", 100, 200)).toPandas()
    assert set(got1.gid) == {0, 1}
