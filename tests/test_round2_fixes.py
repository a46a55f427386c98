"""Regression tests for the round-1 ADVICE findings:

1. cell-key encoding: numpy kernels vs Spark-SQL twins must agree for
   NEGATIVE y (southern data) — previously (cx<<25)|cy vs cx*2^25+cy
   silently dropped join pairs.
2. (moved to test_overlay.py: difference holes)
3. connected_components: pointer jumping converges on a long chain in
   O(log n) rounds and raises (not silently splits) on exhaustion.
4. buffer: polygons with interior rings raise instead of silently
   dropping holes; convex negative buffer is exact.
5. zonal_stats: tiles not aligned/sized to the zonal grid still
   contribute all their pixels (full-extent cover + anchor dedup).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sgspark.cells import point_cell_key, cover_cell_keys, neighbor_keys
from sgspark.geom.buffer import buffer, convex_ring_erode
from sgspark.geom.array import from_rings, POLYGON
from sgspark.clusters import connected_components
from sgspark.joins import sjoin_pairs
from sgspark.io import wkt_to_wkb_df


def rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


# ------------------------------------------------------------------ 1. keys
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


# --------------------------------------------------------------- 3. CC chain
def test_cc_chain_pointer_jumping(spark):
    n = 200
    edges = spark.createDataFrame(
        pd.DataFrame({"src": range(n - 1), "dst": range(1, n)}))
    verts = spark.createDataFrame(pd.DataFrame({"id": range(n)}))
    # plain propagation needs ~n rounds; pointer jumping must do it well
    # under 20
    labels = connected_components(edges, verts, max_iter=20).toPandas()
    assert (labels["cluster"] == 0).all()


def test_cc_raises_on_exhaustion(spark):
    n = 64
    edges = spark.createDataFrame(
        pd.DataFrame({"src": range(n - 1), "dst": range(1, n)}))
    verts = spark.createDataFrame(pd.DataFrame({"id": range(n)}))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, verts, max_iter=1)


# ---------------------------------------------------------------- 4. buffer
def test_buffer_handles_holes():
    """Round 2 raised on interior rings; round 3's trimmed-offset kernel
    buffers them: the exterior dilates, the hole erodes independently."""
    sq = rect(0, 0, 10, 10)
    hole = rect(3, 3, 7, 7)[::-1]
    ga = from_rings([[[sq, hole]]], [POLYGON])
    out = buffer(ga, 1.0, quad_segs=8)
    # exterior: 100 + 40 + discretized pi; hole erodes 4x4 -> 2x2
    sector = 0.5 * np.sin((np.pi / 2) / 8) * 8 * 4
    assert out.area()[0] == pytest.approx(100 + 40 + sector - 4.0)


def test_negative_buffer_convex_exact():
    sq = rect(0, 0, 10, 10)
    ga = from_rings([[[sq]]], [POLYGON])
    out = buffer(ga, -2.0)
    assert out.area()[0] == pytest.approx(36.0)
    # thinner than 2*dist -> empty
    assert convex_ring_erode(rect(0, 0, 10, 3), 2.0) is None


# ----------------------------------------------------------------- 5. zonal
def test_zonal_misaligned_tiles(spark):
    """A tile larger than the zonal gridsize and not grid-aligned must still
    contribute pixels that fall in a polygon overlapping only its far
    corner."""
    from sgspark.zonal import zonal_stats

    # one 2000x2000 tile anchored at (250, 250), res 100 -> 400 pixels
    n = 20
    vals = np.ones(n * n)
    tiles = spark.createDataFrame(pd.DataFrame({
        "tile_id": ["t0"], "x0": [250.0], "y0": [250.0], "res": [100.0],
        "nx": [n], "ny": [n], "values": [vals.tolist()]}))
    # polygon over the tile's FAR corner (around (2250, 2250)), far from the
    # tile's centre cell under gridsize=1000
    poly = pd.DataFrame({
        "zone_id": [7],
        "geometry_wkt": ["POLYGON ((2000 2000, 2260 2000, 2260 2260, 2000 2260, "
                "2000 2000))"]})
    p = wkt_to_wkb_df(spark.createDataFrame(poly))
    got = zonal_stats(p, tiles, id_col="zone_id", gridsize=1000.0).collect()
    assert len(got) == 1
    # oracle: pixel centers at 250 + (i+0.5)*100 inside [2000, 2260]
    px = 250 + (np.arange(n) + 0.5) * 100
    inside = (px >= 2000) & (px <= 2260)
    want = int(inside.sum()) ** 2
    assert got[0]["count"] == want


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
