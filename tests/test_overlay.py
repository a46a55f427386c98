"""clean_overlay 6 hows — differential tests against a local numpy oracle
plus analytic areas and the column-name contract
(mirrors /root/reference/tests/test_overlay.py:30-87).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sgspark.geom import from_wkb
from sgspark.geom.clip import (polygon_boolean, ring_area, ring_has_repeats,
                               union_many)
from sgspark.io import wkt_to_wkb_df
from sgspark.overlay import clean_overlay, get_intersections, update_geometries


def sq(x0, y0, s):
    return (f"POLYGON (({x0} {y0}, {x0 + s} {y0}, {x0 + s} {y0 + s}, "
            f"{x0} {y0 + s}, {x0} {y0}))")


@pytest.fixture(scope="module")
def layers(spark):
    # df1: two squares; df2: two squares overlapping them + one disjoint
    df1 = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "aid": [0, 1], "name": ["a0", "a1"], "tag": ["x", "y"],
        "geometry_wkt": [sq(0, 0, 10), sq(20, 0, 10)]})))
    df2 = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "bid": [0, 1, 2], "name": ["b0", "b1", "b2"], "w": [1.0, 2.0, 3.0],
        "geometry_wkt": [sq(5.5, 5.5, 10), sq(25.5, -3.5, 10), sq(100, 100, 5)]})))
    return df1, df2


def rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


def total_area(parts):
    return sum(ring_area(r) for p in parts for r in p)


def _part_area(p):
    return abs(ring_area(p[0])) - sum(abs(ring_area(r)) for r in p[1:])


def _areas(pdf):
    return np.sort(from_wkb(list(pdf.geometry)).area())


def test_intersection(layers):
    df1, df2 = layers
    out = clean_overlay(df1, df2, "intersection", id1="aid", id2="bid").toPandas()
    # a0∩b0 = 4.5², a1∩b1 = 4.5*6.5
    assert len(out) == 2
    assert np.allclose(_areas(out), np.sort([4.5 ** 2, 4.5 * 6.5]))
    # column contract: collided 'name' suffixed both sides
    assert "name_1" in out.columns and "name_2" in out.columns
    assert "tag" in out.columns and "w" in out.columns


def test_difference(layers):
    df1, df2 = layers
    out = clean_overlay(df1, df2, "difference", id1="aid", id2="bid").toPandas()
    assert sorted(out.columns) == sorted(["aid", "name", "tag", "geometry"])
    assert np.allclose(_areas(out),
                       np.sort([100 - 4.5 ** 2, 100 - 4.5 * 6.5]))


def test_symmetric_difference(layers):
    df1, df2 = layers
    out = clean_overlay(df1, df2, "symmetric_difference",
                        id1="aid", id2="bid").toPandas()
    want = np.sort([100 - 4.5 ** 2, 100 - 4.5 * 6.5,
                    100 - 4.5 ** 2, 100 - 4.5 * 6.5, 25.0])
    assert np.allclose(_areas(out), want)


def test_union_identity_update_totals(layers):
    df1, df2 = layers
    uni = clean_overlay(df1, df2, "union", id1="aid", id2="bid").toPandas()
    # total area of union rows == area(A ∪ B) counted per overlay semantics:
    # intersections once + both differences
    total = _areas(uni).sum()
    want = (4.5 ** 2 + 4.5 * 6.5) + (100 - 4.5 ** 2) + (100 - 4.5 * 6.5) * 2 \
        + (100 - 4.5 ** 2) + 25.0
    assert total == pytest.approx(want)
    ident = clean_overlay(df1, df2, "identity", id1="aid", id2="bid").toPandas()
    assert _areas(ident).sum() == pytest.approx(200.0)  # covers df1 exactly
    upd = clean_overlay(df1, df2, "update", id1="aid", id2="bid").toPandas()
    assert _areas(upd).sum() == pytest.approx(
        (100 - 4.5 ** 2) + (100 - 4.5 * 6.5) + 100 + 100 + 25.0)


def test_overlay_vs_local_oracle_random(spark, zones50):
    """Differential: distributed intersection over the zone layer vs the
    same boolean kernel run locally on collected pairs (validates the
    distributed plan: candidates, anchor dedup, kernels)."""
    zones = wkt_to_wkb_df(zones50)
    a = zones.where("zone_id % 2 = 0").withColumnRenamed("zone_id", "aid") \
        .select("aid", "geometry", "minx", "miny", "maxx", "maxy")
    b = zones.where("zone_id % 2 = 1").withColumnRenamed("zone_id", "bid") \
        .select("bid", "geometry", "minx", "miny", "maxx", "maxy")
    got = clean_overlay(a, b, "intersection", id1="aid", id2="bid").toPandas()
    # local oracle with interval arithmetic on squares
    from sgspark import synth
    za = zones50.toPandas()
    ka = za.zone_id.to_numpy()
    cx, cy, r = synth.zone_params(ka)
    rows = []
    for i in np.where(ka % 2 == 0)[0]:
        for j in np.where(ka % 2 == 1)[0]:
            ox = min(cx[i] + r[i], cx[j] + r[j]) - max(cx[i] - r[i], cx[j] - r[j])
            oy = min(cy[i] + r[i], cy[j] + r[j]) - max(cy[i] - r[i], cy[j] - r[j])
            if ox > 0 and oy > 0:
                rows.append((int(ka[i]), int(ka[j]), ox * oy))
    want = pd.DataFrame(rows, columns=["aid", "bid", "area"])
    got["area"] = from_wkb(list(got.geometry)).area()
    m = got.merge(want, on=["aid", "bid"], how="outer", suffixes=("_g", "_w"))
    assert not m.area_g.isna().any() and not m.area_w.isna().any()
    assert np.allclose(m.area_g, m.area_w, rtol=1e-9)


def test_get_intersections_and_update_geometries(spark):
    wkts = [sq(0, 0, 10), sq(5.5, 0, 10), sq(11, 0, 10)]
    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame(
        {"gid": [0, 1, 2], "geometry_wkt": wkts})))
    inter = get_intersections(df, id_col="gid").toPandas()
    # overlaps: (0,1) 4.5*10, (1,2) 4.5*10; (0,2) disjoint
    assert len(inter) == 2
    assert np.allclose(_areas(inter), [45.0, 45.0])
    upd = update_geometries(df.withColumn("rank", F.col("gid")),
                            id_col="gid", rank_col="rank").toPandas()
    areas = upd.sort_values("gid")
    got = from_wkb(list(areas.geometry)).area()
    # gid0 keeps 100; gid1 loses 45 to gid0; gid2 loses overlap with
    # REMAINING part of 1 (x in [11,15.5]) -> 45
    assert np.allclose(got, [100.0, 55.0, 55.0])


_FLAT = ["POLYGON ((1 1, 2 2, 3 3, 1 1))", "POLYGON ((5 1, 6 2, 7 3, 5 1))"]


@pytest.mark.parametrize("n_flat", [1, 2])
def test_erase_by_zero_area_partners_keeps_left(spark, n_flat):
    """Zero-area partners erase nothing (A − ∅ = A), one or several: the
    left comes back as it is, from the difference and from the priority
    erase alike."""
    a = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame(
        {"aid": [0], "geometry_wkt": [sq(0, 0, 10)]})))
    b = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame(
        {"bid": list(range(n_flat)), "geometry_wkt": _FLAT[:n_flat]})))
    want = a.toPandas().geometry[0]
    out = clean_overlay(a, b, "difference", id1="aid", id2="bid").toPandas()
    assert len(out) == 1
    assert from_wkb([out.geometry[0]]).area()[0] == pytest.approx(100.0)
    if n_flat > 1:
        assert bytes(out.geometry[0]) == bytes(want)

    # the square ranks last, so every flat partner may erase it
    layer = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame(
        {"gid": list(range(n_flat + 1)),
         "geometry_wkt": _FLAT[:n_flat] + [sq(0, 0, 10)]})))
    upd = update_geometries(layer.withColumn("rank", F.col("gid")),
                            id_col="gid", rank_col="rank").toPandas()
    sq_row = upd[upd.gid == n_flat]
    assert len(sq_row) == 1
    assert from_wkb([sq_row.geometry.iloc[0]]).area()[0] == \
        pytest.approx(100.0)
    if n_flat > 1:
        assert bytes(sq_row.geometry.iloc[0]) == bytes(want)


# --------------------------------------- intersection tiers and routing
def test_overlay_concave_split_is_multipart(spark):
    # Spark end-to-end: concave U x rect -> valid 2-part result, exact area
    df1 = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "aid": [0],
        "geometry_wkt": ["POLYGON ((0 0, 9 0, 9 6, 6 6, 6 2, 3 2, 3 6, "
                         "0 6, 0 0))"]})))
    df2 = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "bid": [0],
        "geometry_wkt": [sq(-1, 3, 12)]})))  # y in [3, 15): cuts the U
    out = clean_overlay(df1, df2, "intersection",
                        id1="aid", id2="bid").toPandas()
    assert len(out) == 1
    ga = from_wkb(list(out.geometry))
    assert ga.area()[0] == pytest.approx(18.0)
    assert int(ga.num_parts()[0]) == 2  # two disconnected prongs
    # each piece is a simple ring (no repeated vertices)
    for r in ga.rings_of_geom(0):
        assert not ring_has_repeats(r)


def test_overlay_intersection_huge_bbox(spark):
    # one country-sized polygon (cover would be ~10^8 cells at gridsize 5)
    # x a small layer: must route through the broadcast branch and still
    # produce the exact intersection
    df1 = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "aid": [0],
        "geometry_wkt": [sq(-50000, -50000, 100000)]})))
    df2 = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "bid": [0, 1],
        "geometry_wkt": [sq(0, 0, 10), sq(70000, 0, 10)]})))
    out = clean_overlay(df1, df2, "intersection", id1="aid", id2="bid",
                        gridsize=5.0).toPandas()
    # only b0 overlaps; b1 is outside the big square
    assert len(out) == 1
    assert from_wkb(list(out.geometry)).area()[0] == pytest.approx(100.0)


def test_overlay_convex_nonrect_tier(spark):
    """Octagon x hexagon layers exercise the batched convex x convex
    half-plane tier; differential oracle = the scalar polygon_boolean on
    the same WKB pairs."""
    import itertools
    from sgspark.geom.wkb import from_wkb as _fw

    def ngon_wkt(cx, cy, r, n, rot):
        pts = [(cx + r * np.cos(rot + 2 * np.pi * i / n),
                cy + r * np.sin(rot + 2 * np.pi * i / n)) for i in range(n)]
        pts.append(pts[0])
        return "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}"
                                        for x, y in pts) + "))"

    a_rows = [(i, ngon_wkt(i * 7.0, 0.0, 5.0, 8, 0.1)) for i in range(6)]
    b_rows = [(j, ngon_wkt(j * 7.0 + 3.0, 1.5, 4.0, 6, 0.4))
              for j in range(6)]
    df1 = wkt_to_wkb_df(spark.createDataFrame(
        pd.DataFrame(a_rows, columns=["aid", "geometry_wkt"])))
    df2 = wkt_to_wkb_df(spark.createDataFrame(
        pd.DataFrame(b_rows, columns=["bid", "geometry_wkt"])))
    out = clean_overlay(df1, df2, "intersection", id1="aid", id2="bid",
                        gridsize=10.0).toPandas()
    got = {(r.aid, r.bid): from_wkb([r.geometry]).area()[0]
           for r in out.itertuples()}
    # scalar differential oracle over every pair
    ga = _fw([r[1] for r in
              wkt_to_wkb_df(spark.createDataFrame(
                  pd.DataFrame(a_rows, columns=["aid", "geometry_wkt"])))
              .orderBy("aid").select("aid", "geometry").collect()])
    gb = _fw([r[1] for r in
              wkt_to_wkb_df(spark.createDataFrame(
                  pd.DataFrame(b_rows, columns=["bid", "geometry_wkt"])))
              .orderBy("bid").select("bid", "geometry").collect()])
    from sgspark.geom.clip import ring_area as _ra
    n_hits = 0
    for i, j in itertools.product(range(6), range(6)):
        pa = [ga.coords[ga.ring_offsets[k]:ga.ring_offsets[k + 1]]
              for k in range(ga.part_offsets[ga.geom_offsets[i]],
                             ga.part_offsets[ga.geom_offsets[i] + 1])]
        pb = [gb.coords[gb.ring_offsets[k]:gb.ring_offsets[k + 1]]
              for k in range(gb.part_offsets[gb.geom_offsets[j]],
                             gb.part_offsets[gb.geom_offsets[j] + 1])]
        res = polygon_boolean([pa], [pb], "intersection")
        area = sum(_ra(r[0]) for r in res)
        if area > 1e-9:
            n_hits += 1
            assert (i, j) in got, (i, j)
            assert got[(i, j)] == pytest.approx(area, rel=1e-9)
    assert n_hits == len(got) and n_hits > 0


# -------------------------------------- boolean kernels under the erase
def test_difference_hole_not_resurrected():
    A = [[rect(0, 0, 10, 10)]]
    P1 = [rect(0, 0, 6, 10)]
    hole = rect(5, 4, 7, 6)[::-1]  # CW
    P2 = [rect(4, 0, 10, 10), hole]
    res = polygon_boolean(A, [P1, P2], "difference")
    # only the part of the hole NOT already erased by P1 comes back
    assert total_area(res) == pytest.approx(2.0, abs=1e-6)
    # single hole-bearing subtrahend still correct
    res2 = polygon_boolean(A, [P2], "difference")
    assert total_area(res2) == pytest.approx(100 - 60 + 4, abs=1e-6)


def test_difference_part_nested_in_hole_is_noop():
    bbox = [np.array([[-51., -51.], [556, -51], [556, 556], [-51, 556],
                      [-51, -51]])]
    frame = [np.array([[-50., -50.], [555, -50], [555, 555], [-50, 555],
                       [-50, -50]]),
             np.array([[-0.5, -0.5], [504.5, -0.5], [504.5, 504.5],
                       [-0.5, 504.5], [-0.5, -0.5]])]
    tile = [np.array([[0., 0.], [100, 0], [100, 100], [0, 100], [0, 0]])]
    res = polygon_boolean([bbox], [frame, tile], "difference")
    tot = sum(_part_area(p) for p in res)
    assert tot == (607 * 607 - 605 * 605) + (505 * 505 - 100 * 100)


def test_union_gap_fills_hole_rim_exact():
    """A gap polygon whose exterior IS the partner's hole rim (with its own
    tile holes) must merge exactly: union holes = the tiles."""
    H = np.array([[-0.5, -0.5], [504.5, -0.5], [504.5, 504.5],
                  [-0.5, 504.5], [-0.5, -0.5]])
    frame = [np.array([[-50., -50.], [555, -50], [555, 555], [-50, 555],
                       [-50, -50]]), H]
    t0 = np.array([[0., 0.], [100, 0], [100, 100], [0, 100], [0, 0]])
    t1 = np.array([[101., 0.], [201, 0], [201, 100], [101, 100], [101, 0]])
    gap = [H, t0[::-1], t1[::-1]]
    res = union_many([frame, gap])
    assert len(res) == 1
    assert _part_area(res[0]) == 111000 + (505 * 505 - 20000)
    assert len(res[0]) == 3  # shell + the two tile holes, exactly
