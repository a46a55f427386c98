"""kNN join, dissolve family, connected-component clustering.

Oracles: brute-force numpy kNN (the reference's own kernel shape,
neighbors.py:455-488), analytic union areas, local connected components.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sgspark import synth
from sgspark.clusters import connected_components, get_cluster_mapper
from sgspark.dissolve import buff, diss, dissexp, dissexp_by_cluster, explode_parts
from sgspark.io import wkt_to_wkb_df
from sgspark.knn import get_k_nearest_neighbors, k_nearest_neighbors
from sgspark.geom import from_wkb


def _point_layers(spark, n_left=120, n_right=80):
    i = np.arange(n_left, dtype=np.int64)
    lx, ly = synth.first_point_xy(i)
    j = np.arange(n_right, dtype=np.int64)
    rx = 254_000 + (j * 104_729 + 99) % 20_000
    ry = 6_644_000 + (j * 7919 + 5) % 18_000
    left = spark.createDataFrame(pd.DataFrame(
        {"pid": i, "x": lx.astype(float), "y": ly.astype(float)}))
    right = spark.createDataFrame(pd.DataFrame(
        {"rid": j, "x": rx.astype(float), "y": ry.astype(float)}))
    return left, right, np.stack([lx, ly], 1).astype(float), \
        np.stack([rx, ry], 1).astype(float)


@pytest.mark.parametrize("k", [1, 3, 7])
def test_knn_matches_bruteforce(spark, k):
    left, right, lxy, rxy = _point_layers(spark)
    got = get_k_nearest_neighbors(left, right, k, left_id="pid",
                                  right_id="rid").toPandas()
    dists, idx = k_nearest_neighbors(lxy, rxy, k)
    assert len(got) == len(lxy) * k
    g = got.sort_values(["pid", "k"])
    for row_i in range(len(lxy)):
        sub = g[g.pid == row_i]
        assert sub.k.tolist() == list(range(1, k + 1))
        assert np.allclose(sub.distance.to_numpy(), dists[row_i], atol=1e-9)
        # ids may differ only on exact distance ties
        want_ids = idx[row_i]
        same = sub.neighbor_index.to_numpy() == want_ids
        if not same.all():
            assert np.allclose(sub.distance.to_numpy(), dists[row_i])


def test_knn_k_larger_than_right(spark):
    left, right, lxy, rxy = _point_layers(spark, n_left=10, n_right=4)
    got = get_k_nearest_neighbors(left, right, 9, left_id="pid",
                                  right_id="rid").toPandas()
    assert len(got) == 10 * 4  # capped at |right| like strict=False


def test_diss_union_area(spark):
    # two overlapping unit squares + one disjoint square, one group
    wkts = ["POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON ((5.5 0, 15.5 0, 15.5 10, 5.5 10, 5.5 0))",
            "POLYGON ((100 100, 110 100, 110 110, 100 110, 100 100))"]
    df = spark.createDataFrame(pd.DataFrame(
        {"gid": [0, 1, 2], "cat": ["a", "a", "a"], "geometry_wkt": wkts}))
    g = wkt_to_wkb_df(df)
    out = diss(g, ["cat"]).toPandas()
    assert len(out) == 1
    ga = from_wkb(list(out.geometry))
    # union area: 10x10 + 10x10 - 4.5x10 overlap + 100 disjoint
    assert ga.area()[0] == pytest.approx(100 + 100 - 45 + 100)
    assert ga.num_parts()[0] == 2  # merged pair + disjoint square
    exploded = dissexp(g, ["cat"]).toPandas()
    assert len(exploded) == 2


def test_diss_aggfuncs_and_no_by(spark):
    wkts = ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"]
    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame(
        {"gid": [0, 1], "v": [3.0, 7.0], "geometry_wkt": wkts})))
    out = diss(df, None, aggfunc="sum").toPandas()
    assert len(out) == 1
    assert out.v.iloc[0] == 10.0


def test_buff_points_area(spark):
    pts = spark.createDataFrame(pd.DataFrame({"pid": [0], "x": [1000.0],
                                              "y": [1000.0]}))
    from sgspark.geom import points as mk, to_wkb
    pdf = pts.toPandas()
    ga = mk(np.stack([pdf.x, pdf.y], 1))
    pdf["geometry"] = to_wkb(ga)
    g = spark.createDataFrame(pdf)
    out = buff(g, 100.0, quad_segs=30).toPandas()
    area = from_wkb(list(out.geometry)).area()[0]
    # inscribed 120-gon area = pi*r^2 * sinc factor
    m = 120
    want = 0.5 * m * np.sin(2 * np.pi / m) * 100.0 ** 2
    assert area == pytest.approx(want, rel=1e-9)


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(pd.DataFrame(
        {"src": [0, 1, 5, 6], "dst": [1, 2, 6, 7]}))
    verts = spark.createDataFrame(pd.DataFrame({"id": [0, 1, 2, 5, 6, 7, 9]}))
    got = connected_components(edges, verts).toPandas().sort_values("id")
    assert got.cluster.tolist() == [0, 0, 0, 5, 5, 5, 9]


def test_cluster_mapper_and_by_cluster_dissolve(spark, zones50):
    zones = wkt_to_wkb_df(zones50)
    mapper = get_cluster_mapper(zones, id_col="zone_id", gridsize=1500.0) \
        .toPandas().sort_values("zone_id")
    # local oracle: CC over bbox-overlap pairs of the squares
    z = zones50.toPandas().sort_values("zone_id")
    k = z.zone_id.to_numpy()
    cx, cy, r = synth.zone_params(k)
    n = len(k)
    adj = (np.abs(cx[:, None] - cx[None, :]) <= (r[:, None] + r[None, :])) & \
          (np.abs(cy[:, None] - cy[None, :]) <= (r[:, None] + r[None, :]))
    # union-find
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a in range(n):
        for b in range(a + 1, n):
            if adj[a, b]:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = [find(a) for a in range(n)]
    got = mapper.cluster.to_numpy()
    # same partition (labels = min member id on both sides)
    assert got.tolist() == [int(k[w]) for w in want]
    # by-cluster dissolve == plain dissolve (reference
    # tests/test_xbuffdissexp.py:72-75), compared on exploded areas
    plain = dissexp(zones.select("zone_id", "geometry", "minx", "miny",
                                 "maxx", "maxy")).toPandas()
    byc = dissexp_by_cluster(zones.select("zone_id", "geometry", "minx",
                                          "miny", "maxx", "maxy"),
                             id_col="zone_id", gridsize=1500.0).toPandas()
    a1 = np.sort(from_wkb(list(plain.geometry)).area())
    a2 = np.sort(from_wkb(list(byc.geometry)).area())
    assert len(a1) == len(a2)
    assert np.allclose(a1, a2, rtol=1e-9)


def test_knn_checkpoint_invariance(spark):
    # results identical across gridsizes (forces multi-round ring
    # expansion through the checkpointed top-k)
    rng = np.random.RandomState(7)
    lp = pd.DataFrame({"lid": np.arange(50),
                       "x": rng.uniform(0, 100, 50),
                       "y": rng.uniform(0, 100, 50)})
    rp = pd.DataFrame({"rid": np.arange(20),
                       "x": rng.uniform(0, 100, 20),
                       "y": rng.uniform(0, 100, 20)})
    l = spark.createDataFrame(lp)
    r = spark.createDataFrame(rp)
    a = sorted(map(tuple, get_k_nearest_neighbors(
        l, r, 3, left_id="lid", right_id="rid", gridsize=5.0).collect()))
    b = sorted(map(tuple, get_k_nearest_neighbors(
        l, r, 3, left_id="lid", right_id="rid", gridsize=80.0).collect()))
    assert a == b


# ------------------------------------------- connected components chain
# pointer jumping converges on a long chain in O(log n) rounds and raises
# (not silently splits) on exhaustion
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
