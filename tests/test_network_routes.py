"""The driver-side shortest-path / OD route equals the distributed one.

`shortest_paths` solves a graph of at most SGSPARK_LOCAL_GRAPH_EDGES edges
on the driver; `SGSPARK_LOCAL_GRAPH_EDGES=0` forces the distributed route.
Both must return the same schema and the same rows, also for non-string
node ids and for NULL keys.
"""

import logging
import os

import pandas as pd
import pytest
from pyspark.sql.types import LongType


@pytest.fixture(params=["true", "false"], ids=["ansi", "non_ansi"])
def ansi(spark, request):
    """Both coercion modes: without ANSI, a union of a long and a string
    NULL column is a string column."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield
    spark.conf.set(key, old)


def _both_routes(fn):
    """fn() on the driver route, then on the distributed route."""
    local = fn()
    os.environ["SGSPARK_LOCAL_GRAPH_EDGES"] = "0"
    try:
        dist = fn()
    finally:
        del os.environ["SGSPARK_LOCAL_GRAPH_EDGES"]
    return local, dist


def _rows(df):
    return sorted(map(tuple, df.collect()),
                  key=lambda r: tuple((v is None, v) for v in r))


def _int_graph(spark):
    # chain 1-2-3-4 + shortcut 1-4 and an island 9-10, int64 node ids
    edges = spark.createDataFrame(pd.DataFrame(
        {"source": [1, 2, 3, 1, 9], "target": [2, 3, 4, 4, 10],
         "length": [1.0, 2.0, 1.0, 5.0, 1.0]}))
    origins = spark.createDataFrame(pd.DataFrame(
        {"oid": ["a", "a", "b"], "node": [1, 9, 2]}))
    return edges, origins


def test_int_node_ids_same_schema_and_rows(spark, ansi):
    from sgspark.network import get_route, shortest_paths
    edges, origins = _int_graph(spark)
    local, dist = _both_routes(lambda: shortest_paths(edges, origins))
    assert local.schema == dist.schema
    assert local.schema["pred"].dataType == LongType()
    assert _rows(local) == _rows(dist)
    assert ("a", 4, 4.0, 3) in _rows(local)

    dests = spark.createDataFrame(pd.DataFrame({"did": [7], "node": [4]}))
    routes = _both_routes(lambda: get_route(edges, origins, dests))
    assert _rows(routes[0]) == _rows(routes[1])


def test_penalised_route_keeps_node_type(spark, ansi):
    from sgspark.network import shortest_paths
    edges, origins = _int_graph(spark)
    pen = spark.createDataFrame(pd.DataFrame(
        {"oid": ["a"], "pu": [1], "pv": [4], "mult": [0.1]}))
    out = shortest_paths(edges, origins, penalties=pen)
    assert out.schema["pred"].dataType == LongType()
    assert ("a", 4, 0.5, 1) in _rows(out)


def test_od_matrix_null_keys_match_distributed(spark):
    from sgspark.network import od_cost_matrix
    edges = spark.createDataFrame(pd.DataFrame(
        {"source": ["1", "2", "3"], "target": ["2", "3", "4"],
         "length": [1.0, 2.0, 1.0]}))
    origins = spark.createDataFrame(pd.DataFrame(
        {"oid": ["a", None, "c"], "node": ["1", "2", None]}))
    dests = spark.createDataFrame(pd.DataFrame(
        {"did": ["x", None, "z", "w"], "node": ["4", "3", None, "2"]}))
    local, dist = _both_routes(
        lambda: od_cost_matrix(edges, origins, dests))
    assert local.schema == dist.schema
    assert _rows(local) == _rows(dist)
    costs = {(r[0], r[1]): r[2] for r in _rows(local)}
    assert costs[("a", "x")] == 4.0 and costs[("a", "z")] is None


def test_origin_edge_cap_falls_back_on_multigraph(spark, monkeypatch,
                                                   caplog):
    """|origins| x |edges| over the driver cap (|origins| x |nodes| under
    it) sends a parallel-edge multigraph to the distributed route, with
    the driver route's rows and schema."""
    from sgspark import network
    caplog.set_level(logging.INFO, logger="sgspark.route")

    def route():
        recs = [r for r in caplog.records if r.name == "sgspark.route"]
        caplog.clear()
        assert len(recs) == 1
        return recs[0]

    edges = spark.createDataFrame(pd.DataFrame(
        {"source": ["1", "1", "2", "2", "3", "1"],
         "target": ["2", "2", "3", "3", "4", "4"],
         "length": [1.0, 0.5, 2.0, 2.0, 1.0, 5.0]}))
    origins = spark.createDataFrame(pd.DataFrame(
        {"oid": ["a", "b"], "node": ["1", "3"]}))
    local = network.shortest_paths(edges, origins)
    assert route().route == "driver"

    # 2 origins x 4 nodes = 8 cells fit; 2 x 12 directed edges do not
    monkeypatch.setattr(network, "_LOCAL_ORIGIN_CELLS", 10)
    capped = network.shortest_paths(edges, origins)
    rec = route()
    assert rec.route == "shortcuts"
    assert "origins x max(nodes, edges)" in rec.reasons[0]
    assert capped.schema == local.schema
    assert _rows(capped) == _rows(local)
    assert ("a", "2", 0.5, "1") in _rows(local)


def test_bounded_probes_leave_session_conf_alone(spark, monkeypatch):
    """The driver route's bounded collects change no session conf, which
    a concurrent query would see, and still run one job each."""
    from pyspark.sql.conf import RuntimeConfig
    from sgspark.network import _bounded_rows, od_cost_matrix

    def refuse(self, key, value):
        raise AssertionError(f"session conf set: {key}={value}")

    edges, origins = _int_graph(spark)
    dests = spark.createDataFrame(pd.DataFrame({"did": [7], "node": [4]}))
    monkeypatch.setattr(RuntimeConfig, "set", refuse)
    costs = {(r[0], r[1]): r[2]
             for r in od_cost_matrix(edges, origins, dests).collect()}
    assert costs == {("a", 7): 4.0, ("b", 7): 3.0}

    sc = spark.sparkContext
    sc.setJobGroup("bounded_rows", "one job")
    try:
        rows = _bounded_rows(spark.range(0, 100, numPartitions=8), 1000)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 100
    assert len(sc.statusTracker().getJobIdsForGroup("bounded_rows")) == 1


def _edges(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "target", "length"]))


def test_local_bf_equals_distributed(spark):
    # chain 1-2-3-4 + shortcut 1-4, isolated island 9-10, dangling dest 99
    rows = [("1", "2", 1.0), ("2", "3", 2.0), ("3", "4", 1.0),
            ("1", "4", 5.0), ("9", "10", 1.0)]
    e = _edges(spark, rows)
    orig = spark.createDataFrame(
        pd.DataFrame({"oid": ["a", "a", "b"],       # duplicate oid = multi
                      "node": ["1", "9", "2"]}))    # source origin "a"
    dests = spark.createDataFrame(
        pd.DataFrame({"did": [1, 2, 2, 3, 99],      # duplicate did rows
                      "node": ["4", "10", "10", "3", "nope"]}))
    from sgspark.network import od_cost_matrix
    a, b = _both_routes(lambda: sorted(map(tuple, od_cost_matrix(
        e, orig, dests).collect())))
    assert a == b
    # sanity: multi-node origin "a" reaches both components
    costs = {(r[0], r[1]): r[2] for r in a}
    assert costs[("a", 1)] == 4.0 and costs[("a", 2)] == 1.0
    assert costs[("b", 3)] == 2.0 and costs[("b", 99)] is None


def test_local_bf_pred_matches_distributed_routes(spark):
    # parallel tie paths exercise the phase-3 min-pred rule
    rows = [("1", "2", 1.0), ("1", "3", 1.0), ("2", "4", 1.0),
            ("3", "4", 1.0), ("4", "5", 1.0)]
    e = _edges(spark, rows)
    orig = spark.createDataFrame(pd.DataFrame({"oid": ["o"], "node": ["1"]}))
    dest = spark.createDataFrame(pd.DataFrame({"did": ["d"], "node": ["5"]}))
    from sgspark.network import get_route
    a, b = _both_routes(lambda: sorted(map(tuple, get_route(
        e, orig, dest).collect())))
    assert a == b and len(a) == 3  # 1->2->4->5 (pred tie broken to "2")
