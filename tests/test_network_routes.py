"""The driver-side shortest-path / OD route equals the distributed one.

`shortest_paths` solves a graph of at most SGSPARK_LOCAL_GRAPH_EDGES edges
on the driver; `SGSPARK_LOCAL_GRAPH_EDGES=0` forces the distributed route.
Both must return the same schema and the same rows, also for non-string
node ids and for NULL keys.
"""

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
