"""The benchmark workloads: set-up and the layer calls of one pass.

A pass is a list of steps.  Each step is one call into a public function
of an `sgspark` layer followed by the action that materializes its output
at the layer boundary; the pair is timed as one call.  Each step returns a
result that the run compares with the reference answer of `inputs`.

  pip_tile   : the north-rule pipeline (extract -> tile -> PIP joins) over
               seeded synthetic documents stored as parquet.
  op_latency : a round-robin of analyst-scale calls: ~2k points against
               ~180 zones (sjoin_pairs), the concave overlay and
               buffer-dissolve on the L-shape layers of the
               `__spark_entry__` gates (clean_overlay, buffdissexp) and the
               route-cost matrix on the driver-local graph
               (od_cost_matrix); traced runs also time the kNN to the zone
               centres, coverage_clean and the distributed shortest-path
               engine once each.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inputs import KEY_MULT, KNN_K, NGON_EVERY
from sgspark.geom.wkb import from_wkt, to_wkb
from sgspark.synth import first_point_xy, gen_documents_pdf, zone_ngon_wkt, \
    zone_params, zone_square_wkt

PAIR_XOR = f"coalesce(bit_xor(l * {KEY_MULT} + r), 0)"


@dataclass
class Step:
    layer: str
    name: str
    call: Callable[[], object]               # the public sgspark call
    run: Callable[[object], tuple]           # materialize -> (result, rows)


def _pair_agg(pairs: DataFrame, left: str, right: str) -> tuple:
    r = pairs.select(F.col(left).alias("l"), F.col(right).alias("r")) \
        .agg(F.count("*"), F.expr(PAIR_XOR)).first()
    return (int(r[0]), int(r[1])), int(r[0])


def _read(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the schema given, taken from the file
    footer by pyarrow: schema inference would run a Spark job per table
    before the first pass."""
    from pyspark.sql.pandas.types import from_arrow_schema
    first = os.path.join(path, sorted(os.listdir(path))[0])
    return spark.read.schema(from_arrow_schema(pq.read_schema(first))) \
        .parquet(path)


def _rows(df: DataFrame) -> tuple:
    pdf = df.toPandas()
    return pdf, len(pdf)


# ------------------------------------------------------------------------ #
# set-up: everything the passes read, written under `d` by the driver alone
# (synth generators + geometry kernels + pyarrow; no Spark job)
# ------------------------------------------------------------------------ #
SPANS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("doc_index", pa.int64()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()),
                                  ("text", pa.string()),
                                  ("media_ref", pa.string()),
                                  ("offset", pa.int32())])))])
FILES = 4  # parquet files per table: one scan task per core


def _write(table: pa.Table, path: str, files: int = FILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i}.parquet"))


def _geom_table(ids: dict, wkts: list[str], **cols) -> pa.Table:
    """ids + extra columns + WKB geometry + bbox, as `wkt_to_wkb_df` and
    `extract_geometries` lay them out."""
    ga = from_wkt(wkts)
    b = ga.bounds()
    return pa.table({**ids, **cols,
                     "geometry": pa.array(to_wkb(ga), pa.binary()),
                     "minx": b[:, 0], "miny": b[:, 1],
                     "maxx": b[:, 2], "maxy": b[:, 3]})


def _zones(zone_keys: np.ndarray, shape) -> pa.Table:
    cx, cy, r = zone_params(zone_keys)
    return _geom_table({"zone_id": zone_keys},
                       [shape(a, b, c) for a, b, c in zip(cx, cy, r)],
                       cx=cx, cy=cy, r=r)


def setup_pip_tile(keys, d: str) -> None:
    """Span documents, square zones and the ngon zone subset."""
    _write(pa.Table.from_pandas(gen_documents_pdf(keys.docs),
                                schema=SPANS_SCHEMA, preserve_index=False),
           f"{d}/spans.parquet")
    _write(_zones(keys.zones, zone_square_wkt), f"{d}/zones_square.parquet")
    _write(_zones(keys.zones[keys.zones % NGON_EVERY == 0], zone_ngon_wkt),
           f"{d}/zones_ngon.parquet")


def _lshape_wkt(k: np.ndarray, x0, y0, s, aa, bb) -> list[str]:
    """L-shapes [x0,x0+s]x[y0,y0+bb] u [x0,x0+aa]x[y0+bb,y0+s] of
    `__spark_entry__._lshape_layer_sql`, for integer arrays."""
    return [f"POLYGON (({a} {b}, {a + c} {b}, {a + c} {b + e}, "
            f"{a + f} {b + e}, {a + f} {b + c}, {a} {b + c}, {a} {b}))"
            for a, b, c, f, e in zip(x0, y0, s, aa, bb)]


def setup_op_latency(keys, d: str) -> None:
    """Doc points (the first media span of each doc), square zones and the
    inputs the `__spark_entry__` polygon and route gates build inside their
    calls: the two L-shape layers of the concave overlay (A on zone keys, B
    on supplier keys), A banded for the buffer-dissolve, the dirty coverage
    fixture on the nation keys, and the supplier road graph."""
    px, py = first_point_xy(keys.docs)
    _write(_geom_table({"doc_id": keys.docs},
                       [f"POINT ({x} {y})" for x, y in zip(px, py)],
                       x=px.astype(np.float64), y=py.astype(np.float64)),
           f"{d}/points.parquet")
    _write(_zones(keys.zones, zone_square_wkt), f"{d}/zones.parquet")

    k = keys.zones
    a_wkt = _lshape_wkt(k, (k % 40) * 100, (k // 40) * 100, 80 + (k % 5) * 4,
                        40 + (k % 3) * 8, 32 + (k % 7) * 6)
    _write(_geom_table({"aid": k}, a_wkt), f"{d}/lshape_a.parquet")
    _write(_geom_table({"band": k // 40}, a_wkt), f"{d}/lshape_bands.parquet")
    s = keys.suppliers
    _write(_geom_table({"bid": s}, _lshape_wkt(
        s, (s % 10) * 390 + 15, (s // 10) * 370 + 21, 200 + (s % 4) * 30,
        100 + (s % 3) * 20, 80 + (s % 5) * 24)), f"{d}/lshape_b.parquet")

    # the tiles and the frame + overlapper in one file each, as the gate
    # unions them: coverage_clean's frame absorbs the gap network under
    # this layout but not when all 27 rows share one partition
    t = np.arange(25)
    x, y = (t % 5) * 101, (t // 5) * 101
    tiles = [f"POLYGON (({a} {b}, {a + 100} {b}, {a + 100} {b + 100}, "
             f"{a} {b + 100}, {a} {b}))" for a, b in zip(x, y)]
    cov = f"{d}/coverage.parquet"
    _write(_geom_table({"pid": t}, tiles), cov, files=1)
    pq.write_table(_geom_table({"pid": np.array([1000, 1001])}, [
        "POLYGON ((-50 -50, 555 -50, 555 555, -50 555, -50 -50), "
        "(-0.5 -0.5, -0.5 504.5, 504.5 504.5, 504.5 -0.5, -0.5 -0.5))",
        "POLYGON ((50.5 49.5, 150.5 49.5, 150.5 149.5, 50.5 149.5, "
        "50.5 49.5))"]), f"{cov}/part-1.parquet")

    nodes = set(s.tolist())
    edges = [(u, v, c) for u in s.tolist()
             for v, c in ((u + 1, 1 + u % 7), (u + 10, 5)) if v in nodes]
    _write(pa.table({"source": [str(u) for u, _, _ in edges],
                     "target": [str(v) for _, v, _ in edges],
                     "length": [float(c) for _, _, c in edges]}),
           f"{d}/edges.parquet")
    _write(pa.table({"oid": ["o1"], "node": ["1"]}), f"{d}/origins.parquet",
           files=1)
    _write(pa.table({"did": s, "node": [str(v) for v in s.tolist()]}),
           f"{d}/dests.parquet")


SETUP = {"pip_tile": setup_pip_tile, "op_latency": setup_op_latency}


# ------------------------------------------------------------------------ #
# passes
# ------------------------------------------------------------------------ #
def pip_tile_steps(spark: SparkSession, d: str) -> list[Step]:
    from sgspark.io import extract_geometries
    from sgspark.joins import sjoin_pairs
    from sgspark.tiling import add_grid_id

    square = _read(spark, f"{d}/zones_square.parquet")
    ngon = _read(spark, f"{d}/zones_ngon.parquet")
    st: dict[str, DataFrame] = {}

    def extract():
        geo = extract_geometries(_read(spark, f"{d}/spans.parquet"))
        st["pts"] = geo.where("geom_kind = 'point' AND span_pos = 1") \
            .select("doc_index", "geometry", "minx", "miny", "maxx",
                    "maxy").cache()
        return st["pts"]

    def count_points(pts):
        r = pts.agg(F.count("*"), F.sum(F.col("minx").cast("long"))).first()
        return (int(r[0]), int(r[1])), int(r[0])

    def tile():
        xy = st["pts"].selectExpr("doc_index", "minx AS x", "miny AS y")
        return add_grid_id(xy, 1000, out_col="tile_id")

    def count_tiles(tiled):
        r = tiled.groupBy("tile_id").count() \
            .agg(F.count("*"), F.sum(F.col("count") * F.col("count"))).first()
        return (int(r[0]), int(r[1])), int(r[0])

    def join(zones, broadcast):
        return lambda: sjoin_pairs(
            st["pts"], zones, "within", left_id="doc_index",
            right_id="zone_id", broadcast_right=broadcast,
            assume_left_points=True)

    def last_pairs(p):
        out = _pair_agg(p, "doc_index", "zone_id")
        st.pop("pts").unpersist()
        return out

    return [
        Step("io", "io", extract, count_points),
        Step("tiling", "tiling", tile, count_tiles),
        Step("joins", "joins.square", join(square, True),
             lambda p: _pair_agg(p, "doc_index", "zone_id")),
        Step("joins", "joins.ngon", join(ngon, False), last_pairs),
    ]


def _areas(df: DataFrame, ids: list[str], col: str = "area",
           offset: float = 0.0) -> tuple:
    """Materialize ids + geometry: the ids with the geometry's area less
    `offset`, rounded to six decimals as the gates' oracles give it."""
    from sgspark.geom.wkb import from_wkb
    pdf = df.select(*ids, "geometry").toPandas()
    out = pdf[ids].copy()
    out[col] = 0.0
    if len(pdf):
        out[col] = (from_wkb(pdf["geometry"].tolist()).area()
                    - offset).round(6)
    return out, len(out)


# `__spark_entry__.q_buffdiss`: its oracle gives each buffered L's area
# less the arc sectors and the reflex correction
_BUFF = 1.5
_BUFF_CORR = 5 * (0.5 * _BUFF * _BUFF * float(np.sin(np.pi / 16)) * 8) \
    - _BUFF * _BUFF


def _route_costs(spark: SparkSession, d: str, local: bool):
    """`network.od_cost_matrix` from node 1 to every supplier node;
    `local=False` sets the edge cap of the driver-side graph path to 0
    (read at call time) so the distributed Bellman-Ford runs."""
    from sgspark.network import od_cost_matrix
    edges = _read(spark, f"{d}/edges.parquet")
    orig = _read(spark, f"{d}/origins.parquet")
    dests = _read(spark, f"{d}/dests.parquet")

    def call():
        old = os.environ.get("SGSPARK_LOCAL_GRAPH_EDGES")
        if not local:
            os.environ["SGSPARK_LOCAL_GRAPH_EDGES"] = "0"
        try:
            return od_cost_matrix(edges, orig, dests, max_iter=30)
        finally:
            if old is None:
                os.environ.pop("SGSPARK_LOCAL_GRAPH_EDGES", None)
            else:
                os.environ["SGSPARK_LOCAL_GRAPH_EDGES"] = old

    def run(od):
        return _rows(od.select("did", F.col("cost").cast("long")
                               .alias("cost")))
    return call, run


def _knn_agg(out: DataFrame) -> tuple:
    """count, sum of rounded squared distances, pair checksum."""
    r = out.select(
        F.col("doc_id").alias("l"), F.col("neighbor_index").alias("r"),
        F.round(F.col("distance") * F.col("distance")).cast("long")
        .alias("d2")).agg(F.count("*"), F.sum("d2"),
                          F.expr(PAIR_XOR)).first()
    return (int(r[0]), int(r[1]), int(r[2])), int(r[0])


def op_latency_steps(spark: SparkSession, d: str) -> list[Step]:
    from sgspark.dissolve import buffdissexp
    from sgspark.joins import sjoin_pairs
    from sgspark.overlay import clean_overlay

    pts = _read(spark, f"{d}/points.parquet")
    zones = _read(spark, f"{d}/zones.parquet")
    la = _read(spark, f"{d}/lshape_a.parquet")
    lb = _read(spark, f"{d}/lshape_b.parquet")
    bands = _read(spark, f"{d}/lshape_bands.parquet")
    return [
        Step("joins", "joins.sjoin",
             lambda: sjoin_pairs(pts, zones, "within", left_id="doc_id",
                                 right_id="zone_id"),
             lambda p: _pair_agg(p, "doc_id", "zone_id")),
        Step("overlay", "overlay",
             lambda: clean_overlay(la, lb, "intersection", id1="aid",
                                   id2="bid", gridsize=500.0),
             lambda out: _areas(out, ["aid", "bid"])),
        Step("dissolve", "dissolve",
             lambda: buffdissexp(bands, _BUFF, by=["band"], quad_segs=8),
             lambda out: _areas(out, ["band"], "adj_area", _BUFF_CORR)),
        Step("network", "network.local", *_route_costs(spark, d, True)),
    ]


def _traced_op_latency(spark: SparkSession, d: str) -> list[Step]:
    """The op_latency calls too slow for every pass of a one-minute run:
    the kNN (~30 jobs, several seconds per call), coverage_clean (~45
    sequential jobs) and the distributed shortest-path engine, which the
    driver-local graph path otherwise always pre-empts at benchmark
    sizes."""
    from sgspark.cleaning import coverage_clean
    from sgspark.knn import get_k_nearest_neighbors
    pts = _read(spark, f"{d}/points.parquet")
    zones = _read(spark, f"{d}/zones.parquet")
    cov = _read(spark, f"{d}/coverage.parquet")
    return [Step("knn", "knn",
                 lambda: get_k_nearest_neighbors(
                     pts.select("doc_id", "x", "y"),
                     zones.selectExpr("zone_id", "cx AS x", "cy AS y"),
                     KNN_K, left_id="doc_id", right_id="zone_id"),
                 _knn_agg),
            Step("cleaning", "cleaning",
                 lambda: coverage_clean(cov, 3.0, id_col="pid",
                                        gridsize=300.0),
                 lambda out: _areas(out, ["pid"])),
            Step("network.distributed", "network.distributed",
                 *_route_costs(spark, d, False))]


STEPS = {"pip_tile": pip_tile_steps, "op_latency": op_latency_steps}
# steps run once, after the passes, in traced runs only
TRACED_ONLY = {"pip_tile": lambda spark, d: [],
               "op_latency": _traced_op_latency}
# the unit of work whose rate `items_per_cpu_s` reports
ITEMS = {"pip_tile": "docs", "op_latency": "calls"}
# the steps that join points `within` zones through the cell join, whose
# checked pair counts `joins.hit_ratio` divides by the candidate rows
WITHIN_JOINS = {"pip_tile": ("joins.square", "joins.ngon"),
                "op_latency": ("joins.sjoin",)}


def candidate_rows(spark: SparkSession, d: str, workload: str) -> int:
    """Rows `joins.cell_candidate_pairs` yields for the workload's `within`
    joins, on the same inputs at the default grid size."""
    from sgspark.joins import DEFAULT_GRIDSIZE, cell_candidate_pairs
    if workload == "pip_tile":
        from sgspark.io import extract_geometries
        pts = extract_geometries(_read(spark, f"{d}/spans.parquet")) \
            .where("geom_kind = 'point' AND span_pos = 1") \
            .selectExpr("doc_index AS doc_id", "geometry", "minx", "miny",
                        "maxx", "maxy").cache()
        layers = [_read(spark, f"{d}/zones_square.parquet"),
                  _read(spark, f"{d}/zones_ngon.parquet")]
    else:
        pts = _read(spark, f"{d}/points.parquet")
        layers = [_read(spark, f"{d}/zones.parquet")]
    l0 = pts.selectExpr("doc_id AS __lid", "geometry AS __lg", "minx",
                        "miny", "maxx", "maxy")
    cands = 0
    for z in layers:
        r0 = z.selectExpr("zone_id AS __rid", "geometry AS __rg", "minx",
                          "miny", "maxx", "maxy")
        cands += cell_candidate_pairs(l0, r0, DEFAULT_GRIDSIZE,
                                      assume_left_points=True).count()
    pts.unpersist()
    return cands
