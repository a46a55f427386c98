"""Deterministic synthesis of the interleaved text+media documents table.

BASELINE.json `input_hint` mandates the input shape
  (doc_id: string, spans: array<struct<kind:string, text:string,
                                       media_ref:string, offset:int32>>)
and this module synthesizes it at any scale, fully distributed
(`spark.range(n)` + Arrow-batched generator) and order-independent: every
value derives from splitmix64(counter) keyed by (seed, doc_index, field) —
no sequential RNG state, so the same doc gets the same spans regardless of
partitioning.  Mirrors FIXTURES.md §F1 with one amendment: the FIRST media
span of every doc is a POINT whose integer coordinates come from a linear-
congruential formula in the doc index

    px = 254000  + (i * 7919  + 13) % 20000
    py = 6644000 + (i * 104729 + 7) % 18000

so a SQL oracle (DuckDB) can recompute the geometry without parsing WKT —
the parity hook for the driver's correctness gate.  Remaining media spans
follow the 70/20/10 point/polygon/line mix (plus 1%% opaque "img:" refs).

Zone layer (FIXTURES.md §F2, amended): axis-aligned SQUARES instead of
discretized circles, again for exact SQL parity:

    cx = 254000 + (k * 12007 + 11) % 20000
    cy = 6644000 + (k * 52361 +  3) % 18000
    r  = 200.5 + (k * 37) % 1800        (half-integer => integer points are
                                         never ON a zone boundary)

Reference geometry fixtures being replaced: random buffered points
(`/root/reference/tests/test_overlay.py:20-26`, `tests/test_sfilter.py:87-94`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from .geom.buffer import point_buffer
from .geom.wkb import to_wkt

SEED = 42
X0, XSPAN = 254_000, 20_000
Y0, YSPAN = 6_644_000, 18_000

DOC_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("doc_index", LongType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    x += np.uint64(0x9E3779B97F4A7C15)
    z = x
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def h(i: np.ndarray, field: int, seed: int = SEED) -> np.ndarray:
    """Deterministic uint64 hash of (seed, doc_index, field)."""
    seed_mix = (seed * 0x51_7C_C1_B7_27_22_0A_95) % (1 << 64)  # python-int wraparound
    base = np.asarray(i, dtype=np.uint64) * np.uint64(1_000_003) \
        + np.uint64((field + seed_mix) % (1 << 64))
    return _splitmix64(base)


def first_point_xy(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The oracle-parity point of doc i (pure integer arithmetic)."""
    i = np.asarray(i, dtype=np.int64)
    px = X0 + (i * 7919 + 13) % XSPAN
    py = Y0 + (i * 104729 + 7) % YSPAN
    return px, py


# SQL twins (ANSI, runs identically in DuckDB and Spark SQL) -------------- #
FIRST_POINT_X_SQL = "(254000 + (({i}) * 7919 + 13) % 20000)"
FIRST_POINT_Y_SQL = "(6644000 + (({i}) * 104729 + 7) % 18000)"
ZONE_CX_SQL = "(254000 + (({k}) * 12007 + 11) % 20000)"
ZONE_CY_SQL = "(6644000 + (({k}) * 52361 + 3) % 18000)"
ZONE_R_SQL = "(200.5 + (({k}) * 37) % 1800)"


def zone_params(k: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    k = np.asarray(k, dtype=np.int64)
    cx = (X0 + (k * 12007 + 11) % XSPAN).astype(np.float64)
    cy = (Y0 + (k * 52361 + 3) % YSPAN).astype(np.float64)
    r = 200.5 + (k * 37) % 1800
    return cx, cy, r.astype(np.float64)


# ------------------------------------------------------------------------ #
# documents
# ------------------------------------------------------------------------ #
_LOREM = np.array(["lorem", "ipsum", "dolor", "sit", "amet", "consectetur",
                   "adipiscing", "elit", "sed", "eiusmod", "tempor",
                   "incididunt", "labore", "dolore", "magna", "aliqua"])


def gen_documents_pdf(idx: np.ndarray) -> pd.DataFrame:
    """Generate the documents rows for doc indices `idx`.

    All randomness is computed BATCH-vectorized (splitmix64 over
    (doc, position) matrices); only the final ragged span assembly is a
    tight python loop over precomputed strings — ~10x faster than a naive
    per-row generator, which matters because bench warmup synthesizes
    millions of docs."""
    idx = np.asarray(idx, dtype=np.int64)
    n = len(idx)
    max_spans = 7
    n_spans = 2 + (h(idx, 1) % np.uint64(6)).astype(np.int64)  # 2..7

    # vectorized per-(doc, pos) draws
    word_i = np.empty((n, max_spans), dtype=np.int64)
    nwords = np.empty((n, max_spans), dtype=np.int64)
    hv = np.empty((n, max_spans), dtype=np.int64)
    hx = np.empty((n, max_spans), dtype=np.int64)
    hy = np.empty((n, max_spans), dtype=np.int64)
    rad = np.empty((n, max_spans), dtype=np.int64)
    d1x = np.empty((n, max_spans), dtype=np.int64)
    d1y = np.empty((n, max_spans), dtype=np.int64)
    d2x = np.empty((n, max_spans), dtype=np.int64)
    d2y = np.empty((n, max_spans), dtype=np.int64)
    blob = np.empty((n, max_spans), dtype=np.uint64)
    for pos in range(max_spans):
        word_i[:, pos] = (h(idx, 100 + pos) % np.uint64(16)).astype(np.int64)
        nwords[:, pos] = 1 + (h(idx, 200 + pos) % np.uint64(5)).astype(np.int64)
        hv[:, pos] = (h(idx, 300 + pos) % np.uint64(100)).astype(np.int64)
        hx[:, pos] = (h(idx, 400 + pos) % np.uint64(XSPAN)).astype(np.int64)
        hy[:, pos] = (h(idx, 500 + pos) % np.uint64(YSPAN)).astype(np.int64)
        rad[:, pos] = (h(idx, 600 + pos) % np.uint64(451)).astype(np.int64)
        d1x[:, pos] = (h(idx, 700 + pos) % np.uint64(1001)).astype(np.int64) - 500
        d1y[:, pos] = (h(idx, 710 + pos) % np.uint64(1001)).astype(np.int64) - 500
        d2x[:, pos] = (h(idx, 720 + pos) % np.uint64(1001)).astype(np.int64) - 500
        d2y[:, pos] = (h(idx, 730 + pos) % np.uint64(1001)).astype(np.int64) - 500
        blob[:, pos] = h(idx, 800 + pos)
    fx, fy = first_point_xy(idx)
    lorem = [str(w) for w in _LOREM]

    rows_spans: list[list[dict]] = []
    for j in range(n):
        ns = int(n_spans[j])
        spans = []
        offset = 0
        media_seen = 0
        for pos in range(ns):
            if pos % 2 == 0:
                text = " ".join([lorem[word_i[j, pos]]] * int(nwords[j, pos]))
                spans.append({"kind": "text", "text": text, "media_ref": "",
                              "offset": offset})
                offset += len(text)
            else:
                media_seen += 1
                if media_seen == 1:
                    ref = f"geo:POINT ({fx[j]} {fy[j]})"
                else:
                    v = hv[j, pos]
                    x = X0 + hx[j, pos]
                    y = Y0 + hy[j, pos]
                    if v < 70:
                        ref = f"geo:POINT ({x} {y})"
                    elif v < 90:
                        r = 50.0 + rad[j, pos]
                        ga = point_buffer(np.array([[float(x), float(y)]]),
                                          r, quad_segs=8)
                        ref = "geo:" + to_wkt(ga)[0]
                    elif v < 99:
                        ref = (f"geo:LINESTRING ({x} {y}, "
                               f"{x + d1x[j, pos]} {y + d1y[j, pos]}, "
                               f"{x + d1x[j, pos] + d2x[j, pos]} "
                               f"{y + d1y[j, pos] + d2y[j, pos]})")
                    else:
                        ref = f"img:blob{int(blob[j, pos])}"
                spans.append({"kind": "media", "text": "", "media_ref": ref,
                              "offset": offset})
                offset += 1
        rows_spans.append(spans)
    return pd.DataFrame({
        "doc_id": [f"doc{int(i):08d}" for i in idx],
        "doc_index": idx,
        "spans": rows_spans,
    })


def synth_documents(spark: SparkSession, n: int, partitions: int | None = None
                    ) -> DataFrame:
    """Distributed, order-independent synthesis of n interleaved documents."""
    if partitions is None:
        partitions = max(int(spark.sparkContext.defaultParallelism), 4)
    rng = spark.range(0, n, 1, partitions)

    def gen(batches):
        for pdf in batches:
            yield gen_documents_pdf(pdf["id"].to_numpy())

    return rng.mapInPandas(gen, schema=DOC_SCHEMA)


def documents_with_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's flat documents table re-expressed as the interleaved
    spans table of BASELINE.json input_hint: spans derive deterministically
    from doc_id (same generator as synth_documents), so a SQL oracle can
    recompute any geometry without parsing WKT."""
    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def gen(batches):
        for pdf in batches:
            yield gen_documents_pdf(pdf["doc_id"].to_numpy())

    # single-file parquet reads land in ONE partition — rebalance so span
    # synthesis / extraction parallelize (scaling-critical).  Width = the
    # core count, not 2x: each Python-kernel task carries a fixed runner
    # round-trip (~10-15ms serialized, measured round 7), so fewer,
    # larger tasks win at every scale (guide §2.2)
    par = max(int(spark.sparkContext.defaultParallelism), 8)
    return flat.select("doc_id").repartition(par).mapInPandas(
        gen, schema=DOC_SCHEMA)


def zones_from_customer(spark: SparkSession, sf_dir: str,
                        shape: str | None = None) -> DataFrame:
    """Zone layer derived from the customer table (key = c_custkey), same
    formulas as synth_zones so the SQL oracle twin applies.  `shape`:
    None (env-driven: SGSPARK_NGON_ZONES=n / SGSPARK_CONCAVE_ZONES=1,
    default squares), "square", "lshape", or "ngon<N>"."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    import os
    if shape is None:
        ngon = int(os.environ.get("SGSPARK_NGON_ZONES", "0"))
        lsh = os.environ.get("SGSPARK_CONCAVE_ZONES") == "1"
    else:
        ngon = int(shape[4:]) if shape.startswith("ngon") else 0
        lsh = shape == "lshape"
    if ngon:
        def shape_fn(a, b, c):
            return zone_ngon_wkt(a, b, c, ngon)
    elif lsh:
        shape_fn = zone_lshape_wkt
    else:
        shape_fn = zone_square_wkt

    def gen(batches):
        for pdf in batches:
            k = pdf["c_custkey"].to_numpy().astype(np.int64)
            cx, cy, r = zone_params(k)
            yield pd.DataFrame({
                "zone_id": k, "cx": cx, "cy": cy, "r": r,
                "geometry_wkt": [shape_fn(a, b, c)
                                 for a, b, c in zip(cx, cy, r)]})

    par = max(int(spark.sparkContext.defaultParallelism), 8)
    return cust.select("c_custkey").repartition(par).mapInPandas(
        gen, schema="zone_id long, cx double, cy double, r double, "
                    "geometry_wkt string")


# ------------------------------------------------------------------------ #
# zones
# ------------------------------------------------------------------------ #
def zone_square_wkt(cx: float, cy: float, r: float) -> str:
    x0, x1, y0, y1 = cx - r, cx + r, cy - r, cy + r
    def f(v):
        return str(int(v)) if v == int(v) else repr(v)
    return (f"POLYGON (({f(x0)} {f(y0)}, {f(x1)} {f(y0)}, {f(x1)} {f(y1)}, "
            f"{f(x0)} {f(y1)}, {f(x0)} {f(y0)}))")


def zone_lshape_wkt(cx: float, cy: float, r: float) -> str:
    """Concave L-shaped zone on the same (cx, cy, r) footprint: the square
    minus its upper-right quadrant — 6 vertices, one reflex corner.  Used
    by the general-geometry bench variant so the ray-cast PIP (not the
    rectangle fast path) carries the join."""
    x0, x1, y0, y1 = cx - r, cx + r, cy - r, cy + r

    def f(v):
        return str(int(v)) if v == int(v) else repr(v)
    return (f"POLYGON (({f(x0)} {f(y0)}, {f(x1)} {f(y0)}, {f(x1)} {f(cy)}, "
            f"{f(cx)} {f(cy)}, {f(cx)} {f(y1)}, {f(x0)} {f(y1)}, "
            f"{f(x0)} {f(y0)}))")


def zone_ngon_wkt(cx: float, cy: float, r: float, n: int = 64) -> str:
    """High-vertex star-ngon zone on the (cx, cy, r) footprint: n vertices
    alternating between radius r and 0.72r — concave (every other vertex
    reflex) AND far above the 32-edge unroll tier.  Exercises the banded
    PIP refine of the distributed point x polygon route (`points_dist`) in
    the scaling bench (SGSPARK_NGON_ZONES=n) and perfbench's ngon join."""
    import math
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        rr = r if i % 2 == 0 else 0.72 * r
        pts.append(f"{cx + rr * math.cos(a)!r} {cy + rr * math.sin(a)!r}")
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(pts) + "))"


def synth_zones(spark: SparkSession, m: int) -> DataFrame:
    """Zone layer as a DataFrame with both WKT geometry and the numeric
    (cx, cy, r) twin columns the SQL oracle uses."""
    def gen(batches):
        for pdf in batches:
            k = pdf["id"].to_numpy()
            cx, cy, r = zone_params(k)
            yield pd.DataFrame({
                "zone_id": k,
                "zone_name": [f"zone_{int(v)}" for v in k],
                "category": [chr(ord("a") + int(v) % 4) for v in k],
                "cx": cx, "cy": cy, "r": r,
                "geometry_wkt": [zone_square_wkt(a, b, c)
                                 for a, b, c in zip(cx, cy, r)],
            })

    schema = ("zone_id long, zone_name string, category string, "
              "cx double, cy double, r double, geometry_wkt string")
    return spark.range(0, m, 1, max(m // 5000, 1)).mapInPandas(gen, schema=schema)
