"""Driver contract for the spark-graft builder (PySpark target).

Queries run the sgspark engine (cell-join spatial ops, text/dedup ops,
vector ops) against the driver's parquet tables at `sf_dir`.  Geometry for
the oracle-checked spatial queries is DERIVED deterministically from
integer keys (sgspark/synth.py formulas), so the DuckDB oracle can
recompute it with pure arithmetic — no spatial extension needed — while
the Spark side runs the real pipeline: span synthesis -> WKT parse ->
WKB kernels -> cell joins.

Exact-parity design notes (why value hashes match):
  * all point coords are integers; zone half-widths are half-integers
    (boundary ties impossible);
  * ratios/rounds only of integer-derived quantities; decimal-cast sums
    for money columns (order-free);
  * embeddings quantized to integers before dot products (float-sum order
    designed out).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

# SQL fragments shared by engine derivation and DuckDB oracle ------------- #
PX = "(254000 + (doc_id * 7919 + 13) % 20000)"
PY = "(6644000 + (doc_id * 104729 + 7) % 18000)"
ZX = "(254000 + (c_custkey * 12007 + 11) % 20000)"
ZY = "(6644000 + (c_custkey * 52361 + 3) % 18000)"
ZR = "(200.5 + (c_custkey * 37) % 1800)"
TILE = ("concat(cast(cast(floor(({x} + 2000000) / 1000) * 1000 as bigint) as "
        "string), cast(cast(floor(({y}) / 1000) * 1000 as bigint) as string))")


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the real span pipeline: flat docs -> interleaved spans ->
    extract -> first-media-span points with WKB + bbox."""
    from sgspark.synth import documents_with_spans
    from sgspark.io import extract_geometries
    docs = documents_with_spans(spark, sf_dir)
    geo = extract_geometries(docs)
    return geo.where("geom_kind = 'point' AND span_pos = 1") \
              .withColumnRenamed("doc_index", "doc_id_num")


def _zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sgspark.synth import zones_from_customer
    from sgspark.io import wkt_to_wkb_df
    return wkt_to_wkb_df(zones_from_customer(spark, sf_dir))


# ------------------------------------------------------------------------ #
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: span pipeline -> PIP sjoin vs zones -> docs per zone."""
    sf = "/root/testdata/sf0.001"
    from sgspark.joins import sjoin_pairs
    pts = _geo_points(spark, sf)
    zones = _zones(spark, sf)
    pairs = sjoin_pairs(pts, zones, "within", left_id="doc_id_num",
                        right_id="zone_id")
    return pairs.groupBy("zone_id").agg(F.count("*").alias("n_docs"))


# ------------------------------------------------------------------------ #
def q_tile_assign(spark, sf_dir):
    from sgspark.tiling import add_grid_id
    pts = _geo_points(spark, sf_dir) \
        .withColumnRenamed("minx", "x").withColumnRenamed("miny", "y")
    return (add_grid_id(pts, 1000, out_col="tile_id")
            .groupBy("tile_id").agg(F.count("*").alias("n_points")))


def q_pip_join(spark, sf_dir):
    from sgspark.joins import sjoin_pairs
    pairs = sjoin_pairs(_geo_points(spark, sf_dir), _zones(spark, sf_dir),
                        "within", left_id="doc_id_num", right_id="zone_id")
    return pairs.withColumnRenamed("doc_id_num", "doc_id")


def q_dwithin_join(spark, sf_dir):
    from sgspark.joins import sjoin_within_distance
    out = sjoin_within_distance(_geo_points(spark, sf_dir),
                                _zones(spark, sf_dir), 1500.0,
                                left_id="doc_id_num", right_id="zone_id")
    return out.select(F.col("doc_id_num").alias("doc_id"), "zone_id",
                      F.round("distance", 6).alias("dist"))


def q_knn(spark, sf_dir):
    from sgspark.knn import get_k_nearest_neighbors
    pts = _geo_points(spark, sf_dir).select(
        F.col("doc_id_num").alias("doc_id"),
        F.col("minx").alias("x"), F.col("miny").alias("y"))
    centers = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey AS zone_id", f"cast({ZX} as double) AS x",
        f"cast({ZY} as double) AS y")
    out = get_k_nearest_neighbors(pts, centers, 3, left_id="doc_id",
                                  right_id="zone_id")
    return out.select("doc_id", F.col("neighbor_index").alias("neighbor_id"),
                      F.col("k").cast("long").alias("k_rank"),
                      F.round(F.col("distance") * F.col("distance"))
                      .cast("long").alias("d2"))


def q_sfilter(spark, sf_dir):
    from sgspark.joins import sfilter
    zones = _zones(spark, sf_dir).where("zone_id % 7 = 0")  # sparse layer
    out = sfilter(_geo_points(spark, sf_dir), zones, "within",
                  left_id="doc_id_num", right_id="zone_id")
    return out.select(F.col("doc_id_num").alias("doc_id"))


def q_sfilter_inverse(spark, sf_dir):
    from sgspark.joins import sfilter_inverse
    zones = _zones(spark, sf_dir).where("zone_id % 7 = 0")
    out = sfilter_inverse(_geo_points(spark, sf_dir), zones,
                          "within", left_id="doc_id_num", right_id="zone_id")
    return out.select(F.col("doc_id_num").alias("doc_id"))


def q_overlay_intersection(spark, sf_dir):
    from sgspark.overlay import clean_overlay
    from sgspark.io import with_bounds
    z = _zones(spark, sf_dir)
    a = z.where("zone_id % 2 = 0").withColumnRenamed("zone_id", "aid") \
         .select("aid", "geometry", "minx", "miny", "maxx", "maxy")
    b = z.where("zone_id % 2 = 1").withColumnRenamed("zone_id", "bid") \
         .select("bid", "geometry", "minx", "miny", "maxx", "maxy")
    inter = clean_overlay(a, b, "intersection", id1="aid", id2="bid")

    def area_kernel(batches):
        from sgspark.geom.wkb import from_wkb
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf["geometry"].tolist())
            out = pdf[["aid", "bid"]].copy()
            out["area"] = ga.area().round(3)
            yield out

    return inter.mapInPandas(area_kernel,
                             schema="aid long, bid long, area double")


# Concave-overlay oracle layers: L-shaped (6-vertex, concave) polygons.
# Layer A (customer): ALL-EVEN integer coords; layer B (supplier): ALL-ODD.
# => no shared edge lines, no vertex-on-edge, every boundary crossing is a
# proper interior crossing at exact rational coords — the general
# (Greiner–Hormann) kernel path runs with NO degeneracy ladder, and plain
# SQL computes exact areas by rectangle decomposition (each L = two
# interior-disjoint rects; B's L-shapes are pairwise disjoint by grid
# construction).  This is the independent non-rectangle oracle VERDICT.md
# round 1 asked for.
def _lshape_layer_sql(key: str, x0: str, y0: str, s: str, aa: str, bb: str):
    """WKT of L-shape: [x0,x0+s]x[y0,y0+bb]  ∪  [x0,x0+aa]x[y0+bb,y0+s]."""
    def i(e):
        return f"cast({e} as bigint)"
    return (f"concat('POLYGON ((', {i(x0)}, ' ', {i(y0)}, ', ', "
            f"{i(f'{x0}+{s}')}, ' ', {i(y0)}, ', ', "
            f"{i(f'{x0}+{s}')}, ' ', {i(f'{y0}+{bb}')}, ', ', "
            f"{i(f'{x0}+{aa}')}, ' ', {i(f'{y0}+{bb}')}, ', ', "
            f"{i(f'{x0}+{aa}')}, ' ', {i(f'{y0}+{s}')}, ', ', "
            f"{i(x0)}, ' ', {i(f'{y0}+{s}')}, ', ', "
            f"{i(x0)}, ' ', {i(y0)}, '))')")


_LA = dict(x0="(c_custkey % 40) * 100", y0="(c_custkey div 40) * 100",
           s="80 + (c_custkey % 5) * 4", aa="40 + (c_custkey % 3) * 8",
           bb="32 + (c_custkey % 7) * 6")
_LB = dict(x0="(s_suppkey % 10) * 390 + 15", y0="(s_suppkey div 10) * 370 + 21",
           s="200 + (s_suppkey % 4) * 30", aa="100 + (s_suppkey % 3) * 20",
           bb="80 + (s_suppkey % 5) * 24")


def _lshape_layers(spark, sf_dir):
    from sgspark.io import wkt_to_wkb_df
    # single-file scans land in one partition; spread the keys BEFORE the
    # WKT synthesis + parse kernel so it parallelizes (round 7 — the
    # overlay_concave parse ran as two 0.8s one-task stages)
    par = spark.sparkContext.defaultParallelism
    a = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select("c_custkey").repartition(par).selectExpr(
        "c_custkey AS aid",
        _lshape_layer_sql("c_custkey", **_LA) + " AS geometry_wkt")
    b = spark.read.parquet(f"{sf_dir}/supplier.parquet") \
        .select("s_suppkey").repartition(par).selectExpr(
        "s_suppkey AS bid",
        _lshape_layer_sql("s_suppkey", **_LB) + " AS geometry_wkt")
    return wkt_to_wkb_df(a), wkt_to_wkb_df(b)


def _area_rows(df, ids):
    def area_kernel(batches):
        from sgspark.geom.wkb import from_wkb
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf["geometry"].tolist())
            out = pdf[ids].copy()
            out["area"] = ga.area().round(6)
            yield out

    schema = ", ".join(f"{c} long" for c in ids) + ", area double"
    return df.mapInPandas(area_kernel, schema=schema)


def q_overlay_concave(spark, sf_dir):
    """Concave x concave intersection areas through the REAL engine path
    (wkt parse -> cell join -> Greiner–Hormann kernel)."""
    from sgspark.overlay import clean_overlay
    a, b = _lshape_layers(spark, sf_dir)
    inter = clean_overlay(a, b, "intersection", id1="aid", id2="bid",
                          gridsize=500.0)
    return _area_rows(inter.select("aid", "bid", "geometry"), ["aid", "bid"])


def q_overlay_concave_diff(spark, sf_dir):
    """Concave difference (A minus union of its concave partners)."""
    from sgspark.overlay import clean_overlay
    a, b = _lshape_layers(spark, sf_dir)
    diff = clean_overlay(a, b, "difference", id1="aid", id2="bid",
                         gridsize=500.0)
    return _area_rows(diff.select("aid", "geometry"), ["aid"])


def _lshape_rot45_layers(spark, sf_dir):
    """The L-shape layers ROTATED 45 degrees: the same integer L-shapes laid
    out in (u, v) = (x+y, x-y) space, mapped back via x=(u+v)/2,
    y=(u-v)/2.  Every edge becomes DIAGONAL (slope +-1), so the
    Greiner–Hormann tier-3 kernel runs on non-axis-parallel crossings
    end-to-end (VERDICT r2 directive 4), while DuckDB still computes exact
    pair areas with pure interval arithmetic in uv space (area_xy =
    area_uv / 2, the rotation Jacobian).  A all-even / B all-odd uv coords:
    every boundary crossing is a proper interior crossing."""
    from sgspark.io import wkt_to_wkb_df

    def wkt(x0, y0, s, aa, bb):
        # six uv vertices of the L, emitted as ((u+v)/2, (u-v)/2)
        u = [f"({x0})", f"({x0}+{s})", f"({x0}+{s})", f"({x0}+{aa})",
             f"({x0}+{aa})", f"({x0})"]
        v = [f"({y0})", f"({y0})", f"({y0}+{bb})", f"({y0}+{bb})",
             f"({y0}+{s})", f"({y0}+{s})"]
        pts = [f"cast(({uu} + {vv}) / 2.0 as double), ' ', "
               f"cast(({uu} - {vv}) / 2.0 as double)" for uu, vv in zip(u, v)]
        first = pts[0]
        body = ", ', ', ".join(pts)
        return f"concat('POLYGON ((', {body}, ', ', {first}, '))')"

    a = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey AS aid", wkt(**_LA) + " AS geometry_wkt")
    b = spark.read.parquet(f"{sf_dir}/supplier.parquet").selectExpr(
        "s_suppkey AS bid", wkt(**_LB) + " AS geometry_wkt")
    return wkt_to_wkb_df(a), wkt_to_wkb_df(b)


def q_overlay_rot45(spark, sf_dir):
    """Concave x concave intersection with ALL-DIAGONAL edges (GH kernel,
    no axis-parallel fast path applies)."""
    from sgspark.overlay import clean_overlay
    a, b = _lshape_rot45_layers(spark, sf_dir)
    inter = clean_overlay(a, b, "intersection", id1="aid", id2="bid",
                          gridsize=500.0)
    return _area_rows(inter.select("aid", "bid", "geometry"), ["aid", "bid"])


def q_overlay_rot45_diff(spark, sf_dir):
    """Concave difference with all-diagonal edges (GH erase path)."""
    from sgspark.overlay import clean_overlay
    a, b = _lshape_rot45_layers(spark, sf_dir)
    diff = clean_overlay(a, b, "difference", id1="aid", id2="bid",
                         gridsize=500.0)
    return _area_rows(diff.select("aid", "geometry"), ["aid"])


def q_buffdiss(spark, sf_dir):
    """buffer(CONCAVE L-shapes, trimmed-offset kernel) -> dissolve by band
    -> explode (`buffdissexp`, reference buffer_dissolve_explode.py:50-185).

    Buffered Ls are pairwise disjoint by grid construction (gap >= 4 >
    2*1.5), so each exploded part's Minkowski area is analytic:
    A + P*r + 5*sector(r) - r^2 (5 convex right angles, 1 reflex).  The
    engine subtracts the arc sectors and the reflex correction from its own
    measured area, leaving adj_area = A + P*r = s*bb + aa*(s-bb) + 6*s —
    pure integer arithmetic the DuckDB oracle reproduces with no libm."""
    from sgspark.dissolve import buffdissexp
    import numpy as np
    a, _ = _lshape_layers(spark, sf_dir)
    # the CPU-heavy buffer kernel must not inherit the single-file scan's
    # 1-2 partitions: spread rows across the cluster first (cheap shuffle
    # of ids+WKB vs per-row offset trimming)
    par = spark.sparkContext.defaultParallelism
    a = a.withColumn("band", F.expr("aid div 40")) \
         .select("band", "geometry", "minx", "miny", "maxx", "maxy") \
         .repartition(par)
    out = buffdissexp(a, 1.5, by=["band"], quad_segs=8)
    sector = 0.5 * 1.5 * 1.5 * float(np.sin((np.pi / 2) / 8)) * 8
    corr = 5 * sector - 1.5 * 1.5

    def kernel(batches):
        from sgspark.geom.wkb import from_wkb
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf["geometry"].tolist())
            o = pdf[["band"]].copy()
            o["adj_area"] = (ga.area() - corr).round(6)
            yield o

    return out.mapInPandas(kernel, schema="band long, adj_area double")


def q_gridloop_tile_counts(spark, sf_dir):
    import pandas as pd
    from sgspark.tiling import gridloop, grid_id_expr
    pts = _geo_points(spark, sf_dir).selectExpr(
        "doc_id_num AS doc_id", "minx AS x", "miny AS y")

    def per_cell(cell: pd.DataFrame) -> pd.DataFrame:
        own = cell[~cell["__halo"]]
        if len(own) == 0:
            return pd.DataFrame({"x": [], "y": [], "n_points": []})
        return pd.DataFrame({"x": [float(own.x.min())],
                             "y": [float(own.y.min())],
                             "n_points": [len(own)]})

    out = gridloop(pts, per_cell, "x double, y double, n_points long", 1000.0)
    return out.select(F.expr(grid_id_expr("x", "y", 1000)).alias("tile_id"),
                      "n_points")


def q_zone_clusters(spark, sf_dir):
    from sgspark.clusters import get_cluster_mapper
    return get_cluster_mapper(_zones(spark, sf_dir), id_col="zone_id")


def q_zone_dissolve(spark, sf_dir):
    from sgspark.dissolve import dissexp_by_cluster
    z = _zones(spark, sf_dir).select("zone_id", "geometry", "minx", "miny",
                                     "maxx", "maxy")
    out = dissexp_by_cluster(z, id_col="zone_id")
    return out.agg(F.count("*").alias("n_parts"))


def q_snap(spark, sf_dir):
    """Snap doc points to the nearest zone-center point within 3000 m;
    output squared distance (integer-exact, tie-proof)."""
    from sgspark.point_ops import snap_within_distance
    from sgspark.io import wkt_to_wkb_df
    # centers constructed fully JVM-side (no driver toPandas round-trip)
    centers = wkt_to_wkb_df(
        spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
            "c_custkey AS zone_id",
            f"concat('POINT (', cast({ZX} as bigint), ' ', "
            f"cast({ZY} as bigint), ')') AS geometry_wkt"))
    pts = _geo_points(spark, sf_dir)
    out = snap_within_distance(pts, centers, 3000.0, left_id="doc_id_num",
                               right_id="zone_id")
    return out.where(F.col("snap_distance").isNotNull()).select(
        F.col("doc_id_num").alias("doc_id"),
        F.round(F.col("snap_distance") * F.col("snap_distance"))
        .cast("long").alias("d2"))


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics of the deterministic synthetic raster inside a
    sample of zones (rows-only: raster values not SQL-derivable cheaply)."""
    from sgspark.zonal import synth_raster_tiles, zonal_stats
    tiles = synth_raster_tiles(spark, 254000, 6644000, 262000, 6652000,
                               tile_size=1000.0, res=20.0)
    zones = _zones(spark, sf_dir).where("zone_id % 37 = 0")
    out = zonal_stats(zones, tiles, gridsize=1000.0)
    return out.select("zone_id", "count",
                      F.round("mean", 6).alias("mean_val"))


def q_crs_roundtrip(spark, sf_dir):
    """UTM->WGS84->UTM roundtrip of the doc points through the exact
    Transverse Mercator kernel; output = original coords to the mm, which
    the oracle reproduces with plain arithmetic (gates the whole CRS
    kernel: roundtrip error < 1e-8 m)."""
    from sgspark.crs import from_4326, set_crs, to_4326
    pts = set_crs(_geo_points(spark, sf_dir), 25833)
    back = from_4326(to_4326(pts))
    return back.select(F.col("doc_id_num").alias("doc_id"),
                       F.round("minx", 3).alias("x_mm"),
                       F.round("miny", 3).alias("y_mm"))


def _supplier_graph(spark, sf_dir):
    """Deterministic road graph over supplier keys: chain edges
    (i, i+1, 1 + i%7) + shortcuts (i, i+10, 5), undirected."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet") \
        .select(F.col("s_suppkey").cast("long").alias("k"))
    chain = sup.selectExpr("cast(k as string) AS source",
                           "cast(k + 1 as string) AS target",
                           "cast(1 + k % 7 as double) AS length") \
        .join(sup.selectExpr("cast(k as string) AS target"), "target",
              "left_semi")
    short = sup.selectExpr("cast(k as string) AS source",
                           "cast(k + 10 as string) AS target",
                           "cast(5 as double) AS length") \
        .join(sup.selectExpr("cast(k as string) AS target"), "target",
              "left_semi")
    return chain.unionByName(short)


def q_component_size(spark, sf_dir):
    """get_component_size over a deterministically BROKEN chain graph
    (edge k -> k+1 missing when k % 37 == 0), so components are integer
    intervals and their sizes have a pure-arithmetic oracle:
    start(u) = u - ((u-1) % 37), end = min(start+36, max_key)."""
    from sgspark.network import get_component_size
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet") \
        .select(F.col("s_suppkey").cast("long").alias("k"))
    edges = sup.where("k % 37 != 0") \
        .selectExpr("cast(k as string) AS source",
                    "cast(k + 1 as string) AS target",
                    "cast(1 as double) AS length") \
        .join(sup.selectExpr("cast(k as string) AS target"), "target",
              "left_semi")
    out = get_component_size(edges)
    return out.selectExpr("cast(source as long) AS src",
                          "component_size").orderBy("src")


def q_route_costs(spark, sf_dir):
    """Multi-hop shortest-path costs from node 1 to every node, through the
    distributed Bellman-Ford; integer weights -> exact SQL oracle via
    min-plus matrix squaring."""
    from sgspark.network import od_cost_matrix
    edges = _supplier_graph(spark, sf_dir)
    orig = spark.createDataFrame([("o1", "1")], ["oid", "node"])
    dests = spark.read.parquet(f"{sf_dir}/supplier.parquet").selectExpr(
        "cast(s_suppkey as long) AS did",
        "cast(s_suppkey as string) AS node")
    od = od_cost_matrix(edges, orig, dests, max_iter=30)
    return od.select("did", F.col("cost").cast("long").alias("cost"))


def q_route_edges(spark, sf_dir):
    """Route edge sequence 1 -> max supplier node (rows-only: the oracle
    can't reproduce the deterministic tie-break cheaply)."""
    from sgspark.network import get_route
    edges = _supplier_graph(spark, sf_dir)
    orig = spark.createDataFrame([("o1", "1")], ["oid", "node"])
    n = spark.read.parquet(f"{sf_dir}/supplier.parquet") \
        .agg(F.max("s_suppkey")).first()[0]
    dest = spark.createDataFrame([("d1", str(n))], ["did", "node"])
    return get_route(edges, orig, dest, max_iter=30) \
        .select("seq", "source", "target", "cost")


def q_coverage_clean(spark, sf_dir):
    """coverage_clean over a deterministic dirty layer derived from nation
    keys — HASH-EXACT per-id area gate (round 4; was rows-only).

    The rectilinear fixture makes every stage's output area analytic:
      * 25 tiles keep exactly their 100x100 surface (they win every
        double-surface contest by the (-area, id) rank);
      * the overlapper (pid 1001) keeps its input minus the tile-covered
        region: 100^2 - 99^2 = 199 (the cross of gap strips it covers);
      * the frame (pid 1000) keeps its ring 605^2 - 505^2 and absorbs the
        ENTIRE thin-gap network (width-1 strips + 0.5 margin, all
        connected, inscribed diameter 1 < tolerance 3, and the frame has
        the longest shared border): hole 505^2 minus tiles minus the
        overlapper's 199.
    Sum of outputs == the 605x605 universe exactly — the partition
    property of coverage cleaning."""
    from sgspark.cleaning import coverage_clean
    out = coverage_clean(_coverage_fixture(spark, sf_dir), 3.0,
                         id_col="pid", gridsize=300.0)
    return _area_rows(out.select("pid", "geometry"),
                      ["pid"]).orderBy("pid")


def _coverage_fixture(spark, sf_dir):
    """The dirty coverage layer q_coverage_clean cleans: 5x5 tile
    coverage, 100-wide tiles at pitch 101 (1-unit thin gaps), ENCLOSED by
    a hole-bearing frame so the gap network is interior, plus one
    half-offset overlapper creating a double surface."""
    from sgspark.io import wkt_to_wkb_df
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet") \
        .select(F.col("n_nationkey").cast("long").alias("k"))
    base = nat.selectExpr(
        "k AS pid",
        "concat('POLYGON ((', (k % 5) * 101, ' ', (k div 5) * 101, ', ', "
        "(k % 5) * 101 + 100, ' ', (k div 5) * 101, ', ', "
        "(k % 5) * 101 + 100, ' ', (k div 5) * 101 + 100, ', ', "
        "(k % 5) * 101, ' ', (k div 5) * 101 + 100, ', ', "
        "(k % 5) * 101, ' ', (k div 5) * 101, '))') AS geometry_wkt")
    # pandas-backed createDataFrame (Arrow local relation, ONE partition,
    # zero Python at execution) — the list form parallelized 2 rows over
    # defaultParallelism pickled-RDD slices, and every downstream action
    # paid a Python-runner round-trip per slice (round-7 profile: ~4s per
    # action on this 27-row fixture).  Results are identical.
    import pandas as _pd
    extra = spark.createDataFrame(_pd.DataFrame({
        "pid": _pd.array([1000, 1001], dtype="int64"),
        "geometry_wkt": [
            "POLYGON ((-50 -50, 555 -50, 555 555, -50 555, -50 -50), "
            "(-0.5 -0.5, -0.5 504.5, 504.5 504.5, 504.5 -0.5, -0.5 -0.5))",
            "POLYGON ((50.5 49.5, 150.5 49.5, 150.5 149.5, "
            "50.5 149.5, 50.5 49.5))"]}))
    return wkt_to_wkb_df(base.unionByName(extra))


# horizontal test lines for the line-clip oracle: half-integer y (no
# boundary ties vs half-integer zone edges? zone edges are at integer ±
# 200.5-style halves — use y offset .25 to dodge both lattices)
_LX0 = "(254000 + (s_suppkey * 9973) % 18000)"
_LY = "(6644000 + (s_suppkey * 331) % 17000 + 0.25)"
_LLEN = "(500 + (s_suppkey % 13) * 250)"


def q_clip_lines(spark, sf_dir):
    """LINE x POLYGON clipping through the real engine (split at boundary
    crossings, midpoint containment); exact SQL oracle because the test
    lines are horizontal segments and zones are axis-aligned squares —
    clipped length = interval overlap."""
    from sgspark.io import wkt_to_wkb_df
    from sgspark.line_ops import clip_lines_by_polygons
    lines = wkt_to_wkb_df(
        spark.read.parquet(f"{sf_dir}/supplier.parquet").selectExpr(
            "s_suppkey AS lid",
            f"concat('LINESTRING (', cast({_LX0} as bigint), ' ', "
            f"cast({_LY} * 4 as bigint) / 4.0, ', ', "
            f"cast({_LX0} + {_LLEN} as bigint), ' ', "
            f"cast({_LY} * 4 as bigint) / 4.0, ')') AS geometry_wkt"))
    zones = _zones(spark, sf_dir)
    clipped = clip_lines_by_polygons(lines, zones, line_id="lid",
                                     poly_id="zone_id")

    def len_kernel(batches):
        from sgspark.geom.wkb import from_wkb
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf["geometry"].tolist())
            out = pdf[["lid", "zone_id"]].copy()
            out["clip_len"] = ga.length().round(6)
            yield out

    return clipped.mapInPandas(
        len_kernel, schema="lid long, zone_id long, clip_len double")


def q_dedup_exact(spark, sf_dir):
    from sgspark.textops import exact_dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs)


def q_near_dup_pairs(spark, sf_dir):
    from sgspark.textops import near_dup_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return near_dup_pairs(docs, threshold=0.2)


def q_token_stats(spark, sf_dir):
    from sgspark.textops import token_stats
    return token_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_quality(spark, sf_dir):
    from sgspark.textops import quality_score
    return quality_score(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_langid(spark, sf_dir):
    from sgspark.textops import lang_id
    return lang_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# Shared token hash for the simhash gates: rolling polynomial mod 2^44 —
# BIGINT-safe in both engines, and DuckDB's list_reduce (first element as
# init) equals Spark's fold from 0 because 0*131 + c1 = c1.
_TOKHASH = ("aggregate(transform(sequence(1, length(w)), "
            "i -> cast(ascii(substring(w, i, 1)) as bigint)), "
            "cast(0 as bigint), "
            "(acc, c) -> pmod(acc * 131 + c, 17592186044416))")


def q_simhash(spark, sf_dir):
    """SimHash gated hash-exact: the xxhash64 default is swapped for a
    polynomial token hash both engines compute (round-3 upgrade)."""
    from sgspark.textops import simhash
    return simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                   token_hash_sql=_TOKHASH)


def q_simhash_near_dups(spark, sf_dir):
    """Banded near-dups at max_hamming=3, where 4x16-bit banding is
    PIGEONHOLE-EXACT, so the banded output equals DuckDB's all-pairs
    popcount filter (round-3 upgrade)."""
    from sgspark.textops import simhash_near_dups
    return simhash_near_dups(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                             max_hamming=3, token_hash_sql=_TOKHASH)


def q_fingerprint(spark, sf_dir):
    from sgspark.textops import fingerprint
    return fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_cosine_topk(spark, sf_dir):
    from sgspark.vecops import cosine_topk_bruteforce
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_bruteforce(vecs, 5)


def q_ann_lsh(spark, sf_dir):
    """SRP-LSH ANN, parameterized for recall 1.0 at this similarity level
    (sim~0.32 -> p=0.6; 32 tables x 2 bits -> miss prob ~6e-7 per pair):
    the bucket join + exact rerank must reproduce the true top-k, gated
    hash-exact against the brute-force oracle (round-3 upgrade; round 2's
    correlated SRP hyperplanes capped recall at 0.92 at ANY table count)."""
    from sgspark.vecops import cosine_topk_lsh
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_lsh(vecs, 5, n_bits=2, n_tables=32)


def q_ann_ivf(spark, sf_dir):
    """IVF inverted-list ANN (rows-only: kmeans assignment isn't
    SQL-derivable; exactness covered by the full-probe == brute pytest)."""
    from sgspark.vecops import cosine_topk_ivf
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_ivf(vecs, 5, n_centroids=8, n_probe=8)


def q_embedding_near_dups(spark, sf_dir):
    """Gates the SCALE path (VERDICT r4 #3): SRP-bucketed candidates with
    the same recall-1.0 parameterization argument as q_ann_lsh (sim>=0.35
    -> per-bit collision p = 1 - acos(0.35)/pi ~ 0.61; 32 tables x 2 bits
    -> per-pair miss prob ~3e-7), then exact quantized verify.  The
    brute-force path stays the pytest oracle (test_textops_vecops)."""
    from sgspark.vecops import embedding_near_dups
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dups(vecs, 0.35, exact=False,
                               n_bits=2, n_tables=32)


def q_png_decode(spark, sf_dir):
    """REAL image decode end-to-end (VERDICT r5 #3): deterministic PNG /
    PPM payloads synthesized per doc_id (pixel formula in
    media.synth_images; PNG rows cycle filter types 0-4 so every
    unfilter path runs), decoded from the raw bytes by media.real_decode
    (stdlib zlib inflate + numpy unfilter — no image libraries), pixel
    stats aggregated from the DECODED array.  The DuckDB oracle computes
    the same stats straight from the pixel formula, so a decoder bug
    anywhere (CRC-chunk walk, inflate framing, any filter, PPM header)
    breaks the hash."""
    from sgspark.media import decode_image_stats, synth_images
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    st = decode_image_stats(synth_images(docs))
    return st.select(
        "doc_id", "media_kind", "width", "height", "channels",
        "px_sum", "px_min", "px_max",
        F.round(F.col("px_sum") /
                (F.col("width") * F.col("height") * F.col("channels")),
                6).alias("px_mean"))


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy("event_type",
                       F.unix_timestamp(F.date_trunc("hour", "ts"))
                       .alias("hour_epoch"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("sum_value")))


def q_deadend_holes(spark, sf_dir):
    """close_network_holes_to_deadends over a deterministic forest of
    disjoint vertical segments (every endpoint a deadend), paired so the
    nearest OTHER deadend is sometimes the segment's own partner and
    sometimes the adjacent segment's endpoint:

      key k (customer): group = (k-1) div 2, parity = (k-1) % 2,
      x = 200*group + 12*parity, nodes (x,0) and (x,L),
      L = 5 + 4*((k-1) % 7) in {5,9,...,29}.

    Within a group the two segment bases are 12 apart; candidate
    distances per deadend are {L (odd int), 12, sqrt(144+dL^2)
    (irrational), >=188} — pairwise distinct by construction, so the
    nearest neighbor is unique and the SQL oracle (rank by distance over
    the deadend cross join) is exact; the fill lengths are bit-equal
    because both sides take IEEE sqrt of exactly-representable integer
    sums.  max_distance=12.5 sits between the partner and cross regimes
    so both fill kinds AND no-fill rows occur.  Reference
    closing_network_holes.py:204-276."""
    from sgspark.network import close_network_holes_to_deadends
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select(F.col("c_custkey").cast("long").alias("k"))
    e = cust.selectExpr(
        "cast(200 * ((k-1) div 2) + 12 * ((k-1) % 2) as long) AS x",
        "cast(5 + 4 * ((k-1) % 7) as long) AS L")
    edges = e.selectExpr(
        "concat(x, '_0') AS source",
        "concat(x, '_', L) AS target",
        "cast(L as double) AS length")
    out = close_network_holes_to_deadends(edges, 12.5)
    return out.where("hole_fill").select("source", "target", "length") \
        .orderBy("source", "target")


def q_split_eliminate(spark, sf_dir):
    """split_and_eliminate_by_longest over 25 analytic motifs (nation):
    keepers K1 = 10x10 and K2 = 14x10 sharing the border x = 10 (offset
    100*k), one sliver strip on top straddling it, x in
    [2+k%3, 18-k%2], height h = 2 + 0.5*(k%4).  The keepers' shared
    border extended by the tolerance splits the sliver at exactly
    x = 10; each piece's only positive-length shared border is with the
    keeper below it, so K1 absorbs (8-k%3)*h and K2 absorbs (8-k%2)*h —
    closed-form per-id areas the oracle computes arithmetically.  Areas
    rounded to 4 decimals: the split/difference passes leave ~1e-5
    deterministic cut-line debris, two orders below the rounding grain.
    Reference cleaning.py split_and_eliminate_by_longest:530-591."""
    from sgspark.cleaning import split_and_eliminate_by_longest
    from sgspark.io import wkt_to_wkb_df
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet") \
        .select(F.col("n_nationkey").cast("long").alias("k"))
    k1 = nat.selectExpr(
        "2*k AS pid",
        "concat('POLYGON ((', 100*k, ' 0, ', 100*k+10, ' 0, ', 100*k+10,"
        " ' 10, ', 100*k, ' 10, ', 100*k, ' 0))') AS geometry_wkt")
    k2 = nat.selectExpr(
        "2*k+1 AS pid",
        "concat('POLYGON ((', 100*k+10, ' 0, ', 100*k+24, ' 0, ',"
        " 100*k+24, ' 10, ', 100*k+10, ' 10, ', 100*k+10, ' 0))')"
        " AS geometry_wkt")
    sliv = nat.selectExpr(
        "9000+k AS pid",
        "concat('POLYGON ((', 100*k+2+k%3, ' 10, ', 100*k+18-k%2, ' 10, ',"
        " 100*k+18-k%2, ' ', 12+0.5*(k%4), ', ', 100*k+2+k%3, ' ',"
        " 12+0.5*(k%4), ', ', 100*k+2+k%3, ' 10))') AS geometry_wkt")
    out = split_and_eliminate_by_longest(
        wkt_to_wkb_df(k1.unionByName(k2)), wkt_to_wkb_df(sliv),
        tolerance=4.0, id_col="pid", gridsize=50.0)
    return _area_rows(out.where("pid >= 0").select("pid", "geometry"),
                      ["pid"]) \
        .select("pid", F.round("area", 4).alias("area")).orderBy("pid")


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("sum_qty"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .cast("double").alias("sum_base_price"),
                 F.count("*").alias("count_order")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tile_assign": q_tile_assign,
        "pip_join": q_pip_join,
        "dwithin_join": q_dwithin_join,
        "knn": q_knn,
        "sfilter": q_sfilter,
        "sfilter_inverse": q_sfilter_inverse,
        "overlay_intersection": q_overlay_intersection,
        "overlay_concave": q_overlay_concave,
        "overlay_concave_diff": q_overlay_concave_diff,
        "overlay_rot45": q_overlay_rot45,
        "overlay_rot45_diff": q_overlay_rot45_diff,
        "buffdiss": q_buffdiss,
        "gridloop_tile_counts": q_gridloop_tile_counts,
        "zone_clusters": q_zone_clusters,
        "zone_dissolve": q_zone_dissolve,
        "snap": q_snap,
        "zonal_stats": q_zonal_stats,
        "crs_roundtrip": q_crs_roundtrip,
        "clip_lines": q_clip_lines,
        "route_costs": q_route_costs,
        "route_edges": q_route_edges,
        "component_size": q_component_size,
        "deadend_holes": q_deadend_holes,
        "coverage_clean": q_coverage_clean,
        "split_eliminate": q_split_eliminate,
        "dedup_exact": q_dedup_exact,
        "near_dup_pairs": q_near_dup_pairs,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "langid": q_langid,
        "simhash": q_simhash,
        "simhash_near_dups": q_simhash_near_dups,
        "fingerprint": q_fingerprint,
        "cosine_topk": q_cosine_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "embedding_near_dups": q_embedding_near_dups,
        "png_decode": q_png_decode,
        "events_hourly": q_events_hourly,
        "tpch_q1": q_tpch_q1,
    }


def _overlay_oracle() -> str:
    def sub(expr, alias):
        return expr.replace("c_custkey", f"{alias}.c_custkey")
    zxa, zya, zra = sub(ZX, "a"), sub(ZY, "a"), sub(ZR, "a")
    zxb, zyb, zrb = sub(ZX, "b"), sub(ZY, "b"), sub(ZR, "b")
    ox = (f"(least({zxa} + {zra}, {zxb} + {zrb}) - "
          f"greatest({zxa} - {zra}, {zxb} - {zrb}))")
    oy = (f"(least({zya} + {zra}, {zyb} + {zrb}) - "
          f"greatest({zya} - {zra}, {zyb} - {zrb}))")
    return (f"SELECT a.c_custkey AS aid, b.c_custkey AS bid, "
            f"round({ox} * {oy}, 3) AS area "
            f"FROM customer a, customer b "
            f"WHERE a.c_custkey % 2 = 0 AND b.c_custkey % 2 = 1 "
            f"AND {ox} > 0 AND {oy} > 0")


def _concave_oracle(how: str, div: int = 1) -> str:
    """Exact SQL oracle for the L-shape layers: each L decomposes into two
    interior-disjoint rects, so area(LA ∩ LB) = Σ rect-pair interval
    products; B's L-shapes are pairwise disjoint (grid pitch > max extent),
    so the difference residual is area(LA) − Σ_b area(LA ∩ LB)."""
    la = {k: v.replace("div", "//") for k, v in _LA.items()}
    lb = {k: v.replace("div", "//") for k, v in _LB.items()}
    base = f"""
      WITH a AS (
        SELECT c_custkey AS aid, {la['x0']} AS x0, {la['y0']} AS y0,
               {la['s']} AS s, {la['aa']} AS aa, {la['bb']} AS bb
        FROM customer),
      b AS (
        SELECT s_suppkey AS bid, {lb['x0']} AS x0, {lb['y0']} AS y0,
               {lb['s']} AS s, {lb['aa']} AS aa, {lb['bb']} AS bb
        FROM supplier),
      ar AS (
        SELECT aid, x0 AS rx0, y0 AS ry0, x0 + s AS rx1, y0 + bb AS ry1 FROM a
        UNION ALL
        SELECT aid, x0, y0 + bb, x0 + aa, y0 + s FROM a),
      br AS (
        SELECT bid, x0 AS rx0, y0 AS ry0, x0 + s AS rx1, y0 + bb AS ry1 FROM b
        UNION ALL
        SELECT bid, x0, y0 + bb, x0 + aa, y0 + s FROM b),
      pair_area AS (
        SELECT ar.aid, br.bid, sum(
          greatest(least(ar.rx1, br.rx1) - greatest(ar.rx0, br.rx0), 0) *
          greatest(least(ar.ry1, br.ry1) - greatest(ar.ry0, br.ry0), 0)
        ) AS ia
        FROM ar, br GROUP BY ar.aid, br.bid)
    """
    if how == "intersection":
        return base + """
      SELECT aid, bid, round(CAST(ia AS DOUBLE) / {div}, 6) AS area
      FROM pair_area WHERE ia > 0""".format(div=div)
    return base + """
      , asize AS (
        SELECT aid, s * bb + aa * (s - bb) AS full_area FROM a),
      erased AS (
        SELECT aid, sum(ia) AS e FROM pair_area GROUP BY aid)
      SELECT s.aid, round(CAST(s.full_area - coalesce(e.e, 0) AS DOUBLE)
                          / {div}, 6) AS area
      FROM asize s LEFT JOIN erased e ON e.aid = s.aid
      WHERE s.full_area - coalesce(e.e, 0) > 0""".format(div=div)


# ------------------------------------------------------------------------ #
def oracle_sql() -> dict[str, str]:
    tile = TILE.format(x=PX, y=PY)
    zone_pred = (f"abs({PX} - {ZX}) <= {ZR} AND abs({PY} - {ZY}) <= {ZR}")
    dist = (f"sqrt(pow(greatest(abs({PX} - {ZX}) - {ZR}, 0), 2) + "
            f"pow(greatest(abs({PY} - {ZY}) - {ZR}, 0), 2))")
    shingles = """
      WITH sh AS (
        SELECT DISTINCT d.doc_id, substr(d.text, CAST(t.i AS INTEGER), 12) AS sh
        FROM documents d, generate_series(1, 2000) t(i)
        WHERE t.i <= length(d.text) - 11
      )"""
    return {
        "tile_assign": f"""
            SELECT {tile} AS tile_id, count(*) AS n_points
            FROM documents GROUP BY 1""",
        "pip_join": f"""
            SELECT d.doc_id AS doc_id, c.c_custkey AS zone_id
            FROM documents d, customer c WHERE {zone_pred}""",
        "dwithin_join": f"""
            SELECT d.doc_id AS doc_id, c.c_custkey AS zone_id,
                   round({dist}, 6) AS dist
            FROM documents d, customer c WHERE {dist} <= 1500.0""",
        "knn": f"""
            SELECT doc_id, zone_id AS neighbor_id, k_rank, d2 FROM (
              SELECT d.doc_id, c.c_custkey AS zone_id,
                     CAST(({PX} - {ZX}) * ({PX} - {ZX}) +
                          ({PY} - {ZY}) * ({PY} - {ZY}) AS BIGINT) AS d2,
                     row_number() OVER (
                       PARTITION BY d.doc_id
                       ORDER BY ({PX} - {ZX}) * ({PX} - {ZX}) +
                                ({PY} - {ZY}) * ({PY} - {ZY}), c.c_custkey
                     ) AS k_rank
              FROM documents d, customer c)
            WHERE k_rank <= 3""",
        "sfilter": f"""
            SELECT d.doc_id AS doc_id FROM documents d
            WHERE EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey % 7 = 0 AND {zone_pred})""",
        "sfilter_inverse": f"""
            SELECT d.doc_id AS doc_id FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey % 7 = 0 AND {zone_pred})""",
        "overlay_intersection": _overlay_oracle(),
        "overlay_concave": _concave_oracle("intersection"),
        "overlay_concave_diff": _concave_oracle("difference"),
        # rotated-45 layers: same uv-space interval arithmetic, areas halved
        # by the rotation Jacobian (dx dy = du dv / 2)
        "overlay_rot45": _concave_oracle("intersection", div=2),
        "overlay_rot45_diff": _concave_oracle("difference", div=2),
        "buffdiss": f"""
            SELECT c_custkey // 40 AS band,
                   round(CAST(s * bb + aa * (s - bb) + 6 * s AS DOUBLE), 6)
                   AS adj_area
            FROM (SELECT c_custkey,
                         {_LA['s'].replace('div', '//')} AS s,
                         {_LA['aa'].replace('div', '//')} AS aa,
                         {_LA['bb'].replace('div', '//')} AS bb
                  FROM customer)""",
        "crs_roundtrip": f"""
            SELECT doc_id, round(CAST({PX} AS DOUBLE), 3) AS x_mm,
                   round(CAST({PY} AS DOUBLE), 3) AS y_mm
            FROM documents""",
        "clip_lines": f"""
            SELECT s.s_suppkey AS lid, c.c_custkey AS zone_id,
                   round(least({_LX0} + {_LLEN}, {ZX} + {ZR})
                         - greatest({_LX0}, {ZX} - {ZR}), 6) AS clip_len
            FROM supplier s, customer c
            WHERE abs({_LY} - {ZY}) < {ZR}
              AND least({_LX0} + {_LLEN}, {ZX} + {ZR})
                  - greatest({_LX0}, {ZX} - {ZR}) > 0""",
        # component_size: broken-chain components are integer intervals;
        # sizes derive from pure modular arithmetic (no graph traversal).
        "deadend_holes": """
            WITH seg AS (
              SELECT 200*((CAST(c_custkey AS BIGINT)-1)//2)
                       + 12*((CAST(c_custkey AS BIGINT)-1)%2) AS x,
                     5 + 4*((CAST(c_custkey AS BIGINT)-1)%7) AS L
              FROM customer),
            dead AS (
              SELECT printf('%d_0', x) AS id,
                     CAST(x AS DOUBLE) AS px, 0.0 AS py FROM seg
              UNION ALL
              SELECT printf('%d_%d', x, L),
                     CAST(x AS DOUBLE), CAST(L AS DOUBLE) FROM seg),
            -- |dx| <= 13 prunes the cross join without losing any true
            -- nearest (each deadend's own partner sits at dx = 0; the
            -- next-nearest pruned candidate is >= 188 away)
            cand AS (
              SELECT a.id AS source, b.id AS target,
                     sqrt((a.px-b.px)*(a.px-b.px)
                          + (a.py-b.py)*(a.py-b.py)) AS length,
                     ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY
                       sqrt((a.px-b.px)*(a.px-b.px)
                            + (a.py-b.py)*(a.py-b.py))) AS rn
              FROM dead a JOIN dead b
                ON a.id <> b.id AND abs(a.px-b.px) <= 13)
            SELECT source, target, length FROM cand
            WHERE rn = 1 AND length < 12.5
            ORDER BY source, target""",
        "split_eliminate": """
            WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k
                       FROM nation),
            h AS (SELECT k, 2 + 0.5*(k % 4) AS hh FROM n)
            SELECT * FROM (
              SELECT 2*k AS pid,
                     CAST(ROUND(100 + (8 - (k % 3)) * hh, 4) AS DOUBLE)
                       AS area FROM h
              UNION ALL
              SELECT 2*k+1,
                     CAST(ROUND(140 + (8 - (k % 2)) * hh, 4) AS DOUBLE)
                       FROM h)
            ORDER BY pid""",
        "component_size": """
            WITH keys AS (SELECT CAST(s_suppkey AS BIGINT) AS k
                          FROM supplier),
            e AS (SELECT k AS src FROM keys
                  WHERE (k % 37) <> 0
                    AND (k + 1) IN (SELECT k FROM keys))
            SELECT src,
                   LEAST(src - ((src - 1) % 37) + 36,
                         (SELECT MAX(k) FROM keys))
                   - (src - ((src - 1) % 37)) + 1 AS component_size
            FROM e ORDER BY src""",
        "route_costs": """
            -- min-plus matrix squaring: d(2k) = min over mid of
            -- d(k)+d(k); 7 doublings cover 128 hops >= graph diameter
            WITH e0 AS (
              SELECT CAST(a.s_suppkey AS BIGINT) AS u,
                     CAST(a.s_suppkey + 1 AS BIGINT) AS v,
                     CAST(1 + a.s_suppkey % 7 AS BIGINT) AS c
              FROM supplier a JOIN supplier b
                ON b.s_suppkey = a.s_suppkey + 1
              UNION ALL
              SELECT CAST(a.s_suppkey AS BIGINT),
                     CAST(a.s_suppkey + 10 AS BIGINT), 5
              FROM supplier a JOIN supplier b
                ON b.s_suppkey = a.s_suppkey + 10
            ), e AS (
              SELECT u, v, c FROM e0
              UNION ALL SELECT v, u, c FROM e0
              UNION ALL SELECT CAST(s_suppkey AS BIGINT),
                               CAST(s_suppkey AS BIGINT), 0 FROM supplier
            ), d1 AS (
              SELECT u, v, min(c) AS c FROM e GROUP BY u, v
            ), d2 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d1 a JOIN d1 b ON a.v = b.u GROUP BY a.u, b.v
            ), d4 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d2 a JOIN d2 b ON a.v = b.u GROUP BY a.u, b.v
            ), d8 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d4 a JOIN d4 b ON a.v = b.u GROUP BY a.u, b.v
            ), d16 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d8 a JOIN d8 b ON a.v = b.u GROUP BY a.u, b.v
            ), d32 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d16 a JOIN d16 b ON a.v = b.u GROUP BY a.u, b.v
            ), d64 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d32 a JOIN d32 b ON a.v = b.u GROUP BY a.u, b.v
            ), d128 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d64 a JOIN d64 b ON a.v = b.u GROUP BY a.u, b.v
            )
            SELECT CAST(s.s_suppkey AS BIGINT) AS did, d.c AS cost
            FROM supplier s LEFT JOIN d128 d
              ON d.u = 1 AND d.v = CAST(s.s_suppkey AS BIGINT)""",
        # Shortest-path EDGE SEQUENCE with the engine's exact tie-break:
        # optimal predecessors of u are {v : dist(v) + w(v,u) = dist(u)}
        # (candidates from non-final rounds coincide with this set by the
        # triangle inequality), and the engine's min(struct(cost, pred))
        # picks the LEXICOGRAPHICALLY smallest pred STRING — reproduced
        # with min(CAST(v AS VARCHAR)); the chain walk is a plain
        # recursive CTE (round-3 upgrade from rows-only).
        "route_edges": """
            -- min-plus matrix squaring: d(2k) = min over mid of
            -- d(k)+d(k); 7 doublings cover 128 hops >= graph diameter
            WITH RECURSIVE e0 AS (
              SELECT CAST(a.s_suppkey AS BIGINT) AS u,
                     CAST(a.s_suppkey + 1 AS BIGINT) AS v,
                     CAST(1 + a.s_suppkey % 7 AS BIGINT) AS c
              FROM supplier a JOIN supplier b
                ON b.s_suppkey = a.s_suppkey + 1
              UNION ALL
              SELECT CAST(a.s_suppkey AS BIGINT),
                     CAST(a.s_suppkey + 10 AS BIGINT), 5
              FROM supplier a JOIN supplier b
                ON b.s_suppkey = a.s_suppkey + 10
            ), e AS (
              SELECT u, v, c FROM e0
              UNION ALL SELECT v, u, c FROM e0
              UNION ALL SELECT CAST(s_suppkey AS BIGINT),
                               CAST(s_suppkey AS BIGINT), 0 FROM supplier
            ), d1 AS (
              SELECT u, v, min(c) AS c FROM e GROUP BY u, v
            ), d2 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d1 a JOIN d1 b ON a.v = b.u GROUP BY a.u, b.v
            ), d4 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d2 a JOIN d2 b ON a.v = b.u GROUP BY a.u, b.v
            ), d8 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d4 a JOIN d4 b ON a.v = b.u GROUP BY a.u, b.v
            ), d16 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d8 a JOIN d8 b ON a.v = b.u GROUP BY a.u, b.v
            ), d32 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d16 a JOIN d16 b ON a.v = b.u GROUP BY a.u, b.v
            ), d64 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d32 a JOIN d32 b ON a.v = b.u GROUP BY a.u, b.v
            ), d128 AS (
              SELECT a.u, b.v, min(a.c + b.c) AS c
              FROM d64 a JOIN d64 b ON a.v = b.u GROUP BY a.u, b.v
            ), dist AS MATERIALIZED (
              SELECT v AS node, c FROM d128 WHERE u = 1
            ), w AS MATERIALIZED (
              SELECT u, v, min(c) AS c FROM e WHERE u <> v GROUP BY u, v
            ), pred AS MATERIALIZED (
              SELECT t.node,
                     CAST(min(CAST(p.node AS VARCHAR)) AS BIGINT) AS pred
              FROM dist t
              JOIN w ON w.v = t.node
              JOIN dist p ON p.node = w.u AND p.c + w.c = t.c
              WHERE t.node <> 1
              GROUP BY t.node
            ), walk AS (
              SELECT 0 AS k,
                     (SELECT CAST(max(s_suppkey) AS BIGINT) FROM supplier)
                     AS node
              UNION ALL
              SELECT walk.k + 1, p.pred
              FROM walk JOIN pred p ON p.node = walk.node
            ), hops AS (
              SELECT walk.k, p.pred AS source, walk.node AS target
              FROM walk JOIN pred p ON p.node = walk.node
            )
            SELECT CAST((SELECT max(k) FROM hops) + 1 - k AS INTEGER) AS seq,
                   CAST(source AS VARCHAR) AS source,
                   CAST(target AS VARCHAR) AS target,
                   CAST(w.c AS DOUBLE) AS cost
            FROM hops JOIN w ON w.u = hops.source AND w.v = hops.target""",
        "gridloop_tile_counts": f"""
            SELECT {tile} AS tile_id, count(*) AS n_points
            FROM documents GROUP BY 1""",
        "snap": f"""
            SELECT doc_id, d2 FROM (
              SELECT d.doc_id,
                     CAST(({PX} - {ZX}) * ({PX} - {ZX}) +
                          ({PY} - {ZY}) * ({PY} - {ZY}) AS BIGINT) AS d2,
                     row_number() OVER (
                       PARTITION BY d.doc_id
                       ORDER BY ({PX} - {ZX}) * ({PX} - {ZX}) +
                                ({PY} - {ZY}) * ({PY} - {ZY}), c.c_custkey
                     ) AS rk
              FROM documents d, customer c)
            WHERE rk = 1 AND d2 <= 9000000""",
        "dedup_exact": """
            SELECT md5(text) AS dup_hash, min(doc_id) AS keeper_id,
                   count(*) AS n_dups
            FROM documents GROUP BY 1""",
        "near_dup_pairs": shingles + """
          , sk AS (
            -- one-permutation 16-bucket min sketch (bucket = first hex
            -- digit of md5), mirroring sgspark.textops.minhash_sketch
            SELECT doc_id,
                   strpos('0123456789abcdef', substr(md5(sh), 1, 1)) - 1
                     AS bucket,
                   min(md5(sh)) AS h
            FROM sh GROUP BY 1, 2
          ), sig AS (
            SELECT doc_id, bucket // 4 AS band,
                   string_agg(h, '' ORDER BY h) AS bh
            FROM sk GROUP BY 1, 2
          ), cand AS (
            SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b
            FROM sig s1 JOIN sig s2 USING (band, bh)
            WHERE s1.doc_id < s2.doc_id
          ), sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1
          ), inter AS (
            SELECT c.a, c.b, count(*) AS i FROM cand c
            JOIN sh sa ON sa.doc_id = c.a
            JOIN sh sb ON sb.doc_id = c.b AND sa.sh = sb.sh
            GROUP BY 1, 2)
          SELECT a, b, round(i * 1.0 / (na.n + nb.n - i), 6) AS jaccard
          FROM inter JOIN sizes na ON na.doc_id = a
          JOIN sizes nb ON nb.doc_id = b
          WHERE round(i * 1.0 / (na.n + nb.n - i), 6) >= 0.5""",
        "token_stats": """
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                   length(text) AS n_chars_calc,
                   round((length(text) - (len(string_split(text, ' ')) - 1))
                         * 1.0 / len(string_split(text, ' ')), 6)
                     AS mean_token_len
            FROM documents""",
        "quality": """
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                   round(len(list_filter(string_split(text, ' '), w -> w IN
                     ('the','a','of','and','le','la','et','les','el','y',
                      'los','der','die','und','das'))) * 1.0 /
                     len(string_split(text, ' ')), 6) AS stopword_ratio,
                   round((CASE WHEN length(text) BETWEEN 100 AND 400
                          THEN 1.0 ELSE 0.5 END) *
                         (0.5 + len(list_filter(string_split(text, ' '),
                            w -> w IN ('the','a','of','and','le','la','et',
                            'les','el','y','los','der','die','und','das')))
                          * 1.0 / len(string_split(text, ' '))), 6) AS quality
            FROM documents""",
        "langid": """
            SELECT doc_id,
              CASE
                WHEN en > 0 AND en >= fr AND en >= es AND en >= de THEN 'en'
                WHEN fr > 0 AND fr >= es AND fr >= de THEN 'fr'
                WHEN es > 0 AND es >= de THEN 'es'
                WHEN de > 0 THEN 'de'
                ELSE 'und' END AS lang_pred
            FROM (
              SELECT doc_id,
                len(list_filter(string_split(text,' '),
                    w -> w IN ('the','a','of','and'))) AS en,
                len(list_filter(string_split(text,' '),
                    w -> w IN ('le','la','et','les'))) AS fr,
                len(list_filter(string_split(text,' '),
                    w -> w IN ('el','la','y','los'))) AS es,
                len(list_filter(string_split(text,' '),
                    w -> w IN ('der','die','und','das'))) AS de
              FROM documents)""",
        "cosine_topk": """
            WITH q AS (
              SELECT vec_id, t.i AS pos,
                     CAST(round(embedding[CAST(t.i AS INTEGER)] * 1000)
                          AS BIGINT) AS v
              FROM embeddings, generate_series(1, 64) t(i)
            ), norms AS (
              SELECT vec_id, sum(v * v) AS n2 FROM q GROUP BY 1
            ), sims AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     sum(a.v * b.v) / sqrt(CAST(na.n2 AS DOUBLE) *
                                           CAST(nb.n2 AS DOUBLE)) AS sim_raw
              FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id <> b.vec_id
              JOIN norms na ON na.vec_id = a.vec_id
              JOIN norms nb ON nb.vec_id = b.vec_id
              GROUP BY a.vec_id, b.vec_id, na.n2, nb.n2)
            SELECT vec_id, neighbor_id, round(sim_raw, 6) AS sim, k_rank
            FROM (
              SELECT vec_id, neighbor_id, sim_raw,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY sim_raw DESC, neighbor_id) AS k_rank
              FROM sims)
            WHERE k_rank <= 5""",
        "embedding_near_dups": """
            WITH q AS (
              SELECT vec_id, t.i AS pos,
                     CAST(round(embedding[CAST(t.i AS INTEGER)] * 1000)
                          AS BIGINT) AS v
              FROM embeddings, generate_series(1, 64) t(i)
            ), norms AS (
              SELECT vec_id, sum(v * v) AS n2 FROM q GROUP BY 1
            )
            SELECT a, b, round(sim_raw, 6) AS sim FROM (
              SELECT qa.vec_id AS a, qb.vec_id AS b,
                     sum(qa.v * qb.v) / sqrt(CAST(na.n2 AS DOUBLE) *
                                             CAST(nb.n2 AS DOUBLE))
                       AS sim_raw
              FROM q qa JOIN q qb ON qa.pos = qb.pos
                 AND qa.vec_id < qb.vec_id
              JOIN norms na ON na.vec_id = qa.vec_id
              JOIN norms nb ON nb.vec_id = qb.vec_id
              GROUP BY qa.vec_id, qb.vec_id, na.n2, nb.n2)
            WHERE sim_raw >= 0.35""",
        # png_decode: the oracle never sees the PNG bytes — it recomputes
        # the pixel statistics from the synth formula (media.synth_images),
        # so the engine's zlib-inflate + unfilter + stats path is checked
        # value-exactly.  Integer sums; mean is one double division +
        # round(…, 6) on both sides (no representable half-way ties:
        # size divides 2^5*3*7*… while 1e6 ties need a 2^7 factor).
        "png_decode": """
            WITH d AS (
              SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
                     CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS c
              FROM documents
            ), px AS (
              SELECT d.doc_id, d.w, d.h, d.c,
                     (x.i*7 + y.i*13 + ch.i*17 + d.doc_id*31) % 256 AS v
              FROM d, generate_series(0, 16) x(i),
                   generate_series(0, 14) y(i), generate_series(0, 2) ch(i)
              WHERE x.i < d.w AND y.i < d.h AND ch.i < d.c)
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN 'ppm' ELSE 'png' END
                     AS media_kind,
                   CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                   CAST(c AS INTEGER) AS channels,
                   CAST(sum(v) AS BIGINT) AS px_sum,
                   CAST(min(v) AS INTEGER) AS px_min,
                   CAST(max(v) AS INTEGER) AS px_max,
                   round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS px_mean
            FROM px GROUP BY doc_id, w, h, c""",
        "events_hourly": """
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM events GROUP BY 1, 2""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_base_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY 1, 2""",
        # Rolling polynomial fingerprint: DuckDB list_reduce uses the first
        # element as its init, which equals Spark's fold from 0 because
        # 0*131 + c1 = c1 (round-3 upgrade from rows-only).
        "fingerprint": """
            SELECT doc_id,
                   list_reduce(
                     list_transform(generate_series(1, length(text)),
                                    i -> CAST(ascii(substring(text, i, 1))
                                              AS BIGINT)),
                     (acc, c) -> (acc * 131 + c) % 1000000007)
                   AS fingerprint
            FROM documents""",
        # Zonal stats: the synthetic raster is a pure formula at integer
        # pixel centers (FIXTURES.md F5) and zone edges are half-integers,
        # so DuckDB integrates it exactly; libm 1-ulp sin/cos differences
        # are ~1e-14 against a 1e-6 rounding grid (round-3 upgrade).
        "zonal_stats": f"""
            WITH px AS (
              SELECT 254000 + i*20 + 10 AS x, 6644000 + j*20 + 10 AS y,
                     sin((254000 + i*20 + 10)/500.0)
                     + cos((6644000 + j*20 + 10)/700.0) AS v
              FROM generate_series(0, 399) s(i), generate_series(0, 399) t(j)
            ), z AS (
              SELECT c_custkey AS zone_id, {ZX} AS cx, {ZY} AS cy, {ZR} AS r
              FROM customer WHERE c_custkey % 37 = 0)
            SELECT z.zone_id, count(*) AS count, round(avg(v), 6) AS mean_val
            FROM z JOIN px ON px.x BETWEEN z.cx - z.r AND z.cx + z.r
                          AND px.y BETWEEN z.cy - z.r AND z.cy + z.r
            GROUP BY z.zone_id""",
        # IVF with n_probe == n_centroids scans every inverted list, so the
        # output IS the exact top-k: gated against the brute-force oracle
        # (round-3 upgrade from rows-only).
        "ann_lsh": """
            WITH q AS (
              SELECT vec_id, t.i AS pos,
                     CAST(round(embedding[CAST(t.i AS INTEGER)] * 1000)
                          AS BIGINT) AS v
              FROM embeddings, generate_series(1, 64) t(i)
            ), norms AS (
              SELECT vec_id, sum(v * v) AS n2 FROM q GROUP BY 1
            ), sims AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     sum(a.v * b.v) / sqrt(CAST(na.n2 AS DOUBLE) *
                                           CAST(nb.n2 AS DOUBLE)) AS sim_raw
              FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id <> b.vec_id
              JOIN norms na ON na.vec_id = a.vec_id
              JOIN norms nb ON nb.vec_id = b.vec_id
              GROUP BY a.vec_id, b.vec_id, na.n2, nb.n2)
            SELECT vec_id, neighbor_id, round(sim_raw, 6) AS sim, k_rank
            FROM (
              SELECT vec_id, neighbor_id, sim_raw,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY sim_raw DESC, neighbor_id) AS k_rank
              FROM sims)
            WHERE k_rank <= 5""",
        "ann_ivf": """
            WITH q AS (
              SELECT vec_id, t.i AS pos,
                     CAST(round(embedding[CAST(t.i AS INTEGER)] * 1000)
                          AS BIGINT) AS v
              FROM embeddings, generate_series(1, 64) t(i)
            ), norms AS (
              SELECT vec_id, sum(v * v) AS n2 FROM q GROUP BY 1
            ), sims AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     sum(a.v * b.v) / sqrt(CAST(na.n2 AS DOUBLE) *
                                           CAST(nb.n2 AS DOUBLE)) AS sim_raw
              FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id <> b.vec_id
              JOIN norms na ON na.vec_id = a.vec_id
              JOIN norms nb ON nb.vec_id = b.vec_id
              GROUP BY a.vec_id, b.vec_id, na.n2, nb.n2)
            SELECT vec_id, neighbor_id, round(sim_raw, 6) AS sim, k_rank
            FROM (
              SELECT vec_id, neighbor_id, sim_raw,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY sim_raw DESC, neighbor_id) AS k_rank
              FROM sims)
            WHERE k_rank <= 5""",
        # Connected components of the square-overlap graph via a recursive
        # CTE (min-label propagation restricted to l < b, which still lets
        # every component minimum reach all members) — upgrades the
        # iterative-CC gates from rows-only (round-3).
        "zone_clusters": f"""
            WITH RECURSIVE z AS (
              SELECT c_custkey AS id, {ZX} AS cx, {ZY} AS cy, {ZR} AS r
              FROM customer),
            e AS (
              SELECT a.id AS a, b.id AS b FROM z a JOIN z b
              ON abs(a.cx - b.cx) <= a.r + b.r
             AND abs(a.cy - b.cy) <= a.r + b.r),
            lbl(id, l) AS (
              SELECT id, id FROM z
              UNION
              SELECT e.b, lbl.l FROM lbl JOIN e ON e.a = lbl.id
              WHERE lbl.l < e.b)
            SELECT id AS zone_id, min(l) AS cluster FROM lbl GROUP BY id""",
        "zone_dissolve": f"""
            WITH RECURSIVE z AS (
              SELECT c_custkey AS id, {ZX} AS cx, {ZY} AS cy, {ZR} AS r
              FROM customer),
            e AS (
              SELECT a.id AS a, b.id AS b FROM z a JOIN z b
              ON abs(a.cx - b.cx) <= a.r + b.r
             AND abs(a.cy - b.cy) <= a.r + b.r),
            lbl(id, l) AS (
              SELECT id, id FROM z
              UNION
              SELECT e.b, lbl.l FROM lbl JOIN e ON e.a = lbl.id
              WHERE lbl.l < e.b)
            SELECT count(DISTINCT l2) AS n_parts FROM (
              SELECT id, min(l) AS l2 FROM lbl GROUP BY id)""",
        # SimHash with the shared polynomial token hash: bits >= 44 of the
        # hash are zero in both engines (sign-sum is -n_tokens -> bit 0),
        # so packing bits 0..43 reproduces the full 64-bit value.
        "simhash": """
            WITH t AS (
              SELECT doc_id, list_reduce(
                list_transform(generate_series(1, length(w)),
                               i -> CAST(ascii(substring(w, i, 1)) AS BIGINT)),
                (acc, c) -> (acc * 131 + c) % 17592186044416) AS hh
              FROM (SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              w -> length(w) > 0)) AS w
                    FROM documents)
            ), s AS (
              SELECT doc_id, sum(CASE WHEN (hh >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0, sum(CASE WHEN (hh >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1, sum(CASE WHEN (hh >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2, sum(CASE WHEN (hh >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3, sum(CASE WHEN (hh >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4, sum(CASE WHEN (hh >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5, sum(CASE WHEN (hh >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6, sum(CASE WHEN (hh >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7, sum(CASE WHEN (hh >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8, sum(CASE WHEN (hh >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9, sum(CASE WHEN (hh >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10, sum(CASE WHEN (hh >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11, sum(CASE WHEN (hh >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12, sum(CASE WHEN (hh >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13, sum(CASE WHEN (hh >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14, sum(CASE WHEN (hh >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15, sum(CASE WHEN (hh >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b16, sum(CASE WHEN (hh >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b17, sum(CASE WHEN (hh >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b18, sum(CASE WHEN (hh >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b19, sum(CASE WHEN (hh >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b20, sum(CASE WHEN (hh >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b21, sum(CASE WHEN (hh >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b22, sum(CASE WHEN (hh >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b23, sum(CASE WHEN (hh >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b24, sum(CASE WHEN (hh >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b25, sum(CASE WHEN (hh >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b26, sum(CASE WHEN (hh >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b27, sum(CASE WHEN (hh >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b28, sum(CASE WHEN (hh >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b29, sum(CASE WHEN (hh >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b30, sum(CASE WHEN (hh >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b31, sum(CASE WHEN (hh >> 32) & 1 = 1 THEN 1 ELSE -1 END) AS b32, sum(CASE WHEN (hh >> 33) & 1 = 1 THEN 1 ELSE -1 END) AS b33, sum(CASE WHEN (hh >> 34) & 1 = 1 THEN 1 ELSE -1 END) AS b34, sum(CASE WHEN (hh >> 35) & 1 = 1 THEN 1 ELSE -1 END) AS b35, sum(CASE WHEN (hh >> 36) & 1 = 1 THEN 1 ELSE -1 END) AS b36, sum(CASE WHEN (hh >> 37) & 1 = 1 THEN 1 ELSE -1 END) AS b37, sum(CASE WHEN (hh >> 38) & 1 = 1 THEN 1 ELSE -1 END) AS b38, sum(CASE WHEN (hh >> 39) & 1 = 1 THEN 1 ELSE -1 END) AS b39, sum(CASE WHEN (hh >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS b40, sum(CASE WHEN (hh >> 41) & 1 = 1 THEN 1 ELSE -1 END) AS b41, sum(CASE WHEN (hh >> 42) & 1 = 1 THEN 1 ELSE -1 END) AS b42, sum(CASE WHEN (hh >> 43) & 1 = 1 THEN 1 ELSE -1 END) AS b43
              FROM t GROUP BY doc_id
            ), h AS (
              SELECT doc_id, (CASE WHEN b0 > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) + (CASE WHEN b1 > 0 THEN CAST(2 AS BIGINT) ELSE 0 END) + (CASE WHEN b2 > 0 THEN CAST(4 AS BIGINT) ELSE 0 END) + (CASE WHEN b3 > 0 THEN CAST(8 AS BIGINT) ELSE 0 END) + (CASE WHEN b4 > 0 THEN CAST(16 AS BIGINT) ELSE 0 END) + (CASE WHEN b5 > 0 THEN CAST(32 AS BIGINT) ELSE 0 END) + (CASE WHEN b6 > 0 THEN CAST(64 AS BIGINT) ELSE 0 END) + (CASE WHEN b7 > 0 THEN CAST(128 AS BIGINT) ELSE 0 END) + (CASE WHEN b8 > 0 THEN CAST(256 AS BIGINT) ELSE 0 END) + (CASE WHEN b9 > 0 THEN CAST(512 AS BIGINT) ELSE 0 END) + (CASE WHEN b10 > 0 THEN CAST(1024 AS BIGINT) ELSE 0 END) + (CASE WHEN b11 > 0 THEN CAST(2048 AS BIGINT) ELSE 0 END) + (CASE WHEN b12 > 0 THEN CAST(4096 AS BIGINT) ELSE 0 END) + (CASE WHEN b13 > 0 THEN CAST(8192 AS BIGINT) ELSE 0 END) + (CASE WHEN b14 > 0 THEN CAST(16384 AS BIGINT) ELSE 0 END) + (CASE WHEN b15 > 0 THEN CAST(32768 AS BIGINT) ELSE 0 END) + (CASE WHEN b16 > 0 THEN CAST(65536 AS BIGINT) ELSE 0 END) + (CASE WHEN b17 > 0 THEN CAST(131072 AS BIGINT) ELSE 0 END) + (CASE WHEN b18 > 0 THEN CAST(262144 AS BIGINT) ELSE 0 END) + (CASE WHEN b19 > 0 THEN CAST(524288 AS BIGINT) ELSE 0 END) + (CASE WHEN b20 > 0 THEN CAST(1048576 AS BIGINT) ELSE 0 END) + (CASE WHEN b21 > 0 THEN CAST(2097152 AS BIGINT) ELSE 0 END) + (CASE WHEN b22 > 0 THEN CAST(4194304 AS BIGINT) ELSE 0 END) + (CASE WHEN b23 > 0 THEN CAST(8388608 AS BIGINT) ELSE 0 END) + (CASE WHEN b24 > 0 THEN CAST(16777216 AS BIGINT) ELSE 0 END) + (CASE WHEN b25 > 0 THEN CAST(33554432 AS BIGINT) ELSE 0 END) + (CASE WHEN b26 > 0 THEN CAST(67108864 AS BIGINT) ELSE 0 END) + (CASE WHEN b27 > 0 THEN CAST(134217728 AS BIGINT) ELSE 0 END) + (CASE WHEN b28 > 0 THEN CAST(268435456 AS BIGINT) ELSE 0 END) + (CASE WHEN b29 > 0 THEN CAST(536870912 AS BIGINT) ELSE 0 END) + (CASE WHEN b30 > 0 THEN CAST(1073741824 AS BIGINT) ELSE 0 END) + (CASE WHEN b31 > 0 THEN CAST(2147483648 AS BIGINT) ELSE 0 END) + (CASE WHEN b32 > 0 THEN CAST(4294967296 AS BIGINT) ELSE 0 END) + (CASE WHEN b33 > 0 THEN CAST(8589934592 AS BIGINT) ELSE 0 END) + (CASE WHEN b34 > 0 THEN CAST(17179869184 AS BIGINT) ELSE 0 END) + (CASE WHEN b35 > 0 THEN CAST(34359738368 AS BIGINT) ELSE 0 END) + (CASE WHEN b36 > 0 THEN CAST(68719476736 AS BIGINT) ELSE 0 END) + (CASE WHEN b37 > 0 THEN CAST(137438953472 AS BIGINT) ELSE 0 END) + (CASE WHEN b38 > 0 THEN CAST(274877906944 AS BIGINT) ELSE 0 END) + (CASE WHEN b39 > 0 THEN CAST(549755813888 AS BIGINT) ELSE 0 END) + (CASE WHEN b40 > 0 THEN CAST(1099511627776 AS BIGINT) ELSE 0 END) + (CASE WHEN b41 > 0 THEN CAST(2199023255552 AS BIGINT) ELSE 0 END) + (CASE WHEN b42 > 0 THEN CAST(4398046511104 AS BIGINT) ELSE 0 END) + (CASE WHEN b43 > 0 THEN CAST(8796093022208 AS BIGINT) ELSE 0 END) AS simhash FROM s)

            SELECT doc_id, simhash FROM h""",
        # max_hamming=3 makes 4x16 banding pigeonhole-exact: all-pairs
        # popcount in SQL equals the engine's banded candidates.
        "simhash_near_dups": """
            WITH t AS (
              SELECT doc_id, list_reduce(
                list_transform(generate_series(1, length(w)),
                               i -> CAST(ascii(substring(w, i, 1)) AS BIGINT)),
                (acc, c) -> (acc * 131 + c) % 17592186044416) AS hh
              FROM (SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              w -> length(w) > 0)) AS w
                    FROM documents)
            ), s AS (
              SELECT doc_id, sum(CASE WHEN (hh >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0, sum(CASE WHEN (hh >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1, sum(CASE WHEN (hh >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2, sum(CASE WHEN (hh >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3, sum(CASE WHEN (hh >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4, sum(CASE WHEN (hh >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5, sum(CASE WHEN (hh >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6, sum(CASE WHEN (hh >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7, sum(CASE WHEN (hh >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8, sum(CASE WHEN (hh >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9, sum(CASE WHEN (hh >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10, sum(CASE WHEN (hh >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11, sum(CASE WHEN (hh >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12, sum(CASE WHEN (hh >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13, sum(CASE WHEN (hh >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14, sum(CASE WHEN (hh >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15, sum(CASE WHEN (hh >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b16, sum(CASE WHEN (hh >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b17, sum(CASE WHEN (hh >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b18, sum(CASE WHEN (hh >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b19, sum(CASE WHEN (hh >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b20, sum(CASE WHEN (hh >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b21, sum(CASE WHEN (hh >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b22, sum(CASE WHEN (hh >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b23, sum(CASE WHEN (hh >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b24, sum(CASE WHEN (hh >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b25, sum(CASE WHEN (hh >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b26, sum(CASE WHEN (hh >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b27, sum(CASE WHEN (hh >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b28, sum(CASE WHEN (hh >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b29, sum(CASE WHEN (hh >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b30, sum(CASE WHEN (hh >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b31, sum(CASE WHEN (hh >> 32) & 1 = 1 THEN 1 ELSE -1 END) AS b32, sum(CASE WHEN (hh >> 33) & 1 = 1 THEN 1 ELSE -1 END) AS b33, sum(CASE WHEN (hh >> 34) & 1 = 1 THEN 1 ELSE -1 END) AS b34, sum(CASE WHEN (hh >> 35) & 1 = 1 THEN 1 ELSE -1 END) AS b35, sum(CASE WHEN (hh >> 36) & 1 = 1 THEN 1 ELSE -1 END) AS b36, sum(CASE WHEN (hh >> 37) & 1 = 1 THEN 1 ELSE -1 END) AS b37, sum(CASE WHEN (hh >> 38) & 1 = 1 THEN 1 ELSE -1 END) AS b38, sum(CASE WHEN (hh >> 39) & 1 = 1 THEN 1 ELSE -1 END) AS b39, sum(CASE WHEN (hh >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS b40, sum(CASE WHEN (hh >> 41) & 1 = 1 THEN 1 ELSE -1 END) AS b41, sum(CASE WHEN (hh >> 42) & 1 = 1 THEN 1 ELSE -1 END) AS b42, sum(CASE WHEN (hh >> 43) & 1 = 1 THEN 1 ELSE -1 END) AS b43
              FROM t GROUP BY doc_id
            ), h AS (
              SELECT doc_id, (CASE WHEN b0 > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) + (CASE WHEN b1 > 0 THEN CAST(2 AS BIGINT) ELSE 0 END) + (CASE WHEN b2 > 0 THEN CAST(4 AS BIGINT) ELSE 0 END) + (CASE WHEN b3 > 0 THEN CAST(8 AS BIGINT) ELSE 0 END) + (CASE WHEN b4 > 0 THEN CAST(16 AS BIGINT) ELSE 0 END) + (CASE WHEN b5 > 0 THEN CAST(32 AS BIGINT) ELSE 0 END) + (CASE WHEN b6 > 0 THEN CAST(64 AS BIGINT) ELSE 0 END) + (CASE WHEN b7 > 0 THEN CAST(128 AS BIGINT) ELSE 0 END) + (CASE WHEN b8 > 0 THEN CAST(256 AS BIGINT) ELSE 0 END) + (CASE WHEN b9 > 0 THEN CAST(512 AS BIGINT) ELSE 0 END) + (CASE WHEN b10 > 0 THEN CAST(1024 AS BIGINT) ELSE 0 END) + (CASE WHEN b11 > 0 THEN CAST(2048 AS BIGINT) ELSE 0 END) + (CASE WHEN b12 > 0 THEN CAST(4096 AS BIGINT) ELSE 0 END) + (CASE WHEN b13 > 0 THEN CAST(8192 AS BIGINT) ELSE 0 END) + (CASE WHEN b14 > 0 THEN CAST(16384 AS BIGINT) ELSE 0 END) + (CASE WHEN b15 > 0 THEN CAST(32768 AS BIGINT) ELSE 0 END) + (CASE WHEN b16 > 0 THEN CAST(65536 AS BIGINT) ELSE 0 END) + (CASE WHEN b17 > 0 THEN CAST(131072 AS BIGINT) ELSE 0 END) + (CASE WHEN b18 > 0 THEN CAST(262144 AS BIGINT) ELSE 0 END) + (CASE WHEN b19 > 0 THEN CAST(524288 AS BIGINT) ELSE 0 END) + (CASE WHEN b20 > 0 THEN CAST(1048576 AS BIGINT) ELSE 0 END) + (CASE WHEN b21 > 0 THEN CAST(2097152 AS BIGINT) ELSE 0 END) + (CASE WHEN b22 > 0 THEN CAST(4194304 AS BIGINT) ELSE 0 END) + (CASE WHEN b23 > 0 THEN CAST(8388608 AS BIGINT) ELSE 0 END) + (CASE WHEN b24 > 0 THEN CAST(16777216 AS BIGINT) ELSE 0 END) + (CASE WHEN b25 > 0 THEN CAST(33554432 AS BIGINT) ELSE 0 END) + (CASE WHEN b26 > 0 THEN CAST(67108864 AS BIGINT) ELSE 0 END) + (CASE WHEN b27 > 0 THEN CAST(134217728 AS BIGINT) ELSE 0 END) + (CASE WHEN b28 > 0 THEN CAST(268435456 AS BIGINT) ELSE 0 END) + (CASE WHEN b29 > 0 THEN CAST(536870912 AS BIGINT) ELSE 0 END) + (CASE WHEN b30 > 0 THEN CAST(1073741824 AS BIGINT) ELSE 0 END) + (CASE WHEN b31 > 0 THEN CAST(2147483648 AS BIGINT) ELSE 0 END) + (CASE WHEN b32 > 0 THEN CAST(4294967296 AS BIGINT) ELSE 0 END) + (CASE WHEN b33 > 0 THEN CAST(8589934592 AS BIGINT) ELSE 0 END) + (CASE WHEN b34 > 0 THEN CAST(17179869184 AS BIGINT) ELSE 0 END) + (CASE WHEN b35 > 0 THEN CAST(34359738368 AS BIGINT) ELSE 0 END) + (CASE WHEN b36 > 0 THEN CAST(68719476736 AS BIGINT) ELSE 0 END) + (CASE WHEN b37 > 0 THEN CAST(137438953472 AS BIGINT) ELSE 0 END) + (CASE WHEN b38 > 0 THEN CAST(274877906944 AS BIGINT) ELSE 0 END) + (CASE WHEN b39 > 0 THEN CAST(549755813888 AS BIGINT) ELSE 0 END) + (CASE WHEN b40 > 0 THEN CAST(1099511627776 AS BIGINT) ELSE 0 END) + (CASE WHEN b41 > 0 THEN CAST(2199023255552 AS BIGINT) ELSE 0 END) + (CASE WHEN b42 > 0 THEN CAST(4398046511104 AS BIGINT) ELSE 0 END) + (CASE WHEN b43 > 0 THEN CAST(8796093022208 AS BIGINT) ELSE 0 END) AS simhash FROM s)

            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                   AS hamming
            FROM h a JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
        # coverage_clean: per-id areas of the cleaned rectilinear fixture,
        # derived analytically (see q_coverage_clean docstring): tiles keep
        # 100^2; the overlapper keeps 100^2 - 99^2 (tile-covered region
        # removed); the frame keeps its ring plus the whole thin-gap
        # network = universe - tiles - overlapper.
        "coverage_clean": """
            SELECT CAST(n_nationkey AS BIGINT) AS pid,
                   CAST(100 * 100 AS DOUBLE) AS area
            FROM nation
            UNION ALL
            SELECT 1000,
                   CAST(605 * 605 - 25 * 100 * 100
                        - (100 * 100 - 99 * 99) AS DOUBLE)
            UNION ALL
            SELECT 1001, CAST(100 * 100 - 99 * 99 AS DOUBLE)
            ORDER BY pid""",
    }
