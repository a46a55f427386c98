"""Capture `.explain(formatted)` for the engine's key plans into
BENCH/PLANS.md — evidence that filters/pruning reach the scans, joins
broadcast where intended, and the hot paths stay inside WholeStageCodegen.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def cap(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from sgspark.session import get_spark
    from sgspark.synth import documents_with_spans, zones_from_customer
    from sgspark.io import extract_geometries, wkt_to_wkb_df
    from sgspark.joins import sjoin_pairs
    from sgspark.tiling import add_grid_id
    from pyspark.sql import functions as F

    spark = get_spark("plans", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    sections = []

    docs = documents_with_spans(spark, SF)
    geo = extract_geometries(docs)
    pts = geo.where("geom_kind = 'point' AND span_pos = 1")
    zones = wkt_to_wkb_df(zones_from_customer(spark, SF))

    tiled = add_grid_id(pts.withColumnRenamed("minx", "x")
                        .withColumnRenamed("miny", "y"), 1000,
                        out_col="tile_id") \
        .groupBy("tile_id").count()
    sections.append(("tile assignment + count (pure JVM expression, "
                     "partial aggregation)", cap(tiled)))

    pip = sjoin_pairs(pts, zones, "within", left_id="doc_index",
                      right_id="zone_id")
    sections.append(("PIP sjoin — point-left x rect-right compiles to a "
                     "BroadcastHashJoin + between-filters (zero Python)",
                     cap(pip)))

    pip_kernel = sjoin_pairs(pts, zones, "within", left_id="doc_index",
                             right_id="zone_id", broadcast_right=False)
    sections.append(("PIP sjoin — general distributed path (cell-cover "
                     "explode, shuffle equi-join, Arrow refine kernel)",
                     cap(pip_kernel)))

    # high-vertex pack path (round 6): ngon zones through the fully
    # distributed join — the plan should show the chained-vertex pack
    # columns (__evx/__evy/__eskip) flowing into the compiled PIP
    # residual, with the AQE-exempt repartition on both sides
    # sf0.1 world: at sf0.01 the tuned cell grid is so fine relative to
    # the 2000-unit star radii that the cover cap routes to the kernel
    # (correct, just not the plan under audit)
    SF1 = "/root/testdata/sf0.1"
    pts1 = extract_geometries(documents_with_spans(spark, SF1)) \
        .where("geom_kind = 'point' AND span_pos = 1")
    # right side materialized (like bench's cached zones): the
    # distributed path's type probe only runs over python-free plans
    ngon = wkt_to_wkb_df(zones_from_customer(spark, SF1, shape="ngon64")) \
        .localCheckpoint()
    pip_ngon = sjoin_pairs(pts1, ngon, "within", left_id="doc_index",
                           right_id="zone_id", broadcast_right=False,
                           assume_left_points=True)
    sections.append(("PIP sjoin — 64-gon rights, distributed pack path: "
                     "O(|right|) Arrow pack pass -> pinned repartition "
                     "both sides -> cell equi-join with the compiled "
                     "chained-vertex PIP residual (no Python on the "
                     "pair path)", cap(pip_ngon)))

    z = zones.select(F.col("zone_id"), "geometry", "minx", "miny",
                     "maxx", "maxy")
    a = z.where("zone_id % 2 = 0").withColumnRenamed("zone_id", "aid")
    b = z.where("zone_id % 2 = 1").withColumnRenamed("zone_id", "bid")

    # polygon lefts x a small polygon right: the broadcast Arrow route —
    # right bboxes broadcast into the cell join, anchor dedup JVM-side,
    # right geometries read from the broadcast GeomArray in the kernel
    ng = wkt_to_wkb_df(zones_from_customer(spark, SF, shape="ngon8"))
    pp = sjoin_pairs(ng.where("zone_id % 2 = 0"), ng.where("zone_id % 2 = 1"),
                     "intersects", left_id="zone_id", right_id="zone_id")
    sections.append(("polygon x polygon sjoin, broadcast Arrow route — "
                     "left cover-cell explode BroadcastHashJoin'd against "
                     "the driver-built right cover (no left Exchange), "
                     "JVM anchor dedup, ONE MapInPandas refine",
                     cap(pp)))

    # fused overlay intersection: ONE Arrow kernel after the cell equi-join
    from sgspark.overlay import _intersection_rows
    inter = _intersection_rows(a, b, "aid", "bid", 2000.0)
    sections.append(("overlay intersection — FUSED plan: cover-cell "
                     "equi-join (JVM, bbox join filter) feeding ONE "
                     "MapInPandas (anchor dedup + tiered booleans); no "
                     "refine pass, no geometry re-joins",
                     cap(inter)))

    # kNN first block round: explode + equi-join + window, all JVM
    from sgspark.knn import get_k_nearest_neighbors
    p = pts.selectExpr("doc_index AS doc_id", "minx AS x", "miny AS y")
    centers = zones.selectExpr("zone_id", "cx AS x", "cy AS y")
    knn = get_k_nearest_neighbors(p, centers, 3, left_id="doc_id",
                                  right_id="zone_id", gridsize=2000.0)
    sections.append(("kNN — ring-block join + row_number window (pure JVM; "
                     "unresolved lefts re-run at 3x coarser grid — plan of "
                     "the union of resolved rounds)",
                     cap(knn)))

    # column pruning / filter pushdown on a plain scan
    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .where("l_quantity > 45").select("l_orderkey", "l_quantity")
    sections.append(("parquet scan — PushedFilters + pruned ReadSchema",
                     cap(li)))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("# Physical plans of the engine's key paths\n\n")
        f.write("Generated by tools/explain_plans.py at sf0.01.\n\n")
        for title, body in sections:
            f.write(f"## {title}\n\n```\n{body}\n```\n\n")
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
