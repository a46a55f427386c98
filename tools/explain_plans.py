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

    # ngon zones through the distributed point route: the plan should
    # show each side's Scan chain once, the JVM cover explode and bucket
    # expression, the AQE-exempt repartition on both sides and ONE
    # FlatMapCoGroupsInArrow on the pair path
    SF1 = "/root/testdata/sf0.1"
    pts1 = extract_geometries(documents_with_spans(spark, SF1)) \
        .where("geom_kind = 'point' AND span_pos = 1")
    # right side materialized (like bench's cached zones): the point
    # route takes Python-free rights only
    ngon = wkt_to_wkb_df(zones_from_customer(spark, SF1, shape="ngon64")) \
        .localCheckpoint()
    pip_ngon = sjoin_pairs(pts1, ngon, "within", left_id="doc_index",
                           right_id="zone_id", broadcast_right=False,
                           assume_left_points=True)
    sections.append(("PIP sjoin — 64-gon rights, distributed point route: "
                     "point cells and zone cover cells hashed into buckets "
                     "-> pinned repartition both sides -> ONE Arrow "
                     "cogroup per bucket (cell + bbox pairing, banded "
                     "PIP refine)", cap(pip_ngon)))

    # the same inputs under dwithin: distance has no point executor, so
    # the distance-expanded point covers take the shared cell join and
    # the Arrow refine kernel at any size
    dw_ngon = sjoin_pairs(pts1, ngon, "dwithin", left_id="doc_index",
                          right_id="zone_id", distance=100.0,
                          broadcast_right=False, assume_left_points=True)
    sections.append(("point x polygon dwithin, distributed route — "
                     "distance-expanded point covers, shuffle equi-join "
                     "on cell_key, JVM anchor dedup, ONE MapInPandas "
                     "refine", cap(dw_ngon)))

    # point lefts x a small general-polygon right: the broadcast route
    # has no compiled executor for non-rectangles, so the points take the
    # shared cell join and the Arrow refine kernel
    ng = wkt_to_wkb_df(zones_from_customer(spark, SF, shape="ngon8"))
    pip_bcast = sjoin_pairs(pts, ng, "within", left_id="doc_index",
                            right_id="zone_id", assume_left_points=True)
    sections.append(("point x polygon sjoin, broadcast route — point "
                     "cells BroadcastHashJoin'd against the driver-built "
                     "right cover, ONE MapInPandas refine reading the "
                     "broadcast GeomArray", cap(pip_bcast)))

    z = zones.select(F.col("zone_id"), "geometry", "minx", "miny",
                     "maxx", "maxy")
    a = z.where("zone_id % 2 = 0").withColumnRenamed("zone_id", "aid")
    b = z.where("zone_id % 2 = 1").withColumnRenamed("zone_id", "bid")

    # polygon lefts x a small polygon right: the broadcast Arrow route —
    # right bboxes broadcast into the cell join, anchor dedup JVM-side,
    # right geometries read from the broadcast GeomArray in the kernel
    pp = sjoin_pairs(ng.where("zone_id % 2 = 0"), ng.where("zone_id % 2 = 1"),
                     "intersects", left_id="zone_id", right_id="zone_id")
    sections.append(("polygon x polygon sjoin, broadcast Arrow route — "
                     "left cover-cell explode BroadcastHashJoin'd against "
                     "the driver-built right cover (no left Exchange), "
                     "JVM anchor dedup, ONE MapInPandas refine",
                     cap(pp)))

    # line lefts (each zone's bbox diagonal) x the same right: the same
    # broadcast Arrow route — non-point lefts share one refine kernel
    lines = wkt_to_wkb_df(ng.where("zone_id % 2 = 0").selectExpr(
        "zone_id", "format_string('LINESTRING (%s %s, %s %s)', "
        "minx, miny, maxx, maxy) AS geometry_wkt"))
    lp = sjoin_pairs(lines, ng.where("zone_id % 2 = 1"), "intersects",
                     left_id="zone_id", right_id="zone_id")
    sections.append(("line x polygon sjoin, broadcast Arrow route — the "
                     "polygon-left plan shape: cover-cell explode "
                     "BroadcastHashJoin'd against the right bboxes, JVM "
                     "anchor dedup, ONE MapInPandas refine",
                     cap(lp)))

    # fused overlay intersection: ONE Arrow kernel after the cell equi-join
    from sgspark.overlay import _intersection_rows
    inter = _intersection_rows(a, b, "aid", "bid", 2000.0)
    sections.append(("overlay intersection — FUSED plan: cover-cell "
                     "equi-join (JVM, bbox join filter) feeding ONE "
                     "MapInPandas (anchor dedup + tiered booleans); no "
                     "refine pass, no geometry re-joins",
                     cap(inter)))

    # overlay difference: the same cell join, an Arrow refine, ONE grouped
    # Arrow erase per left id, and one left outer join back to df1
    from sgspark.overlay import clean_overlay
    diff = clean_overlay(a, b, "difference", id1="aid", id2="bid")
    sections.append(("overlay difference — grouped erase: cover-cell "
                     "equi-join (JVM, bbox join filter) -> MapInPandas "
                     "intersects refine -> ONE FlatMapGroupsInArrow per "
                     "left id (erase by the partners' union) -> left outer "
                     "join keeps lefts without partners in the JVM",
                     cap(diff)))

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
