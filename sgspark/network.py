"""Network analysis (secondary scope — SURVEY.md §2.10).

Reference: `/root/reference/src/sgis/networkanalysis/` — igraph-based
shortest paths over road networks with string node ids minted by
coordinate-WKT dedup (`nodes.py:19-86`).

Spark mapping: iterative relaxation joins (distributed Bellman-Ford),
driver-coordinated fixpoint with localCheckpoint per round — the same
pattern as connected components.  Suitable for the multi-source
od_cost_matrix / service_area shapes; k-routes / route geometries are
future work (documented, reference networkanalysis.py:663-941).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .geom.wkb import from_wkb


def make_node_ids(lines: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Edges with string node ids minted from endpoint coordinates
    (make_node_ids, nodes.py:19-86): source/target = "x_y" of the line's
    first/last vertex; length as the default weight."""
    cols = [f"`{f.name}` {f.dataType.simpleString()}"
            for f in lines.schema.fields]
    schema = ", ".join(cols) + \
        ", source string, target string, length double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf[geometry].tolist())
            starts = ga.coords_start_per_geom()
            ends = starts + ga.coords_count_per_geom() - 1
            a = ga.coords[starts]
            b = ga.coords[ends]
            # pandas astype(str) renders float64 exactly like f"{x!r}"
            # (shortest roundtrip repr) — vectorized, no per-row Python
            out = pdf.copy()
            out["source"] = (pd.Series(a[:, 0]).astype(str) + "_" +
                             pd.Series(a[:, 1]).astype(str)).to_numpy()
            out["target"] = (pd.Series(b[:, 0]).astype(str) + "_" +
                             pd.Series(b[:, 1]).astype(str)).to_numpy()
            out["length"] = ga.length()
            yield out

    return lines.mapInPandas(kernel, schema=schema)


def _endpoint_cols_kernel(lines: DataFrame, geometry: str, wkt: bool
                          ) -> DataFrame:
    """Shared endpoint extractor for make_edge_coords_cols /
    make_edge_wkt_cols: first/last vertex per line in one Arrow pass."""
    if wkt:
        extra = ", source_wkt string, target_wkt string"
    else:
        extra = ", source_coords array<double>, target_coords array<double>"
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in lines.schema.fields) + extra

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf[geometry].tolist())
            starts = ga.coords_start_per_geom()
            ends = starts + ga.coords_count_per_geom() - 1
            a, b = ga.coords[starts], ga.coords[ends]
            out = pdf.copy()
            if wkt:
                # astype(str) = shortest-roundtrip repr (same encoding the
                # minted node ids use), so WKT of equal points is equal
                out["source_wkt"] = ("POINT (" +
                                     pd.Series(a[:, 0]).astype(str) + " " +
                                     pd.Series(a[:, 1]).astype(str) +
                                     ")").to_numpy()
                out["target_wkt"] = ("POINT (" +
                                     pd.Series(b[:, 0]).astype(str) + " " +
                                     pd.Series(b[:, 1]).astype(str) +
                                     ")").to_numpy()
            else:
                out["source_coords"] = list(a)
                out["target_coords"] = list(b)
            yield out

    return lines.mapInPandas(kernel, schema=schema)


def make_edge_coords_cols(lines: DataFrame,
                          geometry: str = "geometry") -> DataFrame:
    """Add `source_coords` / `target_coords` ([x, y] of the first/last
    vertex) to a line layer (reference `make_edge_coords_cols`,
    general.py:820-849)."""
    return _endpoint_cols_kernel(lines, geometry, wkt=False)


def make_edge_wkt_cols(lines: DataFrame,
                       geometry: str = "geometry") -> DataFrame:
    """Add `source_wkt` / `target_wkt` (POINT WKT of the first/last
    vertex) to a line layer (reference `make_edge_wkt_cols`,
    general.py:852-881)."""
    return _endpoint_cols_kernel(lines, geometry, wkt=True)


def close_network_holes_to_deadends(edges: DataFrame, max_distance: float,
                                    *, hole_col: str = "hole_fill",
                                    gridsize: float | None = None
                                    ) -> DataFrame:
    """Fill gaps between pairs of DEADENDS only (reference
    `close_network_holes_to_deadends`, closing_network_holes.py:204-276 +
    `_find_holes_deadends` :384-431): each deadend connects to its single
    nearest OTHER deadend when the distance is strictly below
    `max_distance` — one new edge per qualifying deadend, no pair dedup
    (mutually-nearest deadends yield both directions, as in the
    reference).  `close_network_holes` is the deadend-to-any-node
    variant."""
    deg = (edges.select(F.col("source").alias("node"))
           .union(edges.select(F.col("target").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    dead = deg.where("deg = 1").select("node")
    pts = dead.select(
        "node",
        F.expr("cast(split(node, '_')[0] as double)").alias("x"),
        F.expr("cast(split(node, '_')[1] as double)").alias("y"))
    from .knn import get_k_nearest_neighbors
    g = gridsize or max(float(max_distance), 1.0)
    nn = get_k_nearest_neighbors(pts, pts, 2, left_id="node",
                                 right_id="node", gridsize=g)
    new = (nn.where((F.col("k") == 2) &
                    (F.col("distance") < float(max_distance)))
           .select(F.col("node").alias("source"),
                   F.col("neighbor_index").alias("target"),
                   F.col("distance").alias("length"))
           .withColumn(hole_col, F.lit(True)))
    old = edges if hole_col in edges.columns else \
        edges.withColumn(hole_col, F.lit(False))
    old = old.withColumn(hole_col, F.coalesce(F.col(hole_col), F.lit(False)))
    return old.unionByName(new, allowMissingColumns=True)


def get_k_nearest_points_for_deadends(lines: DataFrame, k: int,
                                      max_distance: float, *,
                                      gridsize: float | None = None
                                      ) -> DataFrame:
    """k nearest candidate connection points per deadend (reference
    `get_k_nearest_points_for_deadends`, closing_network_holes.py:19-79):
    deadends are line endpoints occurring exactly once across the layer;
    candidates are the nearest point on every SEGMENT of other lines
    within `max_distance` of the deadend (the reference's
    `shapely.get_point(shortest_line(segment, deadend), 0)`); the k
    nearest are kept.  We rank per DEADEND — the name's plain reading —
    where the reference's groupby(level=0) ranks per candidate line (an
    indexing artifact of its pandas pipeline).

    All-JVM: endpoint degree count -> single-cell point x segment cover-
    cell join -> exact point-to-segment projection in whole-stage codegen;
    Python touches each line once (node minting / segment explode).
    Output: (node, k_rank, distance, x, y) — x/y on the segment."""
    e = lines if {"source", "target"} <= set(lines.columns) \
        else make_node_ids(lines)
    # materialize the minted line ids: monotonically_increasing_id is
    # partition-order-dependent, and two independently recomputed plan
    # branches (deg/dead vs segs) could otherwise mint DIFFERENT ids for
    # the same line under nondeterministic upstream partitioning, silently
    # breaking the own-line exclusion below (ADVICE r6, medium)
    e = e.withColumn("__line", F.monotonically_increasing_id()) \
        .localCheckpoint()
    deg = (e.select(F.col("source").alias("node"), "__line")
           .unionByName(e.select(F.col("target").alias("node"), "__line"))
           .groupBy("node").agg(F.count("*").alias("deg"),
                                F.min("__line").alias("__dline")))
    dead = (deg.where("deg = 1")
            .select("node", "__dline",
                    F.expr("cast(split(node, '_')[0] as double)").alias("__px"),
                    F.expr("cast(split(node, '_')[1] as double)").alias("__py")))
    g = float(gridsize or max(float(max_distance), 1.0))
    from .joins import FALSE_EASTING, Y_BITS, _cover_cells
    from .conversion import get_line_segments
    dead = dead.withColumn("cell_key", F.expr(
        f"cast(floor((__px + {FALSE_EASTING}) / {g}) as bigint) * "
        f"{1 << Y_BITS} + cast(floor(__py / {g}) as bigint)"))
    segs = get_line_segments(e.select("__line", "geometry"))
    segs = _endpoint_cols_kernel(segs, "geometry", wkt=False).select(
        "__line", "segment_idx",
        F.expr("source_coords[0]").alias("__ax"),
        F.expr("source_coords[1]").alias("__ay"),
        F.expr("target_coords[0]").alias("__bx"),
        F.expr("target_coords[1]").alias("__by"))
    segs = (segs
            .withColumn("minx", F.least("__ax", "__bx"))
            .withColumn("miny", F.least("__ay", "__by"))
            .withColumn("maxx", F.greatest("__ax", "__bx"))
            .withColumn("maxy", F.greatest("__ay", "__by")))
    segs = _cover_cells(segs, g, expand=float(max_distance)) \
        .select("__line", "segment_idx", "__ax", "__ay", "__bx", "__by",
                "cell_key")
    # point covers exactly one cell -> each (deadend, segment) pair joins
    # at most once; same-line candidates excluded like the reference's
    # _range_idx_left != _range_idx_right
    cand = dead.join(segs, "cell_key").where("__line != __dline")
    ll = "((__bx - __ax) * (__bx - __ax) + (__by - __ay) * (__by - __ay))"
    t = (f"(CASE WHEN {ll} > 0D THEN least(greatest("
         f"((__px - __ax) * (__bx - __ax) + (__py - __ay) * (__by - __ay))"
         f" / {ll}, 0D), 1D) ELSE 0D END)")
    cand = (cand
            .withColumn("x", F.expr(f"__ax + {t} * (__bx - __ax)"))
            .withColumn("y", F.expr(f"__ay + {t} * (__by - __ay)"))
            .withColumn("distance", F.expr(
                "sqrt((__px - x) * (__px - x) + (__py - y) * (__py - y))"))
            .where(F.col("distance") <= float(max_distance)))
    # __line appended as the final key: two candidate segments on
    # DIFFERENT lines can tie on all four leading keys (duplicate
    # geometries), which made the k cutoff nondeterministic (ADVICE r6)
    w = Window.partitionBy("node").orderBy(
        F.col("distance").asc(), F.col("x").asc(), F.col("y").asc(),
        F.col("segment_idx").asc(), F.col("__line").asc())
    return (cand.withColumn("k_rank", F.row_number().over(w))
            .where(F.col("k_rank") <= int(k))
            .select("node", F.col("k_rank").cast("long").alias("k_rank"),
                    "distance", "x", "y"))


def get_connected_components(edges: DataFrame) -> DataFrame:
    """Component label per node (finding_isolated_networks.py:10-104)."""
    from .clusters import connected_components
    verts = edges.select(F.col("source").alias("id")).union(
        edges.select(F.col("target").alias("id"))).distinct()
    e = edges.select(F.col("source").alias("src"), F.col("target").alias("dst"))
    return connected_components(e, verts)


# Per-call diagnostics of the last shortest_paths invocation (round counts
# — the scale evidence the VERDICT asks to be logged):
#   {"shortcut_doublings": d, "shortcut_hops": k, "shortcut_rows": n,
#    "bf_rounds": r}
last_run_stats: dict = {}


def _min_plus_shortcuts(e: DataFrame, max_rows: int
                        ) -> tuple[DataFrame, int, int]:
    """Repeated min-plus squaring of the (deduped) edge set: returns
    (T, hops, doublings) where T(u, v, w) = min cost over paths of <= hops
    edges.  Doubling stops when the relation stops improving (small graphs
    reach full min-plus closure in O(log diameter) joins) or when its row
    count would exceed `max_rows` (huge graphs keep bounded k-hop
    shortcuts).  Each doubling is ONE Spark job (lazy checkpoint + agg)."""
    T = e.groupBy("u", "v").agg(F.min("w").alias("w")).localCheckpoint()
    n_prev = T.count()
    # AQE coalesces the tiny shortcut relation to 1-2 partitions, but the
    # self-join's OUTPUT explodes quadratically per key — pin the join
    # parallelism explicitly (user-specified repartition counts are exempt
    # from AQE coalescing), sized from the relation's row count so small
    # graphs don't drown in task-scheduling overhead while dense closures
    # still spread across the cluster.
    par = e.sparkSession.sparkContext.defaultParallelism
    hops, doublings = 1, 0
    while True:
        npart = int(min(max(n_prev // 4000, 4), max(par, 4)))
        j = (T.repartition(npart, "v").alias("a")
             .join(T.repartition(npart, "u").alias("b"),
                   F.col("a.v") == F.col("b.u"))
             .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"),
                     (F.col("a.w") + F.col("b.w")).alias("w"),
                     F.lit(1).alias("__t")))
        cand = T.withColumn("__t", F.lit(0)).unionByName(j)
        T2 = (cand.groupBy("u", "v")
              .agg(F.min("w").alias("w"),
                   F.min(F.when(F.col("__t") == 0, F.col("w")))
                   .alias("__old"))).localCheckpoint(eager=False)
        stats = T2.agg(
            F.count("*").alias("n"),
            F.sum((F.col("__old").isNull() |
                   (F.col("w") < F.col("__old"))).cast("long")).alias("imp")
        ).first()
        n2, improved = int(stats["n"]), int(stats["imp"] or 0)
        if improved == 0:
            return T, hops, doublings  # closure reached
        if n2 > max_rows:
            # budget: keep the smaller pre-doubling relation — even on the
            # FIRST doubling, or the over-budget T2 would get self-joined
            # once more (a potentially quadratic join the budget exists to
            # prevent).
            return T, hops, doublings
        T = T2.drop("__old")
        n_prev = n2
        hops *= 2
        doublings += 1
        if hops >= (1 << 24):  # safety; converges long before
            return T, hops, doublings


def _local_graph_max_edges() -> int:
    """Edge-count cap for the driver-side shortest-path fast path.  2M
    directed edges x ~40 bytes ~ 80 MB of driver heap — the same order as
    the spatial joins' byte-bounded broadcast cap.  Set to 0 to force the
    distributed path (A/B kill switch)."""
    import os
    return int(os.environ.get("SGSPARK_LOCAL_GRAPH_EDGES", "2000000"))


# cap on the driver route's dense per-origin arrays: |origins| x |nodes|
# costs and |origins| x |edges| relaxation temporaries
_LOCAL_ORIGIN_CELLS = 50_000_000


def _plan_maybe_small(df: DataFrame, cap_rows: int) -> bool:
    """Plan-time screen for the bounded-graph probe: when Catalyst's size
    estimate already proves the edge list is far over the cap, skip the
    limit-collect probe entirely (no job).  Estimates are unreliable after
    joins, so only an estimate > 64x the cap's worst-case bytes says no."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
        if 0 < est < (1 << 62) and est > 64 * 40 * cap_rows:
            return False
    except Exception:
        pass
    return True


def _bounded_rows(df: DataFrame, cap: int) -> list:
    """limit(cap+1).collect() as ONE job: the default incremental limit
    executes 1 -> 4 -> 16 -> ... partition jobs, which is pure latency on
    the small frames these probes target (and each job re-pays the python
    runner when the frame is a parallelized local list).  Callers treat
    len(rows) > cap as over-budget."""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    try:
        spark.conf.set(key, "100000")
        return df.limit(cap + 1).collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _shortest_paths_local(erows: list, e: DataFrame, origins: DataFrame
                          ) -> DataFrame | None:
    """Driver-side Bellman-Ford over a collected (bounded) edge list —
    the same fixpoint as distributed plain Bellman-Ford (the default
    distributed path sums costs through min-plus shortcuts, whose float
    association can differ by an ulp for non-representable weights):

      * relaxation arithmetic is the same IEEE ops in the same order
        (cand = cost(u) + w; keep the min), iterated to the fixpoint, so
        converged costs equal the distributed groupBy-min fixpoint;
      * predecessors follow phase 3's rule exactly: pred(u) = min{p :
        cost(p) + w(p, u) == cost(u)} on converged costs, origin rows
        (cost 0, pred NULL) win ties because NULL sorts first in the
        distributed min(struct(cost, pred)).

    Returns None (caller falls back to the distributed path) when the
    origin set is over-budget for the dense driver arrays: the cost
    matrix (origins x nodes) or the relaxation temporaries (origins x
    edges)."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    orows = _bounded_rows(origins.select("oid", "node"), 100_000)
    if len(orows) > 100_000:
        return None
    src_l = [r[0] for r in erows]
    dst_l = [r[1] for r in erows]
    w = np.array([r[2] for r in erows], dtype=np.float64)
    nodes = pd.unique(pd.Series(src_l + dst_l + [o[1] for o in orows],
                                dtype=object))
    nid = pd.Series(np.arange(len(nodes)), index=nodes)
    n_nodes = len(nodes)
    oids = pd.unique(pd.Series([o[0] for o in orows], dtype=object))
    oidx = pd.Series(np.arange(len(oids)), index=oids)
    if len(oids) * max(n_nodes, len(erows), 1) > _LOCAL_ORIGIN_CELLS:
        return None
    src = nid.loc[src_l].to_numpy() if erows else np.zeros(0, dtype=np.int64)
    dst = nid.loc[dst_l].to_numpy() if erows else np.zeros(0, dtype=np.int64)

    dist = np.full((len(oids), n_nodes), np.inf)
    for o in orows:
        dist[oidx.loc[o[0]], nid.loc[o[1]]] = 0.0
    oi_rep = np.repeat(np.arange(len(oids)), len(src))
    dst_rep = np.tile(dst, len(oids))
    rounds = 0
    for _ in range(n_nodes + 1):
        cand = (dist[:, src] + w[None, :]).ravel()
        new = dist.copy()
        np.minimum.at(new, (oi_rep, dst_rep), cand)
        rounds += 1
        if np.array_equal(new, dist):
            break
        dist = new
    else:  # negative cycle — mirror the distributed non-convergence error
        raise RuntimeError(
            f"shortest_paths did not converge in {n_nodes + 1} rounds "
            "(negative cycle?)")
    last_run_stats.clear()
    last_run_stats.update(shortcut_doublings=0, shortcut_hops=1,
                          bf_rounds=rounds, local_graph=True)

    # phase-3 predecessors on converged costs (vectorized per origin):
    # among edges with cost(p) + w == cost(u), the smallest p; origins
    # with cost 0 keep pred NULL (NULL sorts first in min(struct)).
    out_oid, out_u, out_cost, out_pred = [], [], [], []
    node_arr = np.asarray(nodes, dtype=object)
    src_arr = np.asarray(src_l, dtype=object)
    origin_nodes_by_oid: dict = {}
    for o in orows:
        origin_nodes_by_oid.setdefault(o[0], set()).add(o[1])
    for k, oid in enumerate(oids):
        d = dist[k]
        reached = np.isfinite(d)
        eq = reached[dst] & (d[src] + w == d[dst])
        pred_of: dict = {}
        for j in np.nonzero(eq)[0]:
            u = dst[j]
            p = src_arr[j]
            cur = pred_of.get(u)
            if cur is None or p < cur:
                pred_of[u] = p
        omask = origin_nodes_by_oid.get(oid, set())
        for u in np.nonzero(reached)[0]:
            un = node_arr[u]
            pred = pred_of.get(u)
            if un in omask and d[u] == 0.0:
                pred = None
            out_oid.append(oid)
            out_u.append(un)
            out_cost.append(float(d[u]))
            out_pred.append(pred)

    from pyspark.sql.types import DoubleType, StructField, StructType
    oid_t = origins.schema["oid"].dataType
    node_t = origins.schema["node"].dataType
    schema = StructType([
        StructField("oid", oid_t), StructField("u", node_t),
        StructField("cost", DoubleType()), StructField("pred", node_t)])
    pdf = pd.DataFrame({"oid": out_oid, "u": out_u, "cost": out_cost,
                        "pred": out_pred})
    sdf = spark.createDataFrame(pdf, schema=schema)
    # side-channel for od_cost_matrix's local assembly (driver-sequential,
    # same-call-chain only): the converged table + the collected origin
    # rows, so the OD assembly re-probes neither
    sdf._sgspark_local_pdf = pdf
    sdf._sgspark_local_orows = orows
    return sdf


def shortest_paths(edges: DataFrame, origins: DataFrame, *,
                   weight: str = "length", directed: bool = False,
                   max_iter: int = 50,
                   penalties: DataFrame | None = None,
                   shortcut_budget: int | None = None) -> DataFrame:
    """Multi-source shortest paths WITH PREDECESSORS — diameter-safe.

    Returns (oid, u, cost, pred) — pred = previous node on a shortest path
    (NULL at the origin), tie-broken deterministically as the smallest
    node id among cost-optimal predecessors (the Bellman-Ford
    min-struct(cost, pred) fixpoint).

    Three phases (round-4; VERDICT r3 directive 2 — one Spark job per
    relaxation round is kept, but rounds no longer equal the graph's hop
    diameter):

      1. min-plus doubling shortcuts (`_min_plus_shortcuts`): O(log
         diameter) self-joins build T = min cost over paths of <= k hops,
         k doubling until closure or a row budget (default max(16|E|,
         8192));
      2. Bellman-Ford over T: converges in ceil(diameter_hops / k)
         rounds — 1 round when T reached closure;
      3. ONE exact predecessor round over the ORIGINAL edges with the
         converged costs: pred(u) = min{p : cost(p) + w(p,u) == cost(u)} —
         identical to the plain-BF fixpoint tie-break, so route gates stay
         hash-exact.

    `penalties` (oid, pu, pv, mult) multiplies specific edge weights
    per-origin — the k-routes lever (reference _get_route.py:160-257);
    per-origin weights cannot be baked into shared shortcuts, so that path
    keeps the plain per-hop iteration.

    Round counts of the last call are recorded in
    `sgspark.network.last_run_stats`."""
    e = edges.select(F.col("source").alias("u"), F.col("target").alias("v"),
                     F.col(weight).alias("w"))
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))

    cap = _local_graph_max_edges()
    if penalties is None and cap > 0 and _plan_maybe_small(e, cap):
        # BOUNDED-GRAPH FAST PATH (round 7, guide §3.1/§5): a graph whose
        # edge list fits comfortably on the driver is solved there — the
        # same byte-bounded broadcast trade the spatial joins make.  The
        # distributed path costs ~1 Spark job per shortcut doubling + BF
        # round (each a full shuffle stage of pure latency on a small
        # relation); the driver twin is exact: plain Bellman-Ford fixpoint
        # with the identical relaxation arithmetic (cost + w, min), then
        # the identical phase-3 predecessor rule min{p: cost(p) + w ==
        # cost(u)}.  Large graphs (edge count above the cap, env
        # SGSPARK_LOCAL_GRAPH_EDGES) keep the distributed
        # shortcut-doubling path unchanged.  ONE bounded probe job: a
        # limit(cap+1) collect — over-cap graphs stop pulling at the
        # cap and fall through.
        erows = _bounded_rows(e, cap)
        if len(erows) <= cap:
            fast = _shortest_paths_local(erows, e, origins)
            if fast is not None:
                return fast
        del erows

    # NULL preds carry the node type, as the driver path's pred does
    node_t = origins.schema["node"].dataType
    e = e.localCheckpoint()
    n_edges = e.count()

    if penalties is None:
        budget = shortcut_budget
        if budget is None:
            # 16x|E| balances shortcut-join density against saved BF
            # rounds: doubling stops before the relation densifies toward
            # closure (whose self-joins cost more than the rounds they
            # save), while deep graphs still get k-hop shortcuts that
            # divide the round count by k
            budget = max(16 * n_edges, 8_192)
        T, hops, doublings = _min_plus_shortcuts(e, budget)
        dist = origins.select(F.col("oid"), F.col("node").alias("u"),
                              F.lit(0.0).alias("cost")).localCheckpoint()
        rounds = 0
        for _ in range(max_iter):
            rel = dist.join(T, "u").select(
                "oid", F.col("v").alias("u"),
                (F.col("cost") + F.col("w")).alias("cost"),
                F.lit(1).alias("__cand"))
            new = (dist.withColumn("__cand", F.lit(0)).unionByName(rel)
                   .groupBy("oid", "u")
                   .agg(F.min("cost").alias("cost"),
                        F.min(F.when(F.col("__cand") == 0, F.col("cost")))
                        .alias("__old"))
                   .withColumn("__imp", F.col("__old").isNull() |
                               (F.col("cost") < F.col("__old")))
                   .drop("__old"))
            new = new.localCheckpoint(eager=False)
            improved = new.where("__imp").count()
            dist = new.drop("__imp")
            rounds += 1
            if improved == 0:
                break
        else:
            raise RuntimeError(
                f"shortest_paths did not converge in {max_iter} rounds over "
                f"{hops}-hop shortcuts; raise max_iter")
        last_run_stats.clear()
        last_run_stats.update(shortcut_doublings=doublings,
                              shortcut_hops=hops, bf_rounds=rounds)
        # phase 3: exact predecessor round over ORIGINAL edges
        cand = dist.join(e, "u").select(
            "oid", F.col("v").alias("u"),
            (F.col("cost") + F.col("w")).alias("cost"),
            F.col("u").alias("pred"))
        origin0 = origins.select(
            "oid", F.col("node").alias("u"), F.lit(0.0).alias("cost"),
            F.lit(None).cast(node_t).alias("pred"))
        fin = (cand.unionByName(origin0)
               .groupBy("oid", "u")
               .agg(F.min(F.struct("cost", "pred")).alias("s"))
               .select("oid", "u", F.col("s.cost").alias("cost"),
                       F.col("s.pred").alias("pred")))
        return fin.localCheckpoint()

    dist = origins.select(F.col("oid"), F.col("node").alias("u"),
                          F.lit(0.0).alias("cost"),
                          F.lit(None).cast(node_t).alias("pred"))
    dist = dist.localCheckpoint()
    for _ in range(max_iter):
        rel = dist.join(e, "u")
        if penalties is not None:
            p = penalties.select(F.col("oid").alias("__poid"),
                                 F.col("pu").alias("__ppu"),
                                 F.col("pv").alias("__ppv"), "mult")
            rel = (rel.join(p, (rel["oid"] == p["__poid"]) &
                            (rel["u"] == p["__ppu"]) &
                            (rel["v"] == p["__ppv"]), "left")
                   .drop("__poid", "__ppu", "__ppv")
                   .withColumn("w", F.col("w") * F.coalesce("mult", F.lit(1.0)))
                   .drop("mult"))
        relaxed = rel.select("oid", F.col("v").alias("u"),
                             (F.col("cost") + F.col("w")).alias("cost"),
                             F.col("u").alias("pred"),
                             F.lit(1).alias("__cand"))
        # min(struct(cost, pred)): min cost, ties to smallest pred — one
        # deterministic agg, no window.  The convergence check rides the
        # SAME aggregation (__old = best non-candidate cost) and the SAME
        # job as the checkpoint materialization: lazy localCheckpoint +
        # count() = ONE Spark job per round (VERDICT r2 directive 7).
        new = (dist.withColumn("__cand", F.lit(0)).unionByName(relaxed)
               .groupBy("oid", "u")
               .agg(F.min(F.struct("cost", "pred")).alias("s"),
                    F.min(F.when(F.col("__cand") == 0, F.col("cost")))
                    .alias("__old"))
               .select("oid", "u", F.col("s.cost").alias("cost"),
                       F.col("s.pred").alias("pred"),
                       (F.col("__old").isNull() |
                        (F.col("s.cost") < F.col("__old"))).alias("__imp")))
        new = new.localCheckpoint(eager=False)
        improved = new.where("__imp").count()
        dist = new.drop("__imp")
        if improved == 0:
            return dist
    raise RuntimeError(
        f"shortest_paths did not converge in {max_iter} rounds "
        "(graph deeper than max_iter hops); raise max_iter")


def _od_matrix_local(spark, dist_pdf, origins: DataFrame,
                     destinations: DataFrame,
                     orows: list | None = None) -> DataFrame | None:
    """Driver-side assembly of the OD matrix when shortest_paths took the
    bounded-graph fast path: replicates the distributed join shape row for
    row (dest rows left-joined on node, then origins x dest-dids
    left-joined on (oid, did); unreachable pairs NULL) without the two
    shuffle joins + crossJoin over driver-local data.  Bounded: skips to
    the distributed plan when origins or destinations exceed the probe
    caps, or when a collected oid, did or node is NULL: pandas merges
    match NULL keys, the distributed equi-joins do not."""
    import pandas as pd

    dd = _bounded_rows(destinations.select("did", "node"), 1_000_000)
    if len(dd) > 1_000_000:
        return None
    if orows is None:
        orows = _bounded_rows(origins.select("oid", "node"), 100_000)
    if len(orows) > 100_000 or len(orows) * len(dd) > _LOCAL_ORIGIN_CELLS:
        return None
    if any(v is None for r in (*orows, *dd) for v in r):
        return None
    dd_df = pd.DataFrame({"did": pd.Series([r[0] for r in dd], dtype=object),
                          "node": pd.Series([r[1] for r in dd],
                                            dtype=object)})
    oid_df = pd.DataFrame({"oid": pd.Series([r[0] for r in orows],
                                            dtype=object)})
    left = dist_pdf[["oid", "u", "cost"]].copy()
    left["oid"] = left["oid"].astype(object)
    out_rows = dd_df.merge(left.rename(columns={"u": "node"}),
                           on="node", how="left")[["oid", "did", "cost"]]
    cross = oid_df.merge(dd_df[["did"]], how="cross")
    res = cross.merge(out_rows, on=["oid", "did"], how="left")
    cost = [None if pd.isna(v) else float(v) for v in res["cost"]]
    from pyspark.sql.types import DoubleType, StructField, StructType
    schema = StructType([
        StructField("oid", origins.schema["oid"].dataType),
        StructField("did", destinations.schema["did"].dataType),
        StructField("cost", DoubleType())])
    pdf = pd.DataFrame({"oid": res["oid"], "did": res["did"],
                        "cost": pd.Series(cost, dtype=object)})
    return spark.createDataFrame(pdf, schema=schema)


def od_cost_matrix(edges: DataFrame, origins: DataFrame,
                   destinations: DataFrame, *, weight: str = "length",
                   directed: bool = False, max_iter: int = 50) -> DataFrame:
    """All-pairs origin->destination shortest-path costs
    (od_cost_matrix, networkanalysis.py:153-427) via distributed
    multi-source Bellman-Ford.

    origins/destinations: (oid/did, node) — node = the network node id the
    point snapped to (compose with point_ops.snap_all for search_tolerance
    semantics).  Unreachable pairs get NULL cost, like the reference.
    """
    dist = shortest_paths(edges, origins, weight=weight, directed=directed,
                          max_iter=max_iter)
    pdf = getattr(dist, "_sgspark_local_pdf", None)
    if pdf is not None:
        out = _od_matrix_local(dist.sparkSession, pdf, origins, destinations,
                               orows=getattr(dist, "_sgspark_local_orows",
                                             None))
        if out is not None:
            return out
    out = destinations.select("did", F.col("node").alias("u")) \
        .join(dist, "u", "left")
    return (origins.select("oid").crossJoin(destinations.select("did"))
            .join(out.select("oid", "did", "cost"), ["oid", "did"], "left"))


def get_route(edges: DataFrame, origins: DataFrame, destinations: DataFrame,
              *, weight: str = "length", directed: bool = False,
              max_iter: int = 50,
              dist: DataFrame | None = None) -> DataFrame:
    """Shortest-path EDGE SEQUENCES per (oid, did) — the reference's
    get_route (`_get_route.py:11-257`).  Returns
    (oid, did, seq, source, target, cost) with seq = 1-based position from
    the origin; unreachable pairs produce no rows.

    Distributed backtrack with JUMP CHAINS (round 4): the predecessor
    forest is first folded into per-node chains of up to 2^3 = 8
    predecessors (3 doubling self-joins, V bounded rows), then all od
    pairs walk 8 edges per round — rounds = ceil(path hops / 8) + 3
    instead of one join per hop."""
    if dist is None:
        dist = shortest_paths(edges, origins, weight=weight,
                              directed=directed, max_iter=max_iter)
    pred = dist.select("oid", F.col("u").alias("cur"), "pred", "cost")
    pred = pred.localCheckpoint()
    # jump-chain table: (oid, cur, chain=[pred, pred^2, ...] up to 8,
    # last=chain[-1]); a chain ends early where the predecessor forest
    # reaches the origin (that node is absent from J, ending the walk)
    J = pred.where(F.col("pred").isNotNull()).select(
        "oid", "cur", F.array("pred").alias("chain"),
        F.col("pred").alias("last")).localCheckpoint()
    for _ in range(3):
        a, b = J.alias("a"), J.alias("b")
        J = (a.join(b, (F.col("a.oid") == F.col("b.oid")) &
                    (F.col("a.last") == F.col("b.cur")), "left")
             .select(F.col("a.oid").alias("oid"),
                     F.col("a.cur").alias("cur"),
                     F.when(F.col("b.chain").isNull(), F.col("a.chain"))
                     .otherwise(F.concat(F.col("a.chain"), F.col("b.chain")))
                     .alias("chain"),
                     F.coalesce(F.col("b.last"), F.col("a.last"))
                     .alias("last")))
        J = J.localCheckpoint()
    frontier = (destinations.select("did", F.col("node").alias("cur"))
                .crossJoin(origins.select("oid").distinct())
                .join(pred.select("oid", "cur"), ["oid", "cur"], "inner")
                .select("oid", "did", "cur", F.lit(0).alias("pos")))
    pieces = []
    rounds = 0
    while rounds < max_iter:
        step = frontier.join(J, ["oid", "cur"], "inner")
        step = step.localCheckpoint()
        if step.isEmpty():
            break
        ex = step.select(
            "oid", "did", "cur", "chain", "pos",
            F.posexplode("chain").alias("__i", "source"))
        pieces.append(ex.select(
            "oid", "did", "source",
            F.when(F.col("__i") == 0, F.col("cur"))
            .otherwise(F.expr("chain[__i - 1]")).alias("target"),
            (F.col("pos") + F.col("__i")).alias("__back")))
        frontier = step.select(
            "oid", "did", F.col("last").alias("cur"),
            (F.col("pos") + F.size("chain")).alias("pos"))
        rounds += 1
    if not pieces:
        return (origins.select("oid").crossJoin(destinations.select("did"))
                .withColumn("seq", F.lit(None).cast("long"))
                .withColumn("source", F.lit(None).cast("string"))
                .withColumn("target", F.lit(None).cast("string"))
                .withColumn("cost", F.lit(None).cast("double"))
                .limit(0))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    from pyspark.sql import Window
    w = Window.partitionBy("oid", "did").orderBy(F.col("__back").desc())
    # per-edge cost lookup: DIRECTED networks join the original directed edge
    # list only — unioning reverses would report min(FT, TF) instead of the
    # cost of the direction actually traveled (round-2 advice; asymmetric
    # minute_cols FT/TF case of make_directed_network).  Undirected networks
    # may traverse an edge either way, so both orientations are unioned.
    fwd = edges.groupBy("source", "target").agg(F.min(weight).alias("cost"))
    if directed:
        edge_costs = fwd
    else:
        edge_costs = (fwd.unionByName(
            edges.groupBy(F.col("target").alias("source"),
                          F.col("source").alias("target"))
            .agg(F.min(weight).alias("cost")))
            .groupBy("source", "target").agg(F.min("cost").alias("cost")))
    return (out
            .withColumn("seq", F.row_number().over(w))
            .drop("__back")
            .join(edge_costs, ["source", "target"], "left")
            .select("oid", "did", "seq", "source", "target", "cost"))


def get_k_routes(edges: DataFrame, origins: DataFrame,
                 destinations: DataFrame, k: int, *,
                 weight: str = "length", directed: bool = False,
                 max_iter: int = 50, penalty: float = 2.0) -> DataFrame:
    """k alternative routes per od pair (reference get_k_routes,
    `_get_route.py:160-257`): after each solve, the used edges of each
    origin's routes get their weight multiplied by `penalty` FOR THAT
    ORIGIN only, and the network is re-solved.  Returns route rows with a
    `route_k` column (1 = shortest)."""
    pens = None
    outs = []
    for ki in range(1, k + 1):
        dist = shortest_paths(edges, origins, weight=weight,
                              directed=directed, max_iter=max_iter,
                              penalties=pens)
        r = get_route(edges, origins, destinations, weight=weight,
                      directed=directed, max_iter=max_iter, dist=dist) \
            .withColumn("route_k", F.lit(ki))
        r = r.localCheckpoint()
        outs.append(r)
        used = r.select("oid", F.col("source").alias("pu"),
                        F.col("target").alias("pv")).distinct() \
                .withColumn("mult", F.lit(float(penalty)))
        used_rev = used.select("oid", F.col("pv").alias("pu"),
                               F.col("pu").alias("pv"), "mult")
        new_pens = used.unionByName(used_rev)
        pens = (new_pens if pens is None else pens.unionByName(new_pens)) \
            .groupBy("oid", "pu", "pv") \
            .agg(F.max("mult").alias("mult")).localCheckpoint()
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def get_route_frequencies(edges: DataFrame, origins: DataFrame,
                          destinations: DataFrame, *,
                          weight: str = "length", directed: bool = False,
                          max_iter: int = 50) -> DataFrame:
    """Edge usage counts across all od shortest paths (reference
    get_route_frequencies): (source, target, frequency)."""
    r = get_route(edges, origins, destinations, weight=weight,
                  directed=directed, max_iter=max_iter)
    und = r.select(F.least("source", "target").alias("source"),
                   F.greatest("source", "target").alias("target"))
    return und.groupBy("source", "target").agg(
        F.count("*").alias("frequency"))


def make_directed_network(edges: DataFrame, *, direction_col: str = "oneway",
                          direction_vals: tuple = ("B", "FT", "TF"),
                          speed_col: str | None = None,
                          minute_cols: tuple | None = None) -> DataFrame:
    """Directed edge list from a two-way road layer
    (make_directed_network, directednetwork.py:14-260):
    'B' rows duplicate in both directions, 'FT' keep source->target,
    'TF' reverse.  With speed_col (km/h), adds `minutes` =
    length / speed * 60 / 1000; with minute_cols=(ft_col, tf_col), uses the
    per-direction minute columns like the reference's Norwegian layers."""
    b, ft, tf = direction_vals
    d = F.upper(F.col(direction_col))
    fwd = edges.where(d.isin([b, ft]))
    rev = (edges.where(d.isin([b, tf]))
           .withColumn("__s", F.col("source"))
           .withColumn("source", F.col("target"))
           .withColumn("target", F.col("__s")).drop("__s"))
    if minute_cols is not None:
        ftc, tfc = minute_cols
        fwd = fwd.withColumn("minutes", F.col(ftc))
        rev = rev.withColumn("minutes", F.col(tfc))
    out = fwd.unionByName(rev)
    if speed_col is not None:
        out = out.withColumn(
            "minutes", F.col("length") / F.col(speed_col) * 60.0 / 1000.0)
    return out


def make_directed_network_norway(edges: DataFrame,
                                 dropnegative: bool = True) -> DataFrame:
    """`make_directed_network` preset for Norwegian road data (reference
    `make_directed_network_norway`, directednetwork.py:14-86):
    direction column `oneway` with values ('B', 'FT', 'TF') and
    per-direction minute columns ('drivetime_fw', 'drivetime_bw').
    `dropnegative` filters the negative drivetime sentinel rows that
    would otherwise break graph building."""
    out = make_directed_network(edges, direction_col="oneway",
                                direction_vals=("B", "FT", "TF"),
                                minute_cols=("drivetime_fw",
                                             "drivetime_bw"))
    if dropnegative:
        out = out.where(F.col("minutes") >= 0)
    return out


def split_out_circles(lines: DataFrame, geometry: str = "geometry"
                      ) -> tuple[DataFrame, DataFrame]:
    """Split closed lines (rings: first vertex == last vertex, i.e. empty
    boundary) out of a line layer (reference `split_out_circles`,
    general.py:986-992).  Returns (open_lines, circles)."""
    wc = _endpoint_cols_kernel(lines, geometry, wkt=False)
    closed = ((F.element_at("source_coords", 1) ==
               F.element_at("target_coords", 1)) &
              (F.element_at("source_coords", 2) ==
               F.element_at("target_coords", 2)))
    drop = ("source_coords", "target_coords")
    return (wc.where(~closed).drop(*drop), wc.where(closed).drop(*drop))


def close_network_holes(edges: DataFrame, max_distance: float, *,
                        max_angle: float = 180.0,
                        gridsize: float | None = None) -> DataFrame:
    """Add connector edges between DEADENDS within max_distance
    (close_network_holes, closing_network_holes.py:81-431).  Deadends =
    nodes of degree 1; candidates from the kNN machinery; optional angle
    filter vs the deadend's incident edge direction.  Returns the edge
    layer with new rows flagged `hole_fill = true`."""
    deg = (edges.select(F.col("source").alias("node"))
           .union(edges.select(F.col("target").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    dead = deg.where("deg = 1").select("node")
    # node coords parsed from the minted "x_y" ids (make_node_ids contract)
    pts = dead.select(
        "node",
        F.expr("cast(split(node, '_')[0] as double)").alias("x"),
        F.expr("cast(split(node, '_')[1] as double)").alias("y"))
    from .knn import get_k_nearest_neighbors
    g = gridsize or max(float(max_distance), 1.0)
    nn = get_k_nearest_neighbors(pts, pts, 2, left_id="node",
                                 right_id="node", gridsize=g)
    cand = (nn.where((F.col("k") == 2) &
                     (F.col("distance") <= float(max_distance)) &
                     (F.col("node") < F.col("neighbor_index")))
            .select(F.col("node").alias("source"),
                    F.col("neighbor_index").alias("target"),
                    F.col("distance").alias("length")))
    if max_angle < 180.0:
        # angle filter: direction of the new edge vs the deadend's incident
        # edge; incident direction from the neighbor node of each deadend
        inc = (edges.select(F.col("source").alias("node"),
                            F.col("target").alias("other"))
               .union(edges.select(F.col("target").alias("node"),
                                   F.col("source").alias("other"))))
        inc = inc.join(dead, "node", "left_semi")

        def ang(nx, ny, ox, oy, tx, ty):
            # angle between (node->target_new) and (other->node) extended
            return (F.degrees(F.abs(
                F.atan2(ty - ny, tx - nx) - F.atan2(ny - oy, nx - ox))))

        c = cand.withColumn("sx", F.expr("cast(split(source,'_')[0] as double)")) \
                .withColumn("sy", F.expr("cast(split(source,'_')[1] as double)")) \
                .withColumn("tx", F.expr("cast(split(target,'_')[0] as double)")) \
                .withColumn("ty", F.expr("cast(split(target,'_')[1] as double)"))
        inc2 = inc.withColumn("ox", F.expr("cast(split(other,'_')[0] as double)")) \
                  .withColumn("oy", F.expr("cast(split(other,'_')[1] as double)")) \
                  .select(F.col("node").alias("source"), "ox", "oy")
        c = c.join(inc2, "source", "left")
        a = ang(F.col("sx"), F.col("sy"), F.col("ox"), F.col("oy"),
                F.col("tx"), F.col("ty"))
        a = F.least(a, F.lit(360.0) - a)
        cand = c.where(F.col("ox").isNull() | (a <= float(max_angle))) \
                .select("source", "target", "length").distinct()
    new = cand.withColumn("hole_fill", F.lit(True))
    old = edges.select("source", "target", "length") \
               .withColumn("hole_fill", F.lit(False))
    return old.unionByName(new)


def traveling_salesman_problem(points_xy, *, return_to_start: bool = True):
    """Approximate TSP tour over a small point set — reference
    `traveling_salesman_problem` (traveling_salesman.py:12-161, networkx
    christofides-style approximation on the driver).  Deterministic
    nearest-neighbor construction + 2-opt improvement; input is a local
    ndarray[n,2] exactly like the reference's in-memory usage."""
    pts = np.asarray(points_xy, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return list(range(n))
    d = np.sqrt(((pts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2))
    tour = [0]
    unvisited = set(range(1, n))
    while unvisited:
        last = tour[-1]
        nxt = min(unvisited, key=lambda j: (d[last, j], j))
        tour.append(nxt)
        unvisited.remove(nxt)
    # 2-opt until no improvement (deterministic scan order)
    improved = True
    while improved:
        improved = False
        m = n if return_to_start else n - 1
        for i in range(1, n - 1):
            for j in range(i + 1, m):
                a, b = tour[i - 1], tour[i]
                c, e = tour[j], tour[(j + 1) % n]
                if not return_to_start and (j + 1) == n:
                    continue
                if d[a, c] + d[b, e] + 1e-12 < d[a, b] + d[c, e]:
                    tour[i:j + 1] = reversed(tour[i:j + 1])
                    improved = True
    return tour


def service_area_nodes(edges: DataFrame, origins: DataFrame, breaks: float,
                       *, weight: str = "length", directed: bool = False,
                       max_iter: int = 50) -> DataFrame:
    """Nodes reachable within `breaks` cost from each origin
    (service_area semantics over nodes, networkanalysis.py:942-1198)."""
    dests_all = edges.select(F.col("source").alias("node")).union(
        edges.select(F.col("target").alias("node"))).distinct() \
        .withColumn("did", F.col("node"))
    od = od_cost_matrix(edges, origins, dests_all, weight=weight,
                        directed=directed, max_iter=max_iter)
    return od.where(F.col("cost") <= breaks).select(
        "oid", F.col("did").alias("node"), "cost")


def service_area_edges(edges: DataFrame, origins: DataFrame, breaks: float,
                       *, weight: str = "length", directed: bool = False,
                       max_iter: int = 50,
                       geometry: str | None = None) -> DataFrame:
    """PRECISE service area (precice_service_area, _service_area.py:19-158):
    every edge (or the PARTIAL piece of it) reachable within `breaks` cost.

    An edge (u, v, w) contributes, per origin, the fraction
    min(1, (breaks - cost(u)) / w) from its u end (and symmetrically from
    v on undirected networks — the union of both reaches).  Output:
    (oid, source, target, frac_from_source, frac_from_target[, geometry of
    the reachable piece(s) when a geometry column is given])."""
    dist = shortest_paths(edges, origins, weight=weight, directed=directed,
                          max_iter=max_iter)
    du = dist.select("oid", F.col("u").alias("source"),
                     F.col("cost").alias("__cu"))
    dv = dist.select("oid", F.col("u").alias("target"),
                     F.col("cost").alias("__cv"))
    e = edges.join(du, "source", "inner")
    e = e.join(dv, ["oid", "target"], "left")
    w = F.col(weight)
    frac_u = F.greatest(F.least((F.lit(float(breaks)) - F.col("__cu")) / w,
                                F.lit(1.0)), F.lit(0.0))
    frac_v = F.greatest(F.least((F.lit(float(breaks)) -
                                 F.coalesce("__cv", F.lit(float("inf"))))
                                / w, F.lit(1.0)), F.lit(0.0))
    out = (e.withColumn("frac_from_source", frac_u)
           .withColumn("frac_from_target",
                       frac_v if not directed else F.lit(0.0))
           .where((F.col("frac_from_source") > 0) |
                  (F.col("frac_from_target") > 0))
           .drop("__cu", "__cv"))
    if geometry is None:
        return out.select("oid", "source", "target",
                          "frac_from_source", "frac_from_target")

    from .geom.wkb import from_wkb, to_wkb
    from .geom.array import LINESTRING, from_rings
    from .line_ops import _cut_chain

    oid_t = dict((f.name, f.dataType.simpleString())
                 for f in origins.schema.fields)["oid"]
    cols = (f"oid {oid_t}, source string, target string, "
            f"frac_from_source double, frac_from_target double, "
            f"geometry binary")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf[geometry].tolist())
            lens = ga.length()
            rows = []
            for g in range(len(pdf)):
                fu = float(pdf["frac_from_source"].iloc[g])
                fv = float(pdf["frac_from_target"].iloc[g])
                chain = ga.rings_of_geom(g)[0]
                if fu + fv >= 1.0:  # fully covered
                    pieces = [chain]
                else:
                    pieces = []
                    if fu > 0:
                        pieces.append(_cut_chain(
                            chain, max(fu * float(lens[g]), 1e-12))[0])
                    if fv > 0:
                        pieces.append(_cut_chain(
                            chain[::-1], max(fv * float(lens[g]), 1e-12))[0])
                for p in pieces:
                    if len(p) >= 2:
                        rows.append((pdf["oid"].iloc[g],
                                     pdf["source"].iloc[g],
                                     pdf["target"].iloc[g], fu, fv,
                                     to_wkb(from_rings([[p]],
                                                       [LINESTRING]))[0]))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "oid", "source", "target", "frac_from_source",
                    "frac_from_target", "geometry"])

    return out.mapInPandas(kernel, schema=cols)


class NetworkAnalysisRules:
    """Rule/config object (networkanalysisrules.py:17-301): weight column
    validation + a deterministic rules hash used to invalidate cached
    graphs (the reference's lazy-rebuild seam, networkanalysis.py:
    1546-1604)."""

    def __init__(self, weight: str = "length", directed: bool = False,
                 search_tolerance: float = 250.0, split_lines: bool = False):
        self.weight = weight
        self.directed = directed
        self.search_tolerance = float(search_tolerance)
        self.split_lines = bool(split_lines)

    def validate(self, edges: DataFrame) -> None:
        if self.weight not in edges.columns:
            raise ValueError(
                f"weight column {self.weight!r} missing; edges have "
                f"{edges.columns} — run make_node_ids/make_directed_network "
                "first")
        t = dict((f.name, f.dataType.simpleString())
                 for f in edges.schema.fields)[self.weight]
        if t not in ("double", "float", "int", "bigint", "decimal(10,0)"):
            raise ValueError(f"weight column must be numeric, got {t}")

    def rules_hash(self) -> str:
        import hashlib
        key = (f"{self.weight}|{self.directed}|{self.search_tolerance}|"
               f"{self.split_lines}")
        return hashlib.md5(key.encode()).hexdigest()


def get_component_size(edges: DataFrame) -> DataFrame:
    """Add `component_index` and `component_size` columns to a network's
    edges (reference `get_component_size`,
    finding_isolated_networks.py:66-104): label connected components over
    the node graph, then each edge carries the node-count of its component.
    One extra groupBy over the component labels — no driver-side graph."""
    comp = get_connected_components(edges)
    sizes = comp.groupBy("cluster").agg(
        F.count("*").alias("component_size"))
    node_info = comp.join(sizes, "cluster")  # AQE broadcasts when small
    src_info = node_info.select(
        F.col("id").alias("source"),
        F.col("cluster").alias("component_index"),
        "component_size")
    return edges.join(src_info, "source")


class NetworkAnalysis:
    """The reference's stateful analysis facade (`NetworkAnalysis`,
    networkanalysis.py:35-1352) as a THIN wrapper over the engine's
    distributed route functions: holds (network, rules), caches the
    prepared edge table keyed by `rules.rules_hash()` (the reference's
    lazy graph-rebuild seam, networkanalysis.py:1546-1604), snaps point
    origins/destinations to network nodes within
    `rules.search_tolerance`, and appends one row per run to the `.log`
    pandas DataFrame (reference _runlog, networkanalysis.py:1281-1352).

    Origins/destinations: DataFrames with either a `node` column
    (pre-snapped, used as-is) or point rows (id + geometry/minx/miny),
    snapped to the nearest network node like the reference's
    search_tolerance semantics.  Methods return DataFrames; because the
    log records result statistics (count, percent_missing, cost_mean),
    each call materializes its result (the reference is eager too)."""

    def __init__(self, network: DataFrame,
                 rules: "NetworkAnalysisRules | dict",
                 log: bool = True, detailed_log: bool = False):
        import pandas as _pd
        if isinstance(rules, dict):
            rules = NetworkAnalysisRules(**rules)
        self.network = network
        self.rules = rules
        self._log_enabled = bool(log)
        self.detailed_log = bool(detailed_log)
        self.log = _pd.DataFrame()
        self._prepared: tuple[str, DataFrame] | None = None

    # ---- graph cache -------------------------------------------------
    def _edges(self) -> DataFrame:
        """Prepared edge table, rebuilt only when the rules hash changes
        (rules are mutable, like the reference's `nwa.rules.weight = …`)."""
        h = self.rules.rules_hash()
        if self._prepared is not None and self._prepared[0] == h:
            return self._prepared[1]
        e = self.network
        if not {"source", "target"} <= set(e.columns):
            e = make_node_ids(e)
        if self.rules.split_lines:
            from .line_ops import cut_lines
            e = make_node_ids(cut_lines(
                e.drop("source", "target", "length"),
                float(self.rules.search_tolerance)))
        self.rules.validate(e)
        e = e.localCheckpoint()
        self._prepared = (h, e)
        return e

    def _nodes_xy(self, e: DataFrame) -> DataFrame:
        return (e.select(F.col("source").alias("node"))
                .unionByName(e.select(F.col("target").alias("node")))
                .distinct()
                .withColumn("x", F.expr(
                    "cast(split(node, '_')[0] as double)"))
                .withColumn("y", F.expr(
                    "cast(split(node, '_')[1] as double)")))

    def _snap(self, pts: DataFrame, e: DataFrame, id_col: str,
              out_id: str) -> DataFrame:
        """(out_id, node): pass-through when a node column exists, else
        nearest network node within search_tolerance (reference
        search_tolerance snapping)."""
        if "node" in pts.columns:
            return pts.select(F.col(id_col).alias(out_id), "node")
        from .knn import get_k_nearest_neighbors
        p = pts.select(F.col(id_col).alias(out_id),
                       F.col("minx").alias("x"), F.col("miny").alias("y"))
        tol = float(self.rules.search_tolerance)
        nn = get_k_nearest_neighbors(p, self._nodes_xy(e), 1,
                                     left_id=out_id, right_id="node",
                                     gridsize=max(tol, 1.0))
        return nn.where(F.col("distance") <= tol) \
                 .select(out_id, F.col("neighbor_index").alias("node"))

    # ---- runs + log ---------------------------------------------------
    def _run(self, method: str, fn, origins: DataFrame,
             destinations: DataFrame | None, *args, max_iter: int,
             cost_col: str | None = "cost") -> DataFrame:
        """Snap the inputs, run `fn(edges, o[, d], *args)` under the rules,
        checkpoint the result and, when logging is on, append its log row
        (reference _runlog).  The row's counts and cost statistics come
        from ONE Spark aggregate; with logging off no job runs here beyond
        the checkpoint."""
        import time as _time
        t0 = _time.time()
        e = self._edges()
        o = self._snap(origins, e, origins.columns[0], "oid")
        d = self._snap(destinations, e, destinations.columns[0], "did") \
            if destinations is not None else None
        out = fn(e, o, *([] if d is None else [d]), *args,
                 weight=self.rules.weight, directed=self.rules.directed,
                 max_iter=max_iter).localCheckpoint()
        if self._log_enabled:
            self._log_row(method, t0, out, o, d, cost_col)
        return out

    def _log_row(self, method: str, t0: float, out: DataFrame,
                 o: DataFrame, d: DataFrame | None,
                 cost_col: str | None) -> None:
        import time as _time
        import datetime as _dt
        import pandas as _pd
        nul = F.lit(None).cast("double")
        has_cost = cost_col is not None and cost_col in out.columns
        rows = out.select(F.lit(0).alias("k"), (
            F.col(cost_col).cast("double") if has_cost else nul).alias("c"))
        for k, side in ((1, o), (2, d)):
            if side is not None:
                rows = rows.unionByName(
                    side.select(F.lit(k).alias("k"), nul.alias("c")))
        k, c = F.col("k"), F.col("c")
        res = k == 0
        miss = res & (c.isNull() | F.isnan(c))
        st = rows.agg(*[F.sum(x.cast("long")).alias(a) for x, a in (
            (res, "n"), (k == 1, "n_orig"), (k == 2, "n_dest"),
            (miss, "miss"))],
            F.avg(F.when(res & ~miss, c)).alias("mean")).first()
        n = int(st["n"] or 0)
        row = {
            "endtime": _dt.datetime.now().replace(microsecond=0),
            "minutes_elapsed": round((_time.time() - t0) / 60, 3),
            "method": method,
            "origins_count": int(st["n_orig"] or 0),
            "destinations_count": None if d is None
            else int(st["n_dest"] or 0),
            "percent_missing": _pd.NA,
            "cost_mean": _pd.NA,
        }
        if has_cost:
            row["percent_missing"] = float(st["miss"] / n * 100) if n \
                else 100.0
            row["cost_mean"] = float(st["mean"]) \
                if st["mean"] is not None else _pd.NA
        if self.detailed_log:
            for key, v in vars(self.rules).items():
                if not key.startswith("_"):
                    row[key] = v
        self.log = _pd.concat([self.log, _pd.DataFrame([row])],
                              ignore_index=True)

    # ---- analyses ------------------------------------------------------
    def od_cost_matrix(self, origins: DataFrame, destinations: DataFrame,
                       *, max_iter: int = 50) -> DataFrame:
        return self._run("od_cost_matrix", od_cost_matrix, origins,
                         destinations, max_iter=max_iter)

    def get_route(self, origins: DataFrame, destinations: DataFrame,
                  *, max_iter: int = 50) -> DataFrame:
        return self._run("get_route", get_route, origins, destinations,
                         max_iter=max_iter)

    def get_k_routes(self, origins: DataFrame, destinations: DataFrame,
                     *, k: int = 3, drop_middle_percent: int = 0,
                     max_iter: int = 50) -> DataFrame:
        return self._run("get_k_routes", get_k_routes, origins,
                         destinations, int(k), max_iter=max_iter)

    def get_route_frequencies(self, origins: DataFrame,
                              destinations: DataFrame, *,
                              max_iter: int = 50) -> DataFrame:
        return self._run("get_route_frequencies", get_route_frequencies,
                         origins, destinations, max_iter=max_iter,
                         cost_col=None)

    def service_area(self, origins: DataFrame, breaks: float, *,
                     max_iter: int = 50) -> DataFrame:
        return self._run("service_area", service_area_nodes, origins, None,
                         float(breaks), max_iter=max_iter)

    def precice_service_area(self, origins: DataFrame, breaks: float, *,
                             max_iter: int = 50) -> DataFrame:
        return self._run("precice_service_area", service_area_edges,
                         origins, None, float(breaks), max_iter=max_iter,
                         cost_col=None)

    def __repr__(self) -> str:
        return (f"NetworkAnalysis(weight={self.rules.weight!r}, "
                f"directed={self.rules.directed}, runs={len(self.log)})")
