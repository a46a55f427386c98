"""Spatial joins — the engine's core custom strategy.

Replaces the reference's STRtree join kernel
(`/root/reference/src/sgis/geopandas_tools/runners.py:170-265`) and the
operators built on it: `get_neighbor_indices` (neighbors.py:27-151),
`sjoin_within_distance` (neighbors.py:272-295), `sfilter` family
(sfilter.py:17-243), geopandas `sjoin` semantics.

Plan shape (SURVEY.md §2.4, §3.1):

    left  ─ bbox→cell-cover explode (pure SQL sequence(), JVM-side) ─┐
                                                                     ├─ equi-join on cell_key
    right ─ bbox→cell-cover explode ────────────────────────────────┘
         → anchor-cell dedup, JVM-side (a pair is kept only from the cell
           that contains the lower-left corner of its bbox intersection,
           so no global dropDuplicates shuffle is ever needed)
         → Arrow-batched refine kernel (numpy predicates)
         → assemble attributes by id joins

Scale levers: the cell join is a plain equi-join Catalyst can broadcast /
AQE-skew-split; points take a zero-Python single-cell path; the refine
kernel groups candidates by the right geometry so each polygon is parsed
and tested against its candidate points vectorized.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .cells import FALSE_EASTING, Y_BITS, cover_cell_keys
from .conf import Route, log_route
from .geom.wkb import from_wkb
from .geom.predicates import geom_pair_distance, refine_pairs

DEFAULT_GRIDSIZE = 2000.0


def _cover_cells(df: DataFrame, gridsize: float, expand: float = 0.0,
                 prefix: str = "") -> DataFrame:
    """Explode rows into covering cell keys — pure Spark SQL (sequence +
    explode), no Python.  Adds `cell_key` and the (expanded) cover bbox
    `{prefix}cminx..{prefix}cmaxy` — used by the anchor-dedup AND pushed
    into the join condition so bbox-disjoint candidates are dropped
    JVM-side before any Arrow transfer."""
    g = float(gridsize)
    e = float(expand)
    # four projections, not one withColumn per column: every DataFrame
    # call is a Py4J round trip plus an analyzer pass at plan time
    cover = [f"{prefix}cminx", f"{prefix}cminy", f"{prefix}cmaxx",
             f"{prefix}cmaxy"]
    keep = df.columns + cover
    df = df.select(
        "*",
        (F.col("minx") - e).alias(cover[0]), (F.col("miny") - e).alias(cover[1]),
        (F.col("maxx") + e).alias(cover[2]), (F.col("maxy") + e).alias(cover[3]),
        F.expr(f"cast(floor((minx - {e} + {FALSE_EASTING}) / {g}) as bigint)").alias("__cx0"),
        F.expr(f"cast(floor((maxx + {e} + {FALSE_EASTING}) / {g}) as bigint)").alias("__cx1"),
        F.expr(f"cast(floor((miny - {e}) / {g}) as bigint)").alias("__cy0"),
        F.expr(f"cast(floor((maxy + {e}) / {g}) as bigint)").alias("__cy1"))
    df = df.select("*", F.explode(F.expr("sequence(__cx0, __cx1)")).alias("__cx"))
    df = df.select("*", F.explode(F.expr("sequence(__cy0, __cy1)")).alias("__cy"))
    return df.select(*keep, F.expr(f"__cx * {1 << Y_BITS} + __cy").alias("cell_key"))


BROADCAST_RIGHT_MAX_BYTES = 64 << 20  # byte cap for driver-side right layer
MAX_COVER_CELLS = 4096  # bbox cover above this routes to the bbox-join branch


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of `df`'s optimized plan in bytes (no
    job), or None when the plan has no usable estimate."""
    try:
        v = int(df._jdf.queryExecution().optimizedPlan()
                .stats().sizeInBytes())
    except Exception:
        return None
    return v if 0 < v < (1 << 62) else None


def _collect_bounded(df: DataFrame, max_bytes: int) -> list | None:
    """Collect rows IF the `geometry` payload stays under a BYTE cap,
    else None.

    Decision is byte-based, not row-based (VERDICT round 1: 300k large
    polygons can be GBs of driver heap):
      1. when Catalyst plan statistics are available and already exceed
         the cap, bail with NO job at all;
      2. otherwise ONE aggregate job sums the actual WKB byte size
         JVM-side; only when it fits does a collect() run.  (Round 5:
         this replaced a toLocalIterator stream — per-partition job
         latency made every broadcast probe on a small checkpointed
         layer cost ~1.5s vs ~0.1s for agg+collect; driver memory never
         sees a row of an over-cap frame either way.)"""
    est = plan_size_bytes(df)
    if est is not None and est > 4 * max_bytes:
        return None
    from pyspark.storagelevel import StorageLevel
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        total = df.agg(F.sum(
            F.coalesce(F.length(F.col("geometry")), F.lit(0))
            + F.lit(48))).first()[0]
        if int(total or 0) > max_bytes:
            return None
        return df.collect()  # reads the persisted blocks, no recompute
    finally:
        df.unpersist()


_PY_PLAN_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "PythonMapInArrow",
                  "MapInArrow", "BatchEvalPython", "ArrowEvalPython",
                  "FlatMapCoGroupsInPandas", "AttachDistributedSequence")


def plan_is_python_free(df: DataFrame) -> bool:
    """True when re-scanning `df` costs no Python work: its optimized plan
    has no Arrow/pandas evaluation nodes ABOVE a cache boundary (cached
    relations, checkpoints and parquet scans qualify — an InMemoryRelation
    re-scan never re-runs its child plan, so the walk stops there instead
    of string-matching the cached subtree's kernels).  Used to decide
    whether an extra plan-time probe pass over the input is cheap."""
    try:
        def walk(node) -> bool:
            name = node.getClass().getSimpleName()
            if "InMemoryRelation" in name:
                return True  # cache-backed: child plan never re-runs
            if any(p in name for p in _PY_PLAN_NODES):
                return False
            kids = node.children()
            for i in range(kids.size()):
                if not walk(kids.apply(i)):
                    return False
            return True
        return walk(df._jdf.queryExecution().optimizedPlan())
    except Exception:
        try:
            s = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception:
            return False
        return not any(p in s for p in _PY_PLAN_NODES)


def cell_candidate_pairs(l0: DataFrame, r0: DataFrame, gridsize: float,
                         expand: float = 0.0,
                         assume_left_points: bool | None = None,
                         right_bounds: np.ndarray | None = None,
                         right_max_cells: float | None = None
                         ) -> DataFrame:
    """Shared candidate generator for every cell-join kernel (sjoin_pairs and
    the fused clean_overlay path): cover-cells equi-join with the bbox
    overlap as a JVM join filter, plus HUGE-GEOMETRY ROUTING.

    A row whose (expanded) bbox covers more than MAX_COVER_CELLS cells would
    make the sequence() cover explode blow up (a country-sized polygon at a
    city-sized gridsize).  Such rows are rare by nature, so they take a lazy
    broadcast bbox-join branch against the ENTIRE other side (no cells); the
    branch synthesizes cell_key = the anchor expression, so the anchor dedup
    passes each pair through exactly once.

    Inputs: l0 = (__lid, __lg, minx, miny, maxx, maxy), r0 likewise with
    __rid/__rg.  Either geometry column may be absent (a kernel that holds
    that side's geometries elsewhere).  Output columns: (__lid, __lg, __rid,
    __rg) of the columns given, each true candidate pair exactly once
    (anchor dedup: the copy whose cell_key is the cell of the lower-left
    corner of the cover-bbox intersection).

    `right_bounds` (n x 4 minx/miny/maxx/maxy of r0's rows) marks r0 as a
    small driver-local frame: it joins under F.broadcast, the left keeps
    its partitioning (no pin, no Exchange), and the huge-right split is
    read from these bounds instead of a probe.  `right_max_cells`, a
    bound on every r0 row's cover already known to the caller (the
    route probe's widest right), does the same for a distributed right."""
    g = float(gridsize)
    e = float(expand)
    bcast = right_bounds is not None

    def _ncells(pre_e: float):
        return (f"((cast(floor((maxx + {pre_e} + {FALSE_EASTING}) / {g}) as bigint)"
                f" - cast(floor((minx - {pre_e} + {FALSE_EASTING}) / {g}) as bigint) + 1)"
                f" * (cast(floor((maxy + {pre_e}) / {g}) as bigint)"
                f" - cast(floor((miny - {pre_e}) / {g}) as bigint) + 1))")

    # Each side's huge-geometry branch is planned only when that side may
    # hold an oversized row, decided per side without a job where
    # possible: the right from `right_bounds` or `right_max_cells`, a
    # point left from its cover bound (at most 2e/g + 2 cells per axis).
    # Otherwise a side whose plan runs no Python gets a max-cover probe
    # (both sides in ONE tiny job, 2 rows collected); a Python-built side
    # keeps its branch, since probing it would run its kernels one more
    # time.  Beside a broadcast right the left is not probed: its branch
    # is a cross join against the driver-local right, which runs no job
    # of its own, so a probe would only add one.
    l_has_big = not (assume_left_points
                     and (2 * e / g + 2) ** 2 <= MAX_COVER_CELLS)
    r_has_big = right_max_cells is None or right_max_cells > MAX_COVER_CELLS
    if bcast:
        rb = right_bounds
        ncells_r = ((np.floor((rb[:, 2] + FALSE_EASTING) / g)
                     - np.floor((rb[:, 0] + FALSE_EASTING) / g) + 1)
                    * (np.floor(rb[:, 3] / g) - np.floor(rb[:, 1] / g) + 1))
        r_has_big = bool((ncells_r > MAX_COVER_CELLS).any())
    probe_l = l_has_big and not bcast and plan_is_python_free(l0)
    probe_r = r_has_big and not bcast and plan_is_python_free(r0)
    if probe_l or probe_r:
        q = [side.select(F.max(F.expr(_ncells(pe))).alias("m"))
             for side, pe, on in ((l0, e, probe_l), (r0, 0.0, probe_r)) if on]
        stats = iter((q[0] if len(q) == 1 else q[0].unionAll(q[1])).collect())
        if probe_l:
            l_has_big = (next(stats)["m"] or 0) > MAX_COVER_CELLS
        if probe_r:
            r_has_big = (next(stats)["m"] or 0) > MAX_COVER_CELLS
    if not l_has_big:
        l_small, l_big = l0, None
    else:
        l_small = l0.where(F.expr(f"{_ncells(e)} <= {MAX_COVER_CELLS}"))
        l_big = l0.where(F.expr(f"{_ncells(e)} > {MAX_COVER_CELLS}"))
    if not r_has_big:
        r_small, r_big = r0, None
    else:
        r_small = r0.where(F.expr(f"{_ncells(0.0)} <= {MAX_COVER_CELLS}"))
        r_big = r0.where(F.expr(f"{_ncells(0.0)} > {MAX_COVER_CELLS}"))

    bbox = ("minx", "miny", "maxx", "maxy")
    lcols = [c for c in l0.columns if c not in bbox]
    rcols = [c for c in r0.columns if c not in bbox]
    l = _cover_cells(l_small, gridsize, expand=expand, prefix="l_") \
        .select(*lcols, "cell_key",
                F.col("l_cminx").alias("__lminx"), F.col("l_cminy").alias("__lminy"),
                F.col("l_cmaxx").alias("__lmaxx"), F.col("l_cmaxy").alias("__lmaxy"))
    r = _cover_cells(r_small, gridsize, prefix="r_") \
        .select(*rcols, "cell_key",
                F.col("r_cminx").alias("__rminx"), F.col("r_cminy").alias("__rminy"),
                F.col("r_cmaxx").alias("__rmaxx"), F.col("r_cmaxy").alias("__rmaxy"))
    # pin the join shuffle at the configured width (round 7): the pair
    # stream feeds compute-dense Arrow kernels (overlay booleans, refine),
    # so AQE's byte-based coalescing — a few MB of ids+WKB — would fold
    # the kernel stage down to one task and run minutes of geometry
    # single-threaded (overlay_concave profile: one 7s task).  Same-key
    # same-N repartitions are AQE-exempt and satisfy the join's
    # distribution requirement, so no extra exchange is introduced.
    # Provably-TINY inputs (both sides' Catalyst size estimates known and
    # under a few MB, AND both plans python-free — cached layers / plain
    # scans) skip the pin and keep AQE's coalescing: their kernel work is
    # sub-second even single-task, while a 2x-cores-wide stage is pure
    # scheduling latency.  Size estimates BELOW Python kernels are not
    # trustworthy (Spark propagates the child's bytes through
    # MapInPandas), so any python-producing side pins regardless.
    # A broadcast right needs no shuffle at all.
    if bcast:
        r = F.broadcast(r)
    else:
        el, er = plan_size_bytes(l0), plan_size_bytes(r0)
        tiny = (el is not None and er is not None
                and el < (4 << 20) and er < (4 << 20)
                and plan_is_python_free(l0) and plan_is_python_free(r0))
        if not tiny:
            try:
                nparts = int(
                    l0.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            except Exception:
                nparts = 64
            l = l.repartition(nparts, "cell_key")
            r = r.repartition(nparts, "cell_key")

    # equi-join on cell + bbox-overlap as a JVM join filter: bbox-disjoint
    # cell cohabitants never reach the Python kernel
    cand = l.join(r, (l["cell_key"] == r["cell_key"]) &
                  (F.col("__lminx") <= F.col("__rmaxx")) &
                  (F.col("__lmaxx") >= F.col("__rminx")) &
                  (F.col("__lminy") <= F.col("__rmaxy")) &
                  (F.col("__lmaxy") >= F.col("__rminy")), "inner") \
        .drop(r["cell_key"]) \
        .drop("__lmaxx", "__lmaxy", "__rmaxx", "__rmaxy")

    anchor_sql = (
        f"cast(floor((greatest(__lminx, __rminx) + {FALSE_EASTING}) / {g}) "
        f"as bigint) * {1 << Y_BITS}"
        f" + cast(floor(greatest(__lminy, __rminy) / {g}) as bigint)")

    def _big_branch(big_side: DataFrame, other: DataFrame, big_is_left: bool
                    ) -> DataFrame:
        # LAZY: broadcast-hint join (BroadcastNestedLoop on the bbox theta
        # condition).  No driver collect, no extra jobs at plan time; an
        # empty big side costs one cheap filtered scan.  Huge-bbox rows are
        # rare by nature, so the nested-loop side stays tiny — unless the
        # right is the broadcast one anyway, which then stays the build side.
        bcols = lcols if big_is_left else rcols  # __lid -> id, __lg -> g
        b = big_side.selectExpr(*[f"{c} AS {c[3:]}" for c in bcols],
                                "minx AS bx0", "miny AS by0",
                                "maxx AS bx1", "maxy AS by1")
        if big_is_left and bcast:
            j = b.crossJoin(F.broadcast(other))
        else:
            j = other.crossJoin(F.broadcast(b))
        if big_is_left:
            j = j.where(
                (F.col("bx0") - e <= F.col("maxx")) &
                (F.col("bx1") + e >= F.col("minx")) &
                (F.col("by0") - e <= F.col("maxy")) &
                (F.col("by1") + e >= F.col("miny")))
            mins = [(F.col("bx0") - e).alias("__lminx"),
                    (F.col("by0") - e).alias("__lminy"),
                    F.col("minx").alias("__rminx"),
                    F.col("miny").alias("__rminy")]
        else:
            j = j.where(
                (F.col("bx0") <= F.col("maxx") + e) &
                (F.col("bx1") >= F.col("minx") - e) &
                (F.col("by0") <= F.col("maxy") + e) &
                (F.col("by1") >= F.col("miny") - e))
            mins = [(F.col("minx") - e).alias("__lminx"),
                    (F.col("miny") - e).alias("__lminy"),
                    F.col("bx0").alias("__rminx"),
                    F.col("by0").alias("__rminy")]
        return j.select(*[F.col(c[3:]).alias(c) if c in bcols else c
                          for c in lcols + rcols], *mins) \
                .withColumn("cell_key", F.expr(anchor_sql))

    cand = cand.select(*lcols, *rcols, "__lminx", "__lminy",
                       "__rminx", "__rminy", "cell_key")
    if l_big is not None:
        cand = cand.unionByName(_big_branch(l_big, r0, True))
    if r_big is not None:
        cand = cand.unionByName(_big_branch(r_big, l_small, False))
    # ANCHOR DEDUP, JVM-SIDE: a pair appears once per shared cover cell;
    # keep only the copy whose cell holds the lower-left corner of the
    # cover-bbox intersection.  Pure codegen — duplicate pairs die before
    # the Arrow transfer, and downstream kernels receive ONLY (id, geom)
    # columns (round 3: was a Python-side filter shipping 5 extra columns
    # per row through Arrow).
    return cand.where(F.expr(f"({anchor_sql}) = cell_key")) \
               .select(*lcols, *rcols)


def sjoin_pairs(left: DataFrame, right: DataFrame, predicate: str = "intersects",
                *, left_id: str = "left_id", right_id: str = "right_id",
                distance: float | None = None, gridsize: float = DEFAULT_GRIDSIZE,
                keep_distance: bool = False,
                broadcast_right: bool | None = None,
                assume_left_points: bool | None = None) -> DataFrame:
    """Candidate generation + refine.  Inputs must carry
    (id, geometry WKB, minx, miny, maxx, maxy); ids must be unique.

    Returns DataFrame[left_id, right_id(, distance double)].
    Predicate semantics match the reference's STRtree predicates
    (`runners.py:180-181`); `within` is rewritten as inverse contains
    (`sfilter.py:311-328`) inside the kernel.

    broadcast_right (auto when None, on iff |right| <= BROADCAST_RIGHT_MAX):
    parse the right geometries ONCE on the driver and broadcast the parsed
    GeomArray; candidate rows then carry only ids — cutting Arrow traffic
    through the refine kernel by ~4x.  The big-right path ships WKB through
    the join instead (fully distributed, no driver materialization).
    `_sjoin_route` picks the executor.
    """
    from .crs import require_same_crs
    require_same_crs(left, right)  # analysis-time; untagged frames pass

    route = _sjoin_route(left, right, predicate, right_id=right_id,
                         distance=distance, gridsize=gridsize,
                         keep_distance=keep_distance,
                         broadcast_right=broadcast_right,
                         assume_left_points=assume_left_points)
    log_route("sjoin_pairs", route)
    facts = route.facts
    spark = left.sparkSession
    if route.name == "empty":  # no pairs, no job
        return spark.createDataFrame([], _pairs_schema(
            left, right, left_id, right_id,
            keep_distance or predicate == "dwithin"))
    if route.name == "compiled_dist":
        return _points_vs_polygons_distributed(
            left, right, left_id=left_id, right_id=right_id,
            gridsize=facts["gridsize"])
    if route.name == "rect_bcast":
        rids, _, rb = facts["right"]
        return _points_vs_rects_jvm(
            spark, left, rids, rb, predicate, left_id=left_id,
            right_id=right_id, distance=distance, gridsize=gridsize)

    l0 = left.select(F.col(left_id).alias("__lid"),
                     F.col("geometry").alias("__lg"),
                     "minx", "miny", "maxx", "maxy")
    if route.name == "kernel_dist":
        r0 = right.select(F.col(right_id).alias("__rid"),
                          F.col("geometry").alias("__rg"),
                          "minx", "miny", "maxx", "maxy")
        rb = right_geoms = None
    else:  # kernel_bcast: the right enters the candidate generator as a
        # driver-local (id, bbox) frame joined under broadcast; the kernel
        # reads right geometries from the broadcast GeomArray, not WKB
        rids, ra, rb = facts["right"]
        r0 = spark.createDataFrame(pd.DataFrame({
            "__rid": rids, "minx": rb[:, 0], "miny": rb[:, 1],
            "maxx": rb[:, 2], "maxy": rb[:, 3]}))
        right_geoms = spark.sparkContext.broadcast(
            (pd.Series(np.arange(len(rids)), index=rids), ra))
    expand = float(distance or 0.0) if predicate == "dwithin" else 0.0
    cand = cell_candidate_pairs(
        l0, r0, gridsize, expand=expand,
        assume_left_points=assume_left_points, right_bounds=rb,
        right_max_cells=facts.get("right_cover_max"))
    return _refine_kernel(cand, left, right, predicate, left_id=left_id,
                          right_id=right_id, distance=distance,
                          keep_distance=keep_distance,
                          right_geoms=right_geoms)


def _sjoin_route(left: DataFrame, right: DataFrame, predicate: str, *,
                 right_id: str, distance: float | None, gridsize: float,
                 keep_distance: bool, broadcast_right: bool | None,
                 assume_left_points: bool | None) -> Route:
    """The ONE routing decision of `sjoin_pairs`, logged by it.  Probes:

      1. unless broadcast_right=False, collect the right (all of it when
         True, else under BROADCAST_RIGHT_MAX_BYTES).  Collected: `empty`;
         `rect_bcast` for rectangle rights within MAX_COVER_CELLS cells,
         a between-filter predicate and point lefts (assume_left_points,
         else one extent aggregate over the left); else `kernel_bcast`;
      2. point lefts (assume_left_points) under within / intersects /
         covered_by without keep_distance, Python-free right: ONE
         aggregate job (null-safe polygon type check, bbox stats, a left
         count Catalyst lacks).  `compiled_dist` for all-polygon rights
         whose estimated pairs reach PIP_COMPILED_MIN_PAIRS and whose
         widest zone's cover fits MAX_COVER_CELLS at the tuned grid;
      3. else `kernel_dist`.

    Facts: `right` = (ids, GeomArray, n x 4 bounds) of a collected right;
    from step 2's probe `st` (its right-layer row), `n_left`, `pairs_est`,
    the tuned `gridsize` and `right_cover_max` (a bound on any right
    row's cover cells at the caller's gridsize); `n_right` where known."""
    why: list[str] = []
    if broadcast_right is False:
        why.append("broadcast_right=False")
    else:
        sel = right.select(right_id, "geometry", "minx", "miny",
                           "maxx", "maxy")
        if broadcast_right:  # explicit: no cap, caller takes responsibility
            rows = sel.collect()
            why.append("broadcast_right=True")
        else:  # auto: byte-bounded probe, no eager count job
            rows = _collect_bounded(sel, BROADCAST_RIGHT_MAX_BYTES)
            why.append(f"right {'within' if rows is not None else 'over'} "
                       f"the {BROADCAST_RIGHT_MAX_BYTES >> 20} MiB "
                       "broadcast cap")
        if rows is not None:
            if not rows:
                return Route("empty", (*why, "right layer is empty"),
                             {"n_right": 0})
            rids = np.array([r[0] for r in rows])
            ra = from_wkb([r[1] for r in rows])
            rb = np.array([[r[2], r[3], r[4], r[5]] for r in rows],
                          dtype=np.float64)
            facts = {"right": (rids, ra, rb), "n_right": len(rows)}
            # PREDICATE COMPILATION: point-left x rectangle-right evaluates
            # fully JVM-side (between-filters after the cell join — zero
            # Python).  Detected, not hinted: rect_flags on the parsed
            # rights; zero-extent left bboxes == points.  The
            # between-filters emit no distance: keep_distance outside
            # dwithin takes the Arrow kernel, which computes it.
            from .geom.predicates import rect_flags
            g = float(gridsize)
            e = float(distance or 0.0) if predicate == "dwithin" else 0.0
            nc = ((np.floor((rb[:, 2] + e + FALSE_EASTING) / g)
                   - np.floor((rb[:, 0] - e + FALSE_EASTING) / g) + 1)
                  * (np.floor((rb[:, 3] + e) / g)
                     - np.floor((rb[:, 1] - e) / g) + 1))
            if not rect_flags(ra)[0].all():
                why.append("right not all rectangles")
            elif (nc > MAX_COVER_CELLS).any():
                why.append(f"a right covers over {MAX_COVER_CELLS} cells")
            elif not (predicate == "dwithin" or not keep_distance and
                      predicate in ("within", "intersects", "covered_by")):
                why.append(f"no between-filter {predicate} with "
                           f"keep_distance={keep_distance}")
            elif assume_left_points is not None:
                if assume_left_points:  # caller vouches (geom_kind filter)
                    return Route("rect_bcast", (*why, "rectangle rights"),
                                 facts)
                why.append("assume_left_points=False")
            else:
                # detection scan only when the caller gave no hint — on
                # big left sides pass assume_left_points to skip it
                ext = left.agg(
                    F.max(F.col("maxx") - F.col("minx")).alias("ex"),
                    F.max(F.col("maxy") - F.col("miny")).alias("ey")).first()
                if ext["ex"] == 0.0 and ext["ey"] == 0.0:
                    return Route("rect_bcast", (*why, "rectangle rights",
                                                "left extents are 0"), facts)
                why.append("left is not points")
            return Route("kernel_bcast", tuple(why), facts)

    if not (assume_left_points and not keep_distance and predicate in (
            "within", "intersects", "covered_by")):
        return Route("kernel_dist", (*why, "no compiled executor"), {})
    if not plan_is_python_free(right):
        return Route("kernel_dist", (*why, "right plan runs Python"), {})
    if "geom_kind" in right.columns:
        type_ok = F.col("geom_kind") == "polygon"
    else:
        from .geometry_types import wkb_gtype_col
        type_ok = wkb_gtype_col("geometry").isin(3, 6)
    n_left = _plan_row_count(left)
    count_left = n_left is None and plan_is_python_free(left)
    # ONE columnar pass over the right: the null-safe type probe (a NULL
    # geom_kind must count as "not ok" — coalesce forces NULL -> kernel
    # route) fused with the bbox stats the gridsize tuner and the size
    # rule need; a left count rides in the same job as a second row.
    probe = right.agg(
        F.lit(0).alias("side"),
        F.max((~F.coalesce(type_ok, F.lit(False))).cast("int")).alias("bad"),
        F.count(F.lit(1)).alias("n"),
        F.min("minx").alias("wx0"), F.max("maxx").alias("wx1"),
        F.min("miny").alias("wy0"), F.max("maxy").alias("wy1"),
        F.avg(F.col("maxx") - F.col("minx")).alias("aex"),
        F.avg(F.col("maxy") - F.col("miny")).alias("aey"),
        F.max(F.col("maxx") - F.col("minx")).alias("mex"),
        F.max(F.col("maxy") - F.col("miny")).alias("mey"),
        F.sum((F.col("maxx") - F.col("minx"))
              * (F.col("maxy") - F.col("miny"))).alias("area"))
    if count_left:
        probe = probe.unionByName(
            left.agg(F.lit(1).alias("side"), F.count(F.lit(1)).alias("n")),
            allowMissingColumns=True)
    rows = sorted(probe.collect(), key=lambda r: r["side"])
    st = rows[0]
    if count_left:
        n_left = rows[1]["n"]
    facts = {"n_right": st["n"], "n_left": n_left}
    if st["n"]:  # a row covers at most (extent/g + 2) cells per axis
        g = float(gridsize)
        facts["right_cover_max"] = (st["mex"] / g + 2) * (st["mey"] / g + 2)
    if not st["n"] or st["bad"]:
        return Route("kernel_dist", (*why, "right empty or not all "
                                     "polygons"), facts)
    est = facts["pairs_est"] = _pip_pairs_estimate(n_left, st)
    if est < PIP_COMPILED_MIN_PAIRS:
        return Route("kernel_dist", (*why, f"~{est:.3g} pairs under "
                                     f"{PIP_COMPILED_MIN_PAIRS}"), facts)
    g = facts["gridsize"] = _tuned_gridsize(left.sparkSession,
                                            float(gridsize), st)
    # country-sized rights: conservative cross-max bound on the per-zone
    # cover (slightly stricter than a per-row check — a layer whose
    # widest and tallest zones differ may take the kernel where a per-row
    # check would not; the kernel is correct, just uncompiled)
    if (st["mex"] / g + 2) * (st["mey"] / g + 2) > MAX_COVER_CELLS:
        return Route("kernel_dist", (*why, f"widest right covers over "
                                     f"{MAX_COVER_CELLS} cells"), facts)
    return Route("compiled_dist", (*why, f"~{est:.3g} pairs, at least "
                                   f"{PIP_COMPILED_MIN_PAIRS}"),
                 {**facts, "st": st})


def _pairs_schema(left: DataFrame, right: DataFrame, left_id: str,
                  right_id: str, need_dist: bool) -> str:
    """DDL of sjoin_pairs' output: (left_id, right_id or right_id_2 on a
    self-named join, distance double when kept)."""
    lid_t = left.schema[left_id].dataType.simpleString()
    rid_t = right.schema[right_id].dataType.simpleString()
    out_right = right_id if right_id != left_id else right_id + "_2"
    return (f"{left_id} {lid_t}, {out_right} {rid_t}"
            + (", distance double" if need_dist else ""))


def _refine_kernel(cand: DataFrame, left: DataFrame, right: DataFrame,
                   predicate: str, *, left_id: str, right_id: str,
                   distance: float | None, keep_distance: bool,
                   right_geoms=None) -> DataFrame:
    """The ONE Arrow refine kernel of sjoin_pairs' cell-join routes, over
    `cell_candidate_pairs` output (anchor dedup already done JVM-side, so
    batches carry only ids and geometries).  Left geometries decode from
    WKB once per unique value per batch; right geometries likewise from
    `__rg`, or — on the broadcast route — come from `right_geoms`, a
    Spark broadcast of (rid -> index Series, parsed GeomArray), so
    candidate rows carry only the right id.  The pair predicate is the
    configured `refine_runner` (default `refine_pairs`), resolved here on
    the driver; `dwithin` refines by pair distance instead."""
    need_dist = keep_distance or predicate == "dwithin"
    out_right = right_id if right_id != left_id else right_id + "_2"
    out_schema = _pairs_schema(left, right, left_id, right_id, need_dist)

    from .conf import get_runner
    refine = get_runner("refine_runner", refine_pairs)  # driver-resolved

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # unique-geometry decode per side
            lcodes, lu = pd.factorize(pdf["__lg"], use_na_sentinel=False)
            la = from_wkb(list(lu))
            li = np.asarray(lcodes, dtype=np.int64)
            if right_geoms is None:
                rcodes, ru = pd.factorize(pdf["__rg"], use_na_sentinel=False)
                ra = from_wkb(list(ru))
                ri = np.asarray(rcodes, dtype=np.int64)
            else:
                rid_map, ra = right_geoms.value
                ri = rid_map.loc[pdf["__rid"]].to_numpy()
            if predicate == "dwithin":
                d = geom_pair_distance(la, ra, li, ri)
                ok = d <= float(distance)
            else:
                ok = refine(la, ra, li, ri, predicate)
            out = pd.DataFrame({left_id: pdf["__lid"].to_numpy()[ok],
                                out_right: pdf["__rid"].to_numpy()[ok]})
            if need_dist:
                out["distance"] = d[ok] if predicate == "dwithin" else \
                    geom_pair_distance(la, ra, li[ok], ri[ok])
            yield out

    return cand.mapInPandas(kernel, schema=out_schema)


def _esz(E: str) -> str:
    """Edge SLOT count of the chained-vertex pack: size(vx) - 1 (may be
    -1/0 for empty packs — every consumer guards with `i <= sz`)."""
    return f"(size({E}vx) - 1)"


def _eacc(E: str, i) -> tuple[str, str, str, str]:
    """Accessors for edge slot i (1-based) of the CHAINED-VERTEX pack
    (round 6, VERDICT r5 #1): vertices {E}vx/{E}vy (array<double>), edge
    i = (v[i], v[i+1]).  Consecutive boundary edges share their middle
    vertex, so the pack ships ~2 doubles per edge instead of round 5's 4
    — the pair stage was measured memory-bandwidth-bound on pack bytes
    (BENCH/SCALING_R5_RAW.md task decomposition).  Values are the SAME
    float64s the 4-array form carried (shared endpoints are bitwise
    copies from the ring array), so every comparison downstream is
    bit-identical.  Chain breaks (subset arcs, ring boundaries) insert a
    CONNECTOR slot flagged in the {E}skip bitmask ({_eskip}); primitive
    element_at stays a direct word load in codegen — the struct-array
    form re-extracted a struct per field access and cost ~4x on concave
    workloads (round 4)."""
    j = f"{i} + 1" if isinstance(i, str) else i + 1
    return (f"element_at({E}vx, {i})", f"element_at({E}vy, {i})",
            f"element_at({E}vx, {j})", f"element_at({E}vy, {j})")


def _eskip(E: str, i) -> str:
    """TRUE when edge slot i (1-based) is a chain CONNECTOR (not a real
    boundary edge).  Unrolled literal i (<= 32, always within the first
    mask word) reads the SCALAR first-word column {E}sk0 — a plain
    attribute load, no per-term array access (measured ~9% of the
    dispatch cost when read via element_at).  The interpreted lambda
    (runtime i, slots can exceed 64) reads the full {E}skip word array;
    connectors are rare (one per extra arc) either way."""
    if isinstance(i, str):
        w = f"(cast(({i} - 1) div 64 as int) + 1)"
        b = f"cast(({i} - 1) % 64 as int)"
        return f"(bit_get(element_at({E}skip, {w}), {b}) = 1)"
    assert i <= 64, "unrolled tier exceeds one mask word"
    return f"(bit_get({E}sk0, {(i - 1) % 64}) = 1)"


def _pip_sql(E: str, x: str, y: str, base: str = "0") -> str:
    """Ray-cast point-in-polygon over the packed primitive edge arrays:
    even-odd crossing count + explicit on-edge test (boundary counts as
    inside) — the interpreted higher-order form for polygons above the
    unroll tiers.

    `base` is the per-row crossing count of edges the cell-subset pack
    (round 5) proved are crossed by EVERY +x ray from the candidate's
    cell (entirely right of the cell, y-range spanning its band) — those
    edges are not packed, their parity contribution is this constant.
    Full-array callers pass the literal "0" (folds away).

    BIT-IDENTICAL to pip_pairs_vectorized (geom/predicates.py:178): the
    crossing intercept `(bx-ax)*(y-ay)/(by-ay)+ax`, the on-edge
    cross/dot/length tests and the even-odd parity use the same IEEE-754
    operation order, so JVM results hash-match the Arrow kernel path.
    When the crossing guard is false the two edge ordinates are equal-side
    (by != ay is implied when it is true), so the division never sees 0/0
    on an edge that can pass the AND."""
    ax, ay, bx, by = _eacc(E, "i")
    dot = f"(({x} - {ax}) * ({bx} - {ax}) + ({y} - {ay}) * ({by} - {ay}))"
    idx = f"sequence(1, {_esz(E)})"
    ns = f"(NOT {_eskip(E, 'i')})"
    return (
        f"((((size(filter({idx}, i -> {ns} AND "
        f"(({ay} > {y}) != ({by} > {y})) AND "
        f"({x} < ({bx} - {ax}) * ({y} - {ay}) / ({by} - {ay}) + {ax}))) "
        f"+ {base}) % 2) = 1)"
        f" OR exists({idx}, i -> {ns} AND "
        f"((({bx} - {ax}) * ({y} - {ay}) - ({by} - {ay}) * ({x} - {ax})) = 0D"
        f" AND {dot} >= 0D AND {dot} <= "
        f"(({bx} - {ax}) * ({bx} - {ax}) + ({by} - {ay}) * ({by} - {ay})))))")


# Unroll bounds: polygons within a tier get a whole-stage-codegen PIP
# expression of that size; larger ones fall back to the interpreted
# higher-order variant (HigherOrderFunction is CodegenFallback in Spark).
PIP_UNROLL_EDGES = 16
PIP_UNROLL_SMALL = 8  # sub-tier: simple shapes pay 8 terms, not 16


def _pip_sql_unrolled(E: str, x: str, y: str,
                      k: int = PIP_UNROLL_EDGES, base: str = "0") -> str:
    """`_pip_sql` with the edge loop unrolled over element_at(.., 1..k) so
    the whole expression compiles in whole-stage codegen (no
    HigherOrderFunction).  Valid only when size <= k — callers dispatch
    via CASE.  Same IEEE operation order as pip_pairs_vectorized; the
    short-circuit AND keeps the division guarded exactly like the lambda
    form."""
    sz = _esz(E)
    ins, ons = [], []
    for i in range(1, k + 1):
        ax, ay, bx, by = _eacc(E, i)
        ns = f"(NOT {_eskip(E, i)})"
        ins.append(
            f"(CASE WHEN ({i} <= {sz}) AND {ns} AND "
            f"(({ay} > {y}) != ({by} > {y})) AND "
            f"({x} < ({bx} - {ax}) * ({y} - {ay}) / "
            f"({by} - {ay}) + {ax}) THEN 1 ELSE 0 END)")
        dot = (f"(({x} - {ax}) * ({bx} - {ax}) + "
               f"({y} - {ay}) * ({by} - {ay}))")
        ons.append(
            f"(({i} <= {sz}) AND {ns} AND "
            f"((({bx} - {ax}) * ({y} - {ay}) - "
            f"({by} - {ay}) * ({x} - {ax})) = 0D) AND "
            f"{dot} >= 0D AND {dot} <= "
            f"(({bx} - {ax}) * ({bx} - {ax}) + "
            f"({by} - {ay}) * ({by} - {ay})))")
    inside = f"(((({' + '.join(ins)}) + {base}) % 2) = 1)"
    return f"({inside} OR ({' OR '.join(ons)}))"


def _pip_dispatch_sql(E: str, x: str, y: str, isrect: str,
                      base: str = "0") -> str:
    """Tiered PIP predicate: rectangles are already decided by the
    upstream closed-bbox filter (axis-aligned rect PIP == bbox test);
    small polygons take an unrolled codegen expression SIZED IN TIERS
    (<=PIP_UNROLL_SMALL terms for simple shapes, <=PIP_UNROLL_EDGES for
    the rest — a fixed 32-term unroll made 6-edge L-shape joins pay 5x
    the arithmetic they needed);
    the rare complex ones the interpreted lambda form.  CASE branches
    evaluate lazily, so hot rows never touch the oversized or fallback
    paths.  With the round-5 cell-subset pack, high-vertex polygons land
    in the codegen tiers too: each cover cell carries only its local
    edges and a base parity for the far-right remainder."""
    mid = ("" if PIP_UNROLL_EDGES == PIP_UNROLL_SMALL else
           f"WHEN {_esz(E)} <= {PIP_UNROLL_EDGES} "
           f"THEN {_pip_sql_unrolled(E, x, y, base=base)} ")
    return (f"CASE WHEN {isrect} THEN true "
            f"WHEN {_esz(E)} <= {PIP_UNROLL_SMALL} "
            f"THEN {_pip_sql_unrolled(E, x, y, PIP_UNROLL_SMALL, base)} "
            f"{mid}ELSE {_pip_sql(E, x, y, base)} END")


def _skip_words(skip_slots: list, n_slots: int) -> list:
    """Connector-slot bitmask as signed-int64 words (64 slots per word) —
    the SQL side reads bit (i-1) via bit_get on two's-complement
    bigints, so bit 63 wraps to the sign bit here."""
    words = [0] * ((max(int(n_slots), 0) + 63) // 64)
    for s in skip_slots:
        words[s >> 6] |= 1 << (s & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


_CHAIN_COLS_SQL = ("__evx array<double>, __evy array<double>, "
                   "__eskip array<bigint>, __esk0 bigint")


_COVER_COLS = ["__rid", "cell_key", "__rminx", "__rminy", "__rmaxx",
               "__rmaxy", "__isrect", "__base", "__vert",
               "__cx0", "__cy0", "__swx", "__swy", "__si", "__sj", "__km1",
               "__evx", "__evy", "__eskip", "__esk0"]

_COVER_SCHEMA_TAIL = (", cell_key bigint, "
                      "__rminx double, __rminy double, "
                      "__rmaxx double, __rmaxy double, "
                      "__isrect boolean, __base int, __vert boolean, "
                      "__cx0 double, __cy0 double, "
                      "__swx double, __swy double, "
                      "__si int, __sj int, __km1 int, "
                      + _CHAIN_COLS_SQL)

# join-side subcell assignment: each candidate point lands in exactly ONE
# (si, sj) of its cell's K x K subdivision of the cell ∩ bbox
# region (clipped floor handles closed boundaries AND points outside the
# region, which the bbox filter kills anyway); K=1 rows pass trivially
_SUBCELL_FILTER = (
    "cast(least(greatest(floor((__x - __cx0) / __swx), 0D), "
    "cast(__km1 as double)) as int) = __si AND "
    "cast(least(greatest(floor((__y - __cy0) / __swy), 0D), "
    "cast(__km1 as double)) as int) = __sj")

# subcell subset-size target and subdivision cap: a cell whose edge
# subset exceeds the PIP_UNROLL_EDGES-term unroll tier splits into K^2
# subcells with K = ceil(sqrt(size/8)) (aiming ~8-edge subsets); K doubles
# until every subcell fits that tier or the cap — curvature hotspots (circle
# apexes) concentrate edges, so the initial estimate can undershoot
_SUBCELL_TARGET = 8
_SUBCELL_MAX_K = 32


def _axis_subset(emin_r, emax_r, emin_b, emax_b, cl_r0, cl_r1,
                 cl_b0, cl_b1, m):
    """Per-(cell, edge) keep mask + per-cell folded parity for one ray
    axis: `_r` = ray axis extents, `_b` = band (perpendicular) axis.
    keep: edges overlapping the cell's band whose ray-axis range is not
    entirely behind the cell, minus const edges (entirely ahead, spanning
    the band) whose crossing count folds into the returned base parity."""
    bov = ((emin_b[None, :] <= cl_b1[:, None] + m) &
           (emax_b[None, :] >= cl_b0[:, None] - m))
    ahead_ok = emax_r[None, :] >= cl_r0[:, None] - m
    const = ((emin_r[None, :] > cl_r1[:, None] + m) &
             (emin_b[None, :] <= cl_b0[:, None] - m) &
             (emax_b[None, :] >= cl_b1[:, None] + m))
    keep = bov & ahead_ok & ~const
    return keep, (const.sum(axis=1) % 2).astype(np.int32)


def _rect_subsets(ext, rx0, rx1, ry0, ry1, m):
    """Subsets for arbitrary probe rects (cells OR subcells): returns
    (keep CxE, base C, vert C) under the cheaper of the +x and +y ray
    orientations (see _pack_cover_rows)."""
    eminx, emaxx, eminy, emaxy = ext
    keep_h, base_h = _axis_subset(eminx, emaxx, eminy, emaxy,
                                  rx0, rx1, ry0, ry1, m)
    keep_v, base_v = _axis_subset(eminy, emaxy, eminx, emaxx,
                                  ry0, ry1, rx0, rx1, m)
    vert = keep_v.sum(axis=1) < keep_h.sum(axis=1)
    keep = np.where(vert[:, None], keep_v, keep_h)
    base = np.where(vert, base_v, base_h).astype(np.int32)
    return keep, base, vert


def _pack_cover_rows(edge_rows, rids, bounds, is_rect,
                     g: float) -> pd.DataFrame:
    """One row per (right geometry, covering grid cell) with the EDGE
    SUBSET that suffices to evaluate PIP for any point inside
    that cell (round 5, VERDICT r4 #1: every polygon right — including
    10,000-vertex ones — now evaluates in the whole-stage-codegen unroll
    tiers, because a cell's subset is small even when the polygon isn't).

    Exactness argument (ray = +x from a point (x, y) in cell
    [cx0, cx1) x [cy0, cy1)):
      * an edge with max_y < cy0 or min_y > cy1 can never straddle y and
        never contain the point -> dropped, contributes 0 crossings;
      * an edge with max_x < cx0 has every intersection x' <= max_x < x
        -> the crossing test (x < x') is false for it, and the point
        cannot lie on it -> dropped;
      * an edge entirely RIGHT of the cell (min_x > cx1) whose y-range
        spans the whole band (min_y <= cy0 AND max_y >= cy1) is crossed
        by EVERY such ray (y in [min_y, max_y) and x < cx1 < min_x <= x')
        -> counted once in the packed `__base` parity constant instead of
        being shipped;
      * every other edge is packed and evaluated exactly.
    Inclusive comparisons with a g*1e-9 margin keep the drop/const
    classifications strictly conservative under floating-point cell
    boundaries (misclassified edges are packed and evaluated, never
    silently skipped)."""
    from .cells import cell_xy
    M = np.int64(1 << Y_BITS)
    m = g * 1e-9
    is_rect = np.asarray(is_rect, dtype=bool)
    bminx, bminy = bounds[:, 0], bounds[:, 1]
    bmaxx, bmaxy = bounds[:, 2], bounds[:, 3]
    cx0s, cy0s = cell_xy(bminx, bminy, g)
    cx1s, cy1s = cell_xy(bmaxx, bmaxy, g)
    chunks: list[pd.DataFrame] = []
    # BULK path for rows with no edge payload (rects decided by the bbox
    # filter; empty geometries): one vectorized ragged expansion, no
    # per-cell Python — square-zone layers never enter the loop below
    noedge = np.array([is_rect[i] or not edge_rows[i]
                       for i in range(len(edge_rows))])
    ne = np.nonzero(noedge)[0]
    if len(ne):
        gi, keys = cover_cell_keys(bminx[ne], bminy[ne],
                                   bmaxx[ne], bmaxy[ne], g,
                                   max_cells_per_geom=1 << 40)
        src = ne[gi]
        empty = [[] for _ in range(len(src))]
        zi = np.zeros(len(src), dtype=np.int32)
        chunks.append(pd.DataFrame({
            "__rid": np.asarray(rids)[src], "cell_key": keys,
            "__rminx": bminx[src], "__rminy": bminy[src],
            "__rmaxx": bmaxx[src], "__rmaxy": bmaxy[src],
            "__isrect": is_rect[src],
            "__base": zi,
            "__vert": np.zeros(len(src), dtype=bool),
            # km1=0: the clipped-floor subcell filter is trivially 0 = 0
            "__cx0": np.zeros(len(src)), "__cy0": np.zeros(len(src)),
            "__swx": np.full(len(src), g), "__swy": np.full(len(src), g),
            "__si": zi, "__sj": zi, "__km1": zi,
            "__evx": empty, "__evy": list(empty),
            "__eskip": list(empty),
            "__esk0": np.zeros(len(src), dtype=np.int64)},
            columns=_COVER_COLS))
    rows: list[tuple] = []
    for i in np.nonzero(~noedge)[0].tolist():
        cxs = np.repeat(np.arange(cx0s[i], cx1s[i] + 1),
                        int(cy1s[i] - cy0s[i] + 1))
        cys = np.tile(np.arange(cy0s[i], cy1s[i] + 1),
                      int(cx1s[i] - cx0s[i] + 1))
        keys = cxs * M + cys
        rb = (float(bminx[i]), float(bminy[i]),
              float(bmaxx[i]), float(bmaxy[i]))
        es = edge_rows[i]
        ea = np.asarray(es, dtype=np.float64)        # E x (ax, ay, bx, by)
        ax, ay, bx, by = ea[:, 0], ea[:, 1], ea[:, 2], ea[:, 3]
        ext = (np.minimum(ax, bx), np.maximum(ax, bx),
               np.minimum(ay, by), np.maximum(ay, by))
        # edge adjacency for the chained-vertex pack (round 6): edge j
        # chains onto j+1 when they share the middle vertex bitwise
        # (always true for consecutive edges of one ring — both floats
        # are copies of the same ring coordinate)
        adj = (bx[:-1] == ax[1:]) & (by[:-1] == ay[1:])
        clx0 = cxs * g - FALSE_EASTING               # cell rects (C,)
        cly0 = cys * g
        # round 1: cell-level subsets with a per-rect RAY ORIENTATION
        # choice — a +x ray sees every edge in its y-band ahead, bad for
        # long horizontal boundary arcs; the +y variant packs swapped
        # coordinates so one SQL form serves both
        keep, base, vert = _rect_subsets(ext, clx0, clx0 + g,
                                         cly0, cly0 + g, m)

        def slot_counts(keep_m):
            # SLOTS of the chained pack: kept edges + one connector per
            # extra arc = 2*kept - chained_pairs - 1 (0 when empty) —
            # the tier decisions below size rows by what the SQL will
            # actually see as size(vx) - 1
            kept = keep_m.sum(axis=1)
            chained = (keep_m[:, :-1] & keep_m[:, 1:]
                       & adj[None, :]).sum(axis=1)
            return np.maximum(2 * kept - chained - 1, 0)

        sizes = slot_counts(keep)

        def emit(j_key, krow, brow, vrow, cx0v, cy0v, swxv, swyv,
                 siv, sjv, km1v, rect=None):
            idx = np.nonzero(krow)[0]
            if len(idx) == 0 and brow == 0:
                return  # no point in this region can match: prune the row
            if len(idx):
                cont = (np.diff(idx) == 1) & adj[idx[:-1]]
                bks = np.nonzero(~cont)[0]
                starts = np.concatenate(([0], bks + 1))
                ends = np.concatenate((bks, [len(idx) - 1]))
                vx_parts, vy_parts, skip = [], [], []
                nv = 0
                for s, t in zip(starts.tolist(), ends.tolist()):
                    if nv:
                        skip.append(nv - 1)  # connector slot, no vertex
                    run = idx[s:t + 1]
                    vx_parts.append(ax[run[:1]])
                    vx_parts.append(bx[run])
                    vy_parts.append(ay[run[:1]])
                    vy_parts.append(by[run])
                    nv += len(run) + 1
                vx = np.concatenate(vx_parts)
                vy = np.concatenate(vy_parts)
                words = _skip_words(skip, nv - 1)
                if vrow:
                    vx, vy = vy, vx
                vxl, vyl = vx.tolist(), vy.tolist()
            else:
                vxl, vyl, words = [], [], []
            rows.append((rids[i], int(j_key), *(rect or rb), False,
                         int(brow),
                         bool(vrow), float(cx0v), float(cy0v),
                         float(swxv), float(swyv),
                         int(siv), int(sjv), int(km1v),
                         vxl, vyl, words, words[0] if words else 0))

        for j in range(len(keys)):
            if sizes[j] <= PIP_UNROLL_EDGES:
                emit(keys[j], keep[j], base[j], vert[j],
                     0.0, 0.0, g, g, 0, 0, 0)
                continue
            # SUBCELL REFINEMENT (round 5): a big-subset cell (polygon
            # much larger than its edge spacing, or gridsize much larger
            # than the polygon) splits K x K so every emitted row's
            # subset rides the codegen unroll tiers.  The subdivision
            # covers the cell ∩ bbox region — for a polygon tiny
            # inside a huge cell, subdividing the CELL would leave the
            # whole polygon in one subcell.  The join assigns each point
            # to exactly one subcell via the clipped-floor expression;
            # pack rects carry a margin so fp drift in that assignment
            # can only ADD edges, never lose one.  Candidates outside the
            # region clip to a border subcell and die on the bbox filter.
            K = min(int(np.ceil(np.sqrt(sizes[j] / _SUBCELL_TARGET))),
                    _SUBCELL_MAX_K)
            ux0, uy0 = max(clx0[j], rb[0]), max(cly0[j], rb[1])
            ux1 = min(clx0[j] + g, rb[2])
            uy1 = min(cly0[j] + g, rb[3])
            while True:
                swx = max((ux1 - ux0) / K, 1e-300)
                swy = max((uy1 - uy0) / K, 1e-300)
                sis = np.repeat(np.arange(K), K)
                sjs = np.tile(np.arange(K), K)
                rx0 = ux0 + sis * swx
                ry0 = uy0 + sjs * swy
                rx1, ry1 = rx0 + swx, ry0 + swy
                ks, bs, vs = _rect_subsets(ext, rx0, rx1, ry0, ry1, m)
                if (K >= _SUBCELL_MAX_K or
                        int(slot_counts(ks).max()) <= PIP_UNROLL_EDGES):
                    break
                K = min(K * 2, _SUBCELL_MAX_K)
            for t in range(len(rx0)):
                # each subcell row carries ITS OWN rect (±m) as the bbox:
                # with K^2 rows per (zone, cell) sharing one zone bbox, a
                # candidate inside that bbox would reach the floor filter
                # on every row — the rect kills the other K^2-1 rows on
                # the first comparison instead.  The floor assignment
                # stays decisive (exactly one row per point); widening by
                # m matches the subset margin, so any point that passes
                # the rect is covered by the packed edge subset.
                emit(keys[j], ks[t], bs[t], vs[t],
                     ux0, uy0, swx, swy, sis[t], sjs[t], K - 1,
                     rect=(float(rx0[t] - m), float(ry0[t] - m),
                           float(rx1[t] + m), float(ry1[t] + m)))
    if rows:
        chunks.append(pd.DataFrame(rows, columns=_COVER_COLS))
    if not chunks:
        return pd.DataFrame(columns=_COVER_COLS)
    return pd.concat(chunks, ignore_index=True) if len(chunks) > 1 \
        else chunks[0]


def _edge_rows_of(ga) -> list[list[tuple]]:
    """Per-geometry packed edge tuples (ax, ay, bx, by); rings are stored
    closed so per-ring consecutive pairs reproduce exactly the edge set
    pip_pairs_vectorized sees (cross-ring edges excluded).  Zero-length
    edges (a repeated vertex) are left out, as that kernel ignores them:
    their ray and on-edge tests would hold for any point."""
    out = []
    for i in range(len(ga)):
        es = []
        for ring in ga.rings_of_geom(i):
            a, b = ring[:-1], ring[1:]
            d = b - a
            keep = d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1] > 0
            a, b = a[keep], b[keep]
            es.extend(zip(a[:, 0].tolist(), a[:, 1].tolist(),
                          b[:, 0].tolist(), b[:, 1].tolist()))
        out.append(es)
    return out


def _polys_pack_df(right: DataFrame, right_id: str, rid_t: str,
                   g: float) -> DataFrame:
    """Distributed O(|right|) Arrow pack pass: one row per (right
    geometry, cover cell) carrying that cell's edge SUBSET + base parity
    (`_pack_cover_rows`) for the distributed point x polygon join."""
    pack_schema = f"__rid {rid_t}" + _COVER_SCHEMA_TAIL

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .geom.predicates import rect_flags
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf["geometry"].tolist())
            is_rect, _ = rect_flags(ga)
            b = pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(
                dtype=np.float64)
            # one output row per (right, cover cell) with that cell's edge
            # SUBSET — high-vertex polygons compile too (VERDICT r4 #1),
            # and the cell join shuffles local edges instead of replicating
            # every polygon's full edge array per cover cell
            yield _pack_cover_rows(_edge_rows_of(ga),
                                   pdf[right_id].to_numpy(), b,
                                   is_rect, g)

    return right.select(right_id, "geometry", "minx", "miny",
                        "maxx", "maxy") \
        .mapInPandas(pack, schema=pack_schema)


# join-key cardinality target per shuffle partition: the shuffled cell
# join balances only when distinct cell keys >> partitions (makespan of
# hashing C equal-weight keys into P bins ~ 1 + 1/sqrt(C/P)); 32 keys
# per partition keeps the expected straggler under ~20% even with
# per-cell load variance
_CELLS_PER_PARTITION = 32
# pack-volume floor: never shrink cells below avg_zone_extent / 8
# (~<=81 cover rows per average zone keeps the O(|right|) pack pass and
# its shuffle footprint bounded)
_PACK_ROWS_AXIS = 8


def _tuned_gridsize(spark, g0: float, st) -> float:
    """Shrink the cell gridsize when the right layer's world extent gives
    too few distinct join keys for a balanced shuffle (the fixed default
    is sized for country-scale layers; a city-scale layer at gridsize
    2000 may span <100 cells, so the 64-partition cell join degenerates
    into a handful of hot hash buckets and stops scaling past a few
    cores).  Pure driver arithmetic over the stats aggregate: pick the
    largest g that yields ~32 cells per shuffle partition, floored so
    per-zone cover stays bounded (avg extent / 8) and no zone exceeds
    MAX_COVER_CELLS (max extent / 32).  Never grows g beyond the caller's
    value; join results are gridsize-invariant, so tuning is semantics-
    free."""
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        nparts = 64
    wx = float(st["wx1"] - st["wx0"])
    wy = float(st["wy1"] - st["wy0"])
    target = float(_CELLS_PER_PARTITION * max(nparts, 1))
    if wx <= 0 or wy <= 0 or not np.isfinite(wx * wy):
        return g0
    if (wx / g0) * (wy / g0) >= target:
        return g0  # already enough keys (country-scale layer)
    g_card = float(np.sqrt(wx * wy / target))
    g_pack = max(float(st["aex"] or 0),
                 float(st["aey"] or 0)) / _PACK_ROWS_AXIS
    g_cap = max(float(st["mex"] or 0), float(st["mey"] or 0)) / 32.0
    g = max(g_card, g_pack, g_cap)
    if not np.isfinite(g) or g <= 0:
        return g0
    return min(g0, g)


# Size rule of the distributed point x polygon join: below this many
# estimated candidate pairs the compiled route's fixed cost (generating,
# compiling and JIT-warming a ~250 KB predicate class) outweighs what it
# saves per pair over the Arrow-kernel refine.  Placed inside the measured
# band where both routes' warm CPU per call is at parity and the kernel's
# first call is still cheaper (BENCH/PIP_ROUTE.md, tools/pip_route.py).
PIP_COMPILED_MIN_PAIRS = 1_000_000


def _plan_row_count(df: DataFrame) -> int | None:
    """The row count Catalyst already knows for `df` (materialized cached
    relations, local relations, checkpoints of either), else None.  No
    job runs."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(str(rc.get())) if rc.isDefined() else None
    except Exception:
        return None


def _pip_pairs_estimate(n_left: int | None, st) -> float:
    """Candidate pairs of `n_left` points spread evenly over the right
    layer's world bbox: n_left x summed right bbox area / world bbox area.
    An unknown left count or a degenerate world reads as unbounded."""
    world = (st["wx1"] - st["wx0"]) * (st["wy1"] - st["wy0"])
    if n_left is None or not world > 0:
        return float("inf")
    return n_left * st["area"] / world


def _points_vs_polygons_distributed(left: DataFrame, right: DataFrame, *,
                                    left_id: str, right_id: str,
                                    gridsize: float) -> DataFrame:
    """Fully-distributed all-JVM point x polygon join (no driver collect,
    no broadcast): rights are packed ONCE by an Arrow pass into per-row
    edge arrays (O(|right|) Python, not O(|pairs|)), then the cell join,
    bbox filter and ray-cast PIP all run in whole-stage codegen.  This is
    the 100-TB general-geometry path: the per-pair refine — the term that
    grows with candidate count — no longer touches a Python worker.

    The `compiled_dist` executor of `_sjoin_route`, whose probe proved the
    right all polygons, each zone's cover under MAX_COVER_CELLS at
    `gridsize` (the tuned grid), and the estimated pairs at or above
    PIP_COMPILED_MIN_PAIRS."""
    g = float(gridsize)
    spark = left.sparkSession
    out_right = right_id if right_id != left_id else right_id + "_2"
    rid_t = right.schema[right_id].dataType.simpleString()
    r_pack = _polys_pack_df(right, right_id, rid_t, g)
    l = left.select(F.col(left_id), F.col("minx").alias("__x"),
                    F.col("miny").alias("__y"))
    l = l.withColumn("cell_key", F.expr(
        f"cast(floor((__x + {FALSE_EASTING}) / {g}) as bigint) * {1 << Y_BITS}"
        f" + cast(floor(__y / {g}) as bigint)"))
    # pin the join shuffle at the configured partition count: the pair
    # stage is compute-dense but byte-light (a few hundred bytes buy a
    # whole unrolled PIP evaluation), so AQE's byte-based coalescing
    # would fold it down to ~defaultParallelism tasks — one task per
    # core, no straggler averaging.  Explicit same-key/same-N
    # repartitions are AQE-exempt and satisfy the join's distribution
    # requirement, so no extra exchange is introduced.
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        nparts = 64
    l = l.repartition(nparts, "cell_key")
    r_pack = r_pack.repartition(nparts, "cell_key")
    # points cover exactly one cell: no anchor dedup needed (huge-bbox
    # rights were routed to the kernel by `_sjoin_route`)
    cand = l.join(r_pack, "cell_key") \
        .where((F.col("__x") >= F.col("__rminx")) &
               (F.col("__x") <= F.col("__rmaxx")) &
               (F.col("__y") >= F.col("__rminy")) &
               (F.col("__y") <= F.col("__rmaxy")) &
               F.expr(_SUBCELL_FILTER))
    # vertical-ray cells store swapped edge coords: swap the probe too
    cand = cand.withColumn(
        "__px", F.expr("CASE WHEN __vert THEN __y ELSE __x END")) \
        .withColumn(
        "__py", F.expr("CASE WHEN __vert THEN __x ELSE __y END"))
    out = cand.where(
        F.expr(_pip_dispatch_sql("__e", "__px", "__py", "__isrect",
                                 "__base")))
    return out.select(F.col(left_id),
                      F.col("__rid").alias(out_right))


def _points_vs_rects_jvm(spark, left, rids, rb, predicate, *, left_id,
                         right_id, distance, gridsize) -> DataFrame:
    """All-JVM refine for point-left x rectangle-right: cell join +
    between-filters (dwithin: clamped-axis distance expression, kept as
    the `distance` column).  Points live in exactly one cell, so no
    anchor dedup is needed."""
    expand = float(distance or 0.0) if predicate == "dwithin" else 0.0
    g = float(gridsize)
    gi, keys = cover_cell_keys(rb[:, 0] - expand, rb[:, 1] - expand,
                               rb[:, 2] + expand, rb[:, 3] + expand, g)
    out_right = right_id if right_id != left_id else right_id + "_2"
    rcells = spark.createDataFrame(pd.DataFrame({
        out_right: rids[gi], "cell_key": keys,
        "__rminx": rb[gi, 0], "__rminy": rb[gi, 1],
        "__rmaxx": rb[gi, 2], "__rmaxy": rb[gi, 3]}))
    l = left.select(F.col(left_id), F.col("minx").alias("__x"),
                    F.col("miny").alias("__y"))
    l = l.withColumn("cell_key", F.expr(
        f"cast(floor((__x + {FALSE_EASTING}) / {g}) as bigint) * {1 << Y_BITS}"
        f" + cast(floor(__y / {g}) as bigint)"))
    cand = l.join(F.broadcast(rcells), "cell_key")
    # each (point, rect) pair appears once per rect-cover cell the point's
    # cell matches — the point has ONE cell, so exactly once
    if predicate == "dwithin":
        dist_expr = ("sqrt(pow(greatest(__rminx - __x, __x - __rmaxx, 0D), 2)"
                     " + pow(greatest(__rminy - __y, __y - __rmaxy, 0D), 2))")
        cand = cand.withColumn("__dist", F.expr(dist_expr)) \
                   .where(F.col("__dist") <= float(distance))
        return cand.select(left_id, out_right,
                           F.col("__dist").alias("distance"))
    out = cand.where((F.col("__x") >= F.col("__rminx")) &
                     (F.col("__x") <= F.col("__rmaxx")) &
                     (F.col("__y") >= F.col("__rminy")) &
                     (F.col("__y") <= F.col("__rmaxy")))
    return out.select(left_id, out_right)


# ---------------------------------------------------------------------- #
# public operators (reference API surface)
# ---------------------------------------------------------------------- #
def get_neighbor_indices(left: DataFrame, right: DataFrame, *,
                         left_id: str = "left_id", right_id: str = "right_id",
                         max_distance: float = 0, predicate: str = "intersects",
                         gridsize: float = DEFAULT_GRIDSIZE) -> DataFrame:
    """`get_neighbor_indices` (neighbors.py:27-151): pair table of left ids to
    matching right ids; `max_distance>0` means within that distance (the
    reference buffers the left side; we evaluate exact dwithin, which is the
    same set without discretization error)."""
    if max_distance and max_distance > 0:
        return sjoin_pairs(left, right, "dwithin", left_id=left_id,
                           right_id=right_id, distance=max_distance,
                           gridsize=gridsize)
    return sjoin_pairs(left, right, predicate, left_id=left_id,
                       right_id=right_id, gridsize=gridsize)


def sjoin(left: DataFrame, right: DataFrame, predicate: str = "intersects", *,
          how: str = "inner", left_id: str = "left_id", right_id: str = "right_id",
          lsuffix: str = "_left", rsuffix: str = "_right",
          distance: float | None = None,
          gridsize: float = DEFAULT_GRIDSIZE) -> DataFrame:
    """geopandas-`sjoin` semantics (used throughout the reference, e.g.
    polygon_operations.py:669-673): inner/left join of attribute rows on the
    spatial predicate.  Collided column names get suffixes (geometry/bbox
    of the right side are dropped, like geopandas keeps left geometry)."""
    pairs = sjoin_pairs(left, right, predicate, left_id=left_id,
                        right_id=right_id, distance=distance, gridsize=gridsize)
    pair_right = pairs.columns[1]  # right_id, suffixed on collision
    rdrop = right.drop("geometry", "minx", "miny", "maxx", "maxy") \
                 .withColumnRenamed(right_id, pair_right)
    lcols = set(left.columns)
    for c in rdrop.columns:
        if c in lcols and c != pair_right:
            rdrop = rdrop.withColumnRenamed(c, c + rsuffix)
    joined = pairs.join(rdrop, pair_right, "inner")
    out = left.join(joined, left_id, how="inner" if how == "inner" else "left")
    return out


def sjoin_within_distance(left: DataFrame, right: DataFrame, distance: float, *,
                          left_id: str = "left_id", right_id: str = "right_id",
                          distance_col: str = "distance",
                          gridsize: float = DEFAULT_GRIDSIZE) -> DataFrame:
    """`sjoin_within_distance` (neighbors.py:272-295): dwithin pairs with the
    exact distance column appended."""
    pairs = sjoin_pairs(left, right, "dwithin", left_id=left_id,
                        right_id=right_id, distance=distance,
                        gridsize=gridsize, keep_distance=True)
    return pairs.withColumnRenamed("distance", distance_col)


def sfilter(gdf: DataFrame, other: DataFrame, predicate: str = "intersects", *,
            left_id: str = "left_id", right_id: str = "right_id",
            distance: float | None = None,
            gridsize: float = DEFAULT_GRIDSIZE) -> DataFrame:
    """Spatial SEMI join (`sfilter.py:17-93`): rows of gdf matching any row
    of other; no columns from other; each row at most once."""
    pairs = sjoin_pairs(gdf, other, predicate, left_id=left_id,
                        right_id=right_id, distance=distance, gridsize=gridsize)
    return gdf.join(pairs.select(left_id).distinct(), left_id, "left_semi")


def sfilter_inverse(gdf: DataFrame, other: DataFrame,
                    predicate: str = "intersects", *,
                    left_id: str = "left_id", right_id: str = "right_id",
                    distance: float | None = None,
                    gridsize: float = DEFAULT_GRIDSIZE) -> DataFrame:
    """Spatial ANTI join (`sfilter.py:177-243`)."""
    pairs = sjoin_pairs(gdf, other, predicate, left_id=left_id,
                        right_id=right_id, distance=distance, gridsize=gridsize)
    return gdf.join(pairs.select(left_id).distinct(), left_id, "left_anti")


def sfilter_split(gdf: DataFrame, other: DataFrame,
                  predicate: str = "intersects", *,
                  left_id: str = "left_id", right_id: str = "right_id",
                  distance: float | None = None,
                  gridsize: float = DEFAULT_GRIDSIZE
                  ) -> tuple[DataFrame, DataFrame]:
    """(matching, non-matching) from ONE refine pass (`sfilter.py:96-174`)."""
    pairs = sjoin_pairs(gdf, other, predicate, left_id=left_id,
                        right_id=right_id, distance=distance, gridsize=gridsize)
    hits = pairs.select(left_id).distinct()
    return (gdf.join(hits, left_id, "left_semi"),
            gdf.join(hits, left_id, "left_anti"))


def get_neighbor_dfs(left: DataFrame, right: DataFrame, *,
                     left_id: str = "left_id", right_id: str = "right_id",
                     predicate: str = "intersects",
                     gridsize: float = DEFAULT_GRIDSIZE) -> DataFrame:
    """Right-side attribute rows grouped per left key
    (get_neighbor_dfs, neighbors.py:154-160): one row per left id with a
    `neighbors` array of right-row structs."""
    pairs = sjoin_pairs(left, right, predicate, left_id=left_id,
                        right_id=right_id, gridsize=gridsize)
    rid = pairs.columns[1]
    rattrs = right.drop("geometry", "minx", "miny", "maxx", "maxy") \
                  .withColumnRenamed(right_id, rid)
    joined = pairs.join(rattrs, rid)
    cols = [c for c in rattrs.columns]
    return joined.groupBy(left_id).agg(
        F.collect_list(F.struct(*cols)).alias("neighbors"))


def get_all_distances(left: DataFrame, right: DataFrame, *,
                      left_id: str = "left_id", right_id: str = "right_id"
                      ) -> DataFrame:
    """`get_all_distances` (neighbors.py:163-269): full distance table.
    Broadcast cross join — only sane with a small right side, exactly like
    the reference's all-pairs kernel."""
    l = left.select(F.col(left_id), F.col("geometry").alias("__lg"),
                    "minx", "miny", "maxx", "maxy")
    r = F.broadcast(right.select(F.col(right_id), F.col("geometry").alias("__rg")))
    cand = l.crossJoin(r)
    lid_t = left.schema[left_id].dataType.simpleString()
    rid_t = right.schema[right_id].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lcodes, lu = pd.factorize(pdf["__lg"], use_na_sentinel=False)
            rcodes, ru = pd.factorize(pdf["__rg"], use_na_sentinel=False)
            la = from_wkb(list(lu))
            ra = from_wkb(list(ru))
            d = geom_pair_distance(la, ra, np.asarray(lcodes, dtype=np.int64),
                                   np.asarray(rcodes, dtype=np.int64))
            yield pd.DataFrame({left_id: pdf[left_id].to_numpy(),
                                right_id: pdf[right_id].to_numpy(),
                                "distance": d})

    return cand.mapInPandas(
        kernel, schema=f"{left_id} {lid_t}, {right_id} {rid_t}, distance double")
