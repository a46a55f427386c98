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
AQE-skew-split; points against rectangles take a zero-Python single-cell
path; distributed point lefts skip the pair join and meet each zone once
per cell in one Arrow cogroup per cell bucket (`_points_cogroup`); the
refine kernel decodes each geometry once per batch and tests it against
its candidates vectorized.
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


def _ncells(g: float, pre_e: float = 0.0) -> str:
    """SQL count of the cells of size `g` a row's bbox, expanded by
    `pre_e`, covers (as `_cover_cells` explodes them)."""
    return (f"((cast(floor((maxx + {pre_e} + {FALSE_EASTING}) / {g}) as bigint)"
            f" - cast(floor((minx - {pre_e} + {FALSE_EASTING}) / {g}) as bigint) + 1)"
            f" * (cast(floor((maxy + {pre_e}) / {g}) as bigint)"
            f" - cast(floor((miny - {pre_e}) / {g}) as bigint) + 1))")


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


def _tiny_inputs(*dfs: DataFrame) -> bool:
    """Every frame provably tiny: a Catalyst size estimate under 4 MB and
    a plan that runs no Python (Spark propagates a child's bytes through
    MapInPandas, so estimates above Python kernels are not trustworthy).
    A join over tiny inputs keeps AQE's coalescing instead of pinning its
    shuffle width: its kernel work is sub-second in one task."""
    for df in dfs:
        est = plan_size_bytes(df)
        if est is None or est >= (4 << 20) or not plan_is_python_free(df):
            return False
    return True


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
         sees a row of an over-cap frame either way.)
    A right built by Python kernels is persisted between the two jobs so
    they run only once; a Python-free right is re-scanned instead, which
    saves the cache's own job."""
    est = plan_size_bytes(df)
    if est is not None and est > 4 * max_bytes:
        return None
    src = df
    cached = not plan_is_python_free(df)
    if cached:
        from pyspark.storagelevel import StorageLevel
        src.persist(StorageLevel.MEMORY_AND_DISK)
        # a new Dataset: `src`'s own plan was optimized by the probes
        # above, before the cache existed, so collecting it would run its
        # kernels again
        df = src.select("*")
    try:
        total = df.agg(F.sum(
            F.coalesce(F.length(F.col("geometry")), F.lit(0))
            + F.lit(48))).first()[0]
        if int(total or 0) > max_bytes:
            return None
        return df.collect()
    finally:
        if cached:
            src.unpersist()


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
                         right_bounds: np.ndarray | None = None
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
    read from these bounds instead of a probe."""
    g = float(gridsize)
    e = float(expand)
    bcast = right_bounds is not None

    # Each side's huge-geometry branch is planned only when that side may
    # hold an oversized row, decided per side without a job where
    # possible: the right from `right_bounds`, a point left from its cover
    # bound (at most 2e/g + 2 cells per axis).
    # Otherwise a side whose plan runs no Python gets a max-cover probe
    # (both sides in ONE tiny job, 2 rows collected); a Python-built side
    # keeps its branch, since probing it would run its kernels one more
    # time.  Beside a broadcast right the left is not probed: its branch
    # is a cross join against the driver-local right, which runs no job
    # of its own, so a probe would only add one.
    l_has_big = not (assume_left_points
                     and (2 * e / g + 2) ** 2 <= MAX_COVER_CELLS)
    r_has_big = True
    if bcast:
        rb = right_bounds
        ncells_r = ((np.floor((rb[:, 2] + FALSE_EASTING) / g)
                     - np.floor((rb[:, 0] + FALSE_EASTING) / g) + 1)
                    * (np.floor(rb[:, 3] / g) - np.floor(rb[:, 1] / g) + 1))
        r_has_big = bool((ncells_r > MAX_COVER_CELLS).any())
    probe_l = l_has_big and not bcast and plan_is_python_free(l0)
    probe_r = r_has_big and not bcast and plan_is_python_free(r0)
    if probe_l or probe_r:
        q = [side.select(F.max(F.expr(_ncells(g, pe))).alias("m"))
             for side, pe, on in ((l0, e, probe_l), (r0, 0.0, probe_r)) if on]
        stats = iter((q[0] if len(q) == 1 else q[0].unionAll(q[1])).collect())
        if probe_l:
            l_has_big = (next(stats)["m"] or 0) > MAX_COVER_CELLS
        if probe_r:
            r_has_big = (next(stats)["m"] or 0) > MAX_COVER_CELLS
    if not l_has_big:
        l_small, l_big = l0, None
    else:
        l_small = l0.where(F.expr(f"{_ncells(g, e)} <= {MAX_COVER_CELLS}"))
        l_big = l0.where(F.expr(f"{_ncells(g, e)} > {MAX_COVER_CELLS}"))
    if not r_has_big:
        r_small, r_big = r0, None
    else:
        r_small = r0.where(F.expr(f"{_ncells(g)} <= {MAX_COVER_CELLS}"))
        r_big = r0.where(F.expr(f"{_ncells(g)} > {MAX_COVER_CELLS}"))

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
    # Provably-tiny inputs (`_tiny_inputs`) skip the pin: a 2x-cores-wide
    # stage is pure scheduling latency for them.  A broadcast right needs
    # no shuffle at all.
    if bcast:
        r = F.broadcast(r)
    elif not _tiny_inputs(l0, r0):
        nparts = _shuffle_partitions(l0.sparkSession)
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
    the shuffle instead (fully distributed, no driver materialization):
    once per cover cell for point lefts (`points_dist`), once per
    candidate pair otherwise.  `_sjoin_route` picks the executor.
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
    if route.name == "points_dist":
        return _points_cogroup(left, right, predicate, left_id=left_id,
                               right_id=right_id, gridsize=gridsize,
                               buckets=facts["buckets"])
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
        # driver-local (row, bbox) frame joined under broadcast; the kernel
        # reads right ids and geometries from the broadcast by row (ids
        # may repeat or be null), not from WKB
        rids, ra, rb = facts["right"]
        r0 = spark.createDataFrame(pd.DataFrame({
            "__rid": np.arange(len(rids)), "minx": rb[:, 0],
            "miny": rb[:, 1], "maxx": rb[:, 2], "maxy": rb[:, 3]}))
        right_geoms = spark.sparkContext.broadcast((rids, ra))
    expand = float(distance or 0.0) if predicate == "dwithin" else 0.0
    cand = cell_candidate_pairs(
        l0, r0, gridsize, expand=expand,
        assume_left_points=assume_left_points, right_bounds=rb)
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
         aggregate over the right (count, widest extent, cover bytes).
         `empty` when no right row has a bbox; `points_dist` when the
         widest right's cover fits MAX_COVER_CELLS, its bucket count
         from the cover bytes and the left's size estimate;
      3. else `kernel_dist`.

    Facts: `right` = (ids, GeomArray, n x 4 bounds) of a collected right;
    from step 2's aggregate `right_cover_max` (a bound on any right
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
        return Route("kernel_dist", (*why, "no point executor"), {})
    if not plan_is_python_free(right):
        return Route("kernel_dist", (*why, "right plan runs Python"), {})
    # ONE aggregate over the right: its count, widest extent and the
    # bytes its cover rows ship (WKB plus id, bbox, key and bucket per
    # cover cell)
    g = float(gridsize)
    st = right.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.col("maxx") - F.col("minx")).alias("mex"),
        F.max(F.col("maxy") - F.col("miny")).alias("mey"),
        F.sum(F.expr(f"{_ncells(g)} * (octet_length(geometry) + 56)"))
        .alias("nb")).first()
    facts = {"n_right": st["n"]}
    if st["mex"] is None:  # no row with a bbox: no row can match
        return Route("empty", (*why, "right has no bounded row"), facts)
    # a row covers at most (extent/g + 2) cells per axis
    cover = facts["right_cover_max"] = (st["mex"] / g + 2) * (st["mey"] / g + 2)
    if cover > MAX_COVER_CELLS:
        return Route("kernel_dist", (*why, f"widest right covers over "
                                     f"{MAX_COVER_CELLS} cells"), facts)
    # three 8-byte columns a row, like the left's (id, x, y)
    left_bytes = plan_size_bytes(left.select("minx", "miny", "maxx"))
    facts["buckets"] = _bucket_count(left.sparkSession, float(st["nb"] or 0),
                                     float(left_bytes or 0))
    return Route("points_dist", (*why, "point lefts, bounded right covers"),
                 facts)


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
    Spark broadcast of (right ids, parsed GeomArray), so candidate rows
    carry only the right's row in it as `__rid`.  The pair predicate is the
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
                rid = pdf["__rid"].to_numpy()
            else:  # __rid is the broadcast row
                rids, ra = right_geoms.value
                ri = pdf["__rid"].to_numpy(dtype=np.int64)
                rid = rids[ri]
            if predicate == "dwithin":
                d = geom_pair_distance(la, ra, li, ri)
                ok = d <= float(distance)
            else:
                ok = refine(la, ra, li, ri, predicate)
            out = pd.DataFrame({left_id: pdf["__lid"].to_numpy()[ok],
                                out_right: rid[ok]})
            if need_dist:
                out["distance"] = d[ok] if predicate == "dwithin" else \
                    geom_pair_distance(la, ra, li[ok], ri[ok])
            yield out

    return cand.mapInPandas(kernel, schema=out_schema)


# Bytes per cogroup bucket of the `points_dist` executor.  A Python call
# loads its whole bucket (both sides' Arrow tables; Spark splits no
# cogroup group), so the bucket count is the bytes both sides ship over
# this, never below spark.sql.shuffle.partitions.  The broadcast cap: a
# worker holds about what the broadcast kernel holds, and the per-call
# cost (~1 ms) is paid once per this many bytes, never once per cell.
BUCKET_BYTES = BROADCAST_RIGHT_MAX_BYTES
# candidate pairs per refine call inside a bucket: bounds the ragged
# (pair x edge) expansion of the PIP kernel like an Arrow batch does
_REFINE_PAIRS = 1 << 16


def _shuffle_partitions(spark) -> int:
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return 64


def _point_cell_key(g: float):
    """`cell_key` of a point at (__x, __y): the one cell it lies in."""
    return F.expr(
        f"cast(floor((__x + {FALSE_EASTING}) / {g}) as bigint) * {1 << Y_BITS}"
        f" + cast(floor(__y / {g}) as bigint)").alias("cell_key")


def _bucket_count(spark, right_bytes: float, left_bytes: float) -> int:
    """Cogroup buckets for `right_bytes` of right cover rows (exact, from
    the route's aggregate) and `left_bytes` of left rows (Catalyst's
    estimate, 0 when it has none): their sum over BUCKET_BYTES, never
    below spark.sql.shuffle.partitions."""
    want = float(np.ceil((right_bytes + left_bytes) / BUCKET_BYTES))
    return int(max(_shuffle_partitions(spark), min(want, 1 << 30)))


def _points_cogroup(left: DataFrame, right: DataFrame, predicate: str, *,
                    left_id: str, right_id: str, gridsize: float,
                    buckets: int) -> DataFrame:
    """The `points_dist` executor: point lefts against any right, fully
    distributed, each zone shipped once per cover cell.

    The left becomes (id, x, y, cell_key) and the right its cover rows
    (id, WKB, bbox, cell_key), both JVM expressions.  Each row gets the
    bucket pmod(hash(cell_key), `buckets`) (Murmur3: cell_key =
    cx * 2^Y_BITS + cy, so a plain modulus would see cy alone), and ONE
    Arrow cogroup per bucket pairs points with zones by cell and closed
    bbox, decodes each zone once, and refines with the driver-resolved
    `refine_runner` (default `refine_pairs`).  A point lies in exactly
    one cell, so every pair appears once: no anchor dedup."""
    import pyarrow as pa

    g = float(gridsize)
    out_right = right_id if right_id != left_id else right_id + "_2"
    schema = _pairs_schema(left, right, left_id, right_id, False)
    bucket = F.expr(f"pmod(hash(cell_key), {int(buckets)})").alias("__b")
    l = left.select(F.col(left_id).alias("__lid"), F.col("minx").alias("__x"),
                    F.col("miny").alias("__y")) \
        .where(F.col("__x").isNotNull() & F.col("__y").isNotNull()) \
        .select("*", _point_cell_key(g)).select("*", bucket)
    r = _cover_cells(right.select(F.col(right_id).alias("__rid"),
                                  F.col("geometry").alias("__rg"),
                                  "minx", "miny", "maxx", "maxy"), g) \
        .select("__rid", "__rg", "minx", "miny", "maxx", "maxy", "cell_key",
                bucket)

    from .conf import get_runner
    from .geom.array import expand_ranges, points
    refine = get_runner("refine_runner", refine_pairs)  # driver-resolved

    def per_bucket(lt: pa.Table, rt: pa.Table) -> pa.Table:
        # points sorted by cell; each cover row finds its cell's run
        lk = lt.column("cell_key").to_numpy()
        order = np.argsort(lk, kind="stable")
        lks = lk[order]
        rk = rt.column("cell_key").to_numpy()
        run, rrow = expand_ranges(np.searchsorted(lks, rk, "left"),
                                  np.searchsorted(lks, rk, "right"))
        lpos = order[run]
        x = lt.column("__x").to_numpy()
        y = lt.column("__y").to_numpy()
        px, py = x[lpos], y[lpos]
        hit = ((px >= rt.column("minx").to_numpy()[rrow])
               & (px <= rt.column("maxx").to_numpy()[rrow])
               & (py >= rt.column("miny").to_numpy()[rrow])
               & (py <= rt.column("maxy").to_numpy()[rrow]))
        lpos, rrow = lpos[hit], rrow[hit]
        # each zone with a candidate decodes once, told apart by its WKB
        # (as in _refine_kernel: ids may repeat or be null)
        urow, inv = np.unique(rrow, return_inverse=True)
        codes, uniq = pd.factorize(rt.column("__rg").take(urow).to_numpy(
            zero_copy_only=False), use_na_sentinel=False)
        ra = from_wkb(list(uniq))
        ri = np.asarray(codes, dtype=np.int64)[inv]
        la = points(np.c_[x, y])
        ok = np.zeros(len(lpos), dtype=bool)
        for s in range(0, len(lpos), _REFINE_PAIRS):
            e = s + _REFINE_PAIRS
            ok[s:e] = refine(la, ra, lpos[s:e], ri[s:e], predicate)
        return pa.table({left_id: lt.column("__lid").take(lpos[ok]),
                         out_right: rt.column("__rid").take(rrow[ok])})

    if not _tiny_inputs(left, right):  # pinned width: as in the cell join
        nparts = _shuffle_partitions(left.sparkSession)
        l = l.repartition(nparts, "__b")
        r = r.repartition(nparts, "__b")
    return l.groupBy("__b").cogroup(r.groupBy("__b")) \
        .applyInArrow(per_bucket, schema)


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
    cand = l.select("*", _point_cell_key(g)) \
        .join(F.broadcast(rcells), "cell_key")
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
