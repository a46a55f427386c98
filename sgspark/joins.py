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

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from collections import Counter

from .cells import FALSE_EASTING, Y_BITS, cover_cell_keys
from .geom.wkb import from_wkb
from .geom.predicates import geom_pair_distance, refine_pairs

DEFAULT_GRIDSIZE = 2000.0

PATH_STATS: Counter = Counter()
"""Driver-side refine-path tally (plan-time, one tick per sjoin_pairs
call, not per row): which refine implementation the call compiled to —
`jvm_*` = whole-stage-codegen SQL, `kernel_*` = Arrow/numpy mapInPandas.
tools/path_share.py uses it to measure the Arrow-kernel family's share
of the bench suite (BENCH/BASELINE.md, round-5 directive 8)."""


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


def _collect_bounded(df: DataFrame, max_bytes: int, geom_pos: int = 1
                     ) -> list | None:
    """Collect rows IF the payload stays under a BYTE cap, else None.

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
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
        if 0 < est < (1 << 62) and est > 4 * max_bytes:
            return None
    except Exception:
        pass
    from pyspark.storagelevel import StorageLevel
    gcol = df.columns[geom_pos]
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        total = df.agg(F.sum(
            F.coalesce(F.length(F.col(gcol)), F.lit(0))
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
                         probe_big: bool | None = False,
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

    def _ncells(pre_e: float):
        return (f"((cast(floor((maxx + {pre_e} + {FALSE_EASTING}) / {g}) as bigint)"
                f" - cast(floor((minx - {pre_e} + {FALSE_EASTING}) / {g}) as bigint) + 1)"
                f" * (cast(floor((maxy + {pre_e}) / {g}) as bigint)"
                f" - cast(floor((miny - {pre_e}) / {g}) as bigint) + 1))")

    # Optional plan-time probe (`probe_big`): ONE tiny job (two columns-only
    # aggregate stages, 2 rows collected) that finds each side's max cell
    # cover.  When a side has no oversized rows — the overwhelmingly common
    # case — its big-branch scan, filter, and empty broadcast build are
    # dropped from the plan entirely instead of costing a fixed ~0.7s per
    # overlay.  Sides with kernel-derived inputs pay one extra upstream
    # pass, so call-sites choose (overlay probes; point sjoins skip).
    l_has_big, r_has_big = True, True
    if bcast:
        rb = right_bounds
        ncells_r = ((np.floor((rb[:, 2] + FALSE_EASTING) / g)
                     - np.floor((rb[:, 0] + FALSE_EASTING) / g) + 1)
                    * (np.floor(rb[:, 3] / g) - np.floor(rb[:, 1] / g) + 1))
        r_has_big = bool((ncells_r > MAX_COVER_CELLS).any())
    elif probe_big is None:  # auto: probe iff the extra pass runs no Python
        probe_big = plan_is_python_free(l0) and plan_is_python_free(r0)
    if probe_big:
        stats = (l0.select(F.max(F.expr(_ncells(e))).alias("m"))
                 .unionAll(r0.select(F.max(F.expr(_ncells(0.0))).alias("m")))
                 .collect())
        l_has_big = (stats[0]["m"] or 0) > MAX_COVER_CELLS
        r_has_big = (stats[1]["m"] or 0) > MAX_COVER_CELLS
    if (assume_left_points and e == 0.0) or not l_has_big:
        l_small, l_big = l0, None  # points cover one cell; skip the branch
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
    def _est(df):
        try:
            v = int(df._jdf.queryExecution().optimizedPlan()
                    .stats().sizeInBytes())
            return v if 0 < v < (1 << 62) else None
        except Exception:
            return None
    if bcast:
        r = F.broadcast(r)
    else:
        el, er = _est(l0), _est(r0)
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
                assume_left_points: bool | None = None,
                assume_left_lines: bool | None = None) -> DataFrame:
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
    """
    from .crs import require_same_crs
    require_same_crs(left, right)  # analysis-time; untagged frames pass

    expand = float(distance or 0.0) if predicate == "dwithin" else 0.0

    if broadcast_right is not False:
        sel = right.select(right_id, "geometry", "minx", "miny",
                           "maxx", "maxy")
        if broadcast_right:  # explicit: no cap, caller takes responsibility
            rows = sel.collect()
        else:  # auto: byte-bounded probe, no eager count job
            rows = _collect_bounded(sel, BROADCAST_RIGHT_MAX_BYTES)
        if rows is not None:
            return _sjoin_pairs_broadcast(left, right, predicate, rows,
                                          left_id=left_id, right_id=right_id,
                                          distance=distance,
                                          gridsize=gridsize,
                                          keep_distance=keep_distance,
                                          assume_left_points=assume_left_points,
                                          assume_left_lines=assume_left_lines)

    from .conf import config, jvm_pip_enabled
    if assume_left_points and (
            (expand == 0.0 and not keep_distance
             and predicate in ("within", "intersects", "covered_by"))
            or predicate == "dwithin") and jvm_pip_enabled():
        # use_jvm_pip=True forces the compiled route; None (default) lets
        # the estimated pair count choose it
        jvm = _points_vs_polygons_distributed(
            left, right, left_id=left_id, right_id=right_id,
            gridsize=gridsize, predicate=predicate, distance=distance,
            min_pairs=0 if config.get("use_jvm_pip")
            else PIP_COMPILED_MIN_PAIRS)
        if jvm is not None:
            PATH_STATS["jvm_polys_dist"] += 1
            return jvm

    l0 = left.select(F.col(left_id).alias("__lid"),
                     F.col("geometry").alias("__lg"),
                     "minx", "miny", "maxx", "maxy")
    r0 = right.select(F.col(right_id).alias("__rid"),
                      F.col("geometry").alias("__rg"),
                      "minx", "miny", "maxx", "maxy")
    cand = cell_candidate_pairs(l0, r0, gridsize, expand=expand,
                                assume_left_points=assume_left_points)
    return _refine_kernel(cand, left, right, predicate, left_id=left_id,
                          right_id=right_id, distance=distance,
                          keep_distance=keep_distance)


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
    lid_t = left.schema[left_id].dataType.simpleString()
    rid_t = right.schema[right_id].dataType.simpleString()
    out_right = right_id if right_id != left_id else right_id + "_2"
    out_schema = f"{left_id} {lid_t}, {out_right} {rid_t}"
    if need_dist:
        out_schema += ", distance double"

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

    PATH_STATS["kernel_dist" if right_geoms is None else "kernel_bcast"] += 1
    return cand.mapInPandas(kernel, schema=out_schema)


def _sjoin_pairs_broadcast(left: DataFrame, right: DataFrame, predicate: str,
                           rows: list, *, left_id: str, right_id: str,
                           distance: float | None, gridsize: float,
                           keep_distance: bool,
                           assume_left_points: bool | None = None,
                           assume_left_lines: bool | None = None
                           ) -> DataFrame:
    """Small-right refine: right geometries (pre-collected under a byte cap
    by the caller) parsed once, broadcast as a GeomArray; candidates carry
    ids only."""
    expand = float(distance or 0.0) if predicate == "dwithin" else 0.0
    spark = left.sparkSession
    lid_t = left.schema[left_id].dataType.simpleString()
    rid_t = right.schema[right_id].dataType.simpleString()

    rids = np.array([r[0] for r in rows])
    ra = from_wkb([r[1] for r in rows])
    rb = np.array([[r[2], r[3], r[4], r[5]] for r in rows], dtype=np.float64) \
        if rows else np.zeros((0, 4))

    # PREDICATE COMPILATION: point-left x rectangle-right evaluates fully
    # JVM-side (between-filters after the cell join — zero Python, full
    # whole-stage codegen).  Detected, not hinted: zero-extent left bboxes
    # == points; rect_flags on the parsed right geometries.
    from .geom.predicates import rect_flags
    r_rect, _rbounds = rect_flags(ra)
    _g0 = float(gridsize)
    _exp0 = expand
    _nc = ((np.floor((rb[:, 2] + _exp0 + FALSE_EASTING) / _g0)
            - np.floor((rb[:, 0] - _exp0 + FALSE_EASTING) / _g0) + 1)
           * (np.floor((rb[:, 3] + _exp0) / _g0)
              - np.floor((rb[:, 1] - _exp0) / _g0) + 1)) \
        if len(rb) else np.zeros(0)
    rights_all_small = bool((_nc <= MAX_COVER_CELLS).all())
    rect_ok = (len(ra) == 0 or bool(r_rect.all())) and rights_all_small and \
        predicate in ("within", "intersects", "covered_by", "dwithin")
    # GENERAL polygons (concave/holed/multipart) also compile JVM-side:
    # ray-cast PIP as a higher-order SQL expression (round-4; VERDICT r3
    # directive 1b) — distance variants still take the Arrow kernel
    poly_ok = (len(ra) > 0 and bool(np.isin(ra.kinds, (3, 6)).all())
               and (predicate in ("within", "intersects", "covered_by")
                    and not keep_distance or predicate == "dwithin"))
    if (rect_ok or poly_ok) and assume_left_points is not False:
        if assume_left_points:
            left_is_points = True  # caller vouches (e.g. geom_kind filter)
        else:
            # detection scan only when the caller gave no hint — on big
            # left sides pass assume_left_points explicitly to skip it
            ext = left.agg(
                F.max(F.col("maxx") - F.col("minx")).alias("ex"),
                F.max(F.col("maxy") - F.col("miny")).alias("ey")).first()
            left_is_points = (ext["ex"] is not None
                              and float(ext["ex"] or 0) == 0.0
                              and float(ext["ey"] or 0) == 0.0)
        if left_is_points and rect_ok:
            PATH_STATS["jvm_rects_bcast"] += 1
            return _points_vs_rects_jvm(
                spark, left, rids, rb, predicate, left_id=left_id,
                right_id=right_id, rid_t_source=right, distance=distance,
                gridsize=gridsize, keep_distance=keep_distance)
        if left_is_points and poly_ok:
            PATH_STATS["jvm_polys_bcast"] += 1
            return _points_vs_polygons_jvm(
                spark, left, rids, ra, rb, left_id=left_id,
                right_id=right_id, rid_t=rid_t, gridsize=gridsize,
                predicate=predicate, distance=distance)

    # LINE lefts x polygon/rect rights, plain `intersects`: compiled
    # segment-crossing/head-PIP path (round 5, directive 8) — hinted via
    # assume_left_lines, or detected from a uniform geom_kind column
    from .conf import jvm_pip_enabled
    lines_ok = (len(ra) > 0 and bool(np.isin(ra.kinds, (3, 6)).all())
                and predicate == "intersects" and not keep_distance
                and assume_left_points is not True
                and assume_left_lines is not False and jvm_pip_enabled())
    if lines_ok:
        if assume_left_lines:
            left_is_lines = True
        elif "geom_kind" in left.columns:
            kk = left.agg(F.min("geom_kind").alias("a"),
                          F.max("geom_kind").alias("b")).first()
            left_is_lines = kk["a"] == "line" and kk["b"] == "line"
        else:
            left_is_lines = False
        if left_is_lines:
            PATH_STATS["jvm_segs_bcast"] += 1
            return _segments_vs_polygons_jvm(
                spark, left, rids, ra, rb, r_rect, left_id=left_id,
                right_id=right_id, rid_t=rid_t, lid_t=lid_t,
                gridsize=gridsize)

    # POLYGON lefts x polygon/rect rights, plain `intersects`: compiled
    # crossing/containment composition (round 5) — byte-gated so small
    # layers keep the latency-optimal Arrow kernel while large layers
    # (where per-pair cost dominates) take whole-stage codegen.  One
    # fused columnar probe checks left-family purity (null-safe) and the
    # bbox-cover bound; mixed/huge lefts fall back to the kernel.
    if (len(ra) > 0 and bool(np.isin(ra.kinds, (3, 6)).all())
            and predicate == "intersects" and not keep_distance
            and assume_left_points is not True
            and assume_left_lines is not True and jvm_pip_enabled()
            and _poly2_wanted(left)):
        gq = float(gridsize)
        ncells_sql = (
            f"((cast(floor((maxx + {FALSE_EASTING}) / {gq}) as bigint)"
            f" - cast(floor((minx + {FALSE_EASTING}) / {gq}) as bigint) + 1)"
            f" * (cast(floor(maxy / {gq}) as bigint)"
            f" - cast(floor(miny / {gq}) as bigint) + 1))")
        if "geom_kind" in left.columns:
            type_ok = F.col("geom_kind") == "polygon"
        else:
            from .geometry_types import wkb_gtype_col
            type_ok = wkb_gtype_col("geometry").isin(3, 6)
        st = left.agg(
            F.max((~F.coalesce(type_ok, F.lit(False))).cast("int"))
            .alias("bad"),
            F.count(F.lit(1)).alias("n"),
            F.max(F.expr(ncells_sql)).alias("mc")).first()
        if (st["n"] and not st["bad"] and st["mc"] is not None
                and int(st["mc"]) <= MAX_COVER_CELLS):
            # (country-sized LEFT rows would explode the term-3 pack;
            # such layers keep the kernel path, like the distributed
            # point-join's huge-right fallback)
            PATH_STATS["jvm_polys2_bcast"] += 1
            return _polys_vs_polys_jvm(
                spark, left, rids, ra, rb, r_rect, left_id=left_id,
                right_id=right_id, rid_t=rid_t, lid_t=lid_t,
                gridsize=gridsize, left_max_cover=int(st["mc"]))

    # Arrow kernel: the right enters the shared candidate generator as a
    # driver-local (id, bbox) frame joined under broadcast; the kernel
    # reads right geometries from the broadcast GeomArray, not from WKB
    l0 = left.select(F.col(left_id).alias("__lid"),
                     F.col("geometry").alias("__lg"),
                     "minx", "miny", "maxx", "maxy")
    r0 = spark.createDataFrame(pd.DataFrame({
        "__rid": rids, "minx": rb[:, 0], "miny": rb[:, 1],
        "maxx": rb[:, 2], "maxy": rb[:, 3]}))
    cand = cell_candidate_pairs(l0, r0, gridsize, expand=expand,
                                assume_left_points=assume_left_points,
                                right_bounds=rb)
    rid_to_idx = pd.Series(np.arange(len(rids)), index=rids)
    return _refine_kernel(
        cand, left, right, predicate, left_id=left_id, right_id=right_id,
        distance=distance, keep_distance=keep_distance,
        right_geoms=spark.sparkContext.broadcast((rid_to_idx, ra)))


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


def _dist2_term(acc: tuple[str, str, str, str], x: str, y: str) -> str:
    """Squared point-to-segment distance for one edge (accessor tuple) —
    bit-identical to point_geom_distance_vectorized: t = clip(dot/ll, 0, 1)
    (t = 0 for zero-length edges), d2 = (rx - t*dx)^2 + (ry - t*dy)^2."""
    ax, ay, bx, by = acc
    dx, dy = f"({bx} - {ax})", f"({by} - {ay})"
    rx, ry = f"({x} - {ax})", f"({y} - {ay})"
    ll = f"({dx} * {dx} + {dy} * {dy})"
    t = (f"(CASE WHEN {ll} > 0D THEN "
         f"least(greatest(({rx} * {dx} + {ry} * {dy}) / {ll}, 0D), 1D) "
         f"ELSE 0D END)")
    return (f"(({rx} - {t} * {dx}) * ({rx} - {t} * {dx}) + "
            f"({ry} - {t} * {dy}) * ({ry} - {t} * {dy}))")


def _point_poly_dist_sql(E: str, x: str, y: str, base: str = "0") -> str:
    """Point-to-polygon distance over the packed edge arrays: 0 when
    inside (boundary-inclusive PIP), else sqrt(min squared edge distance).
    Unrolled (codegen) within the tiers; interpreted aggregate() fallback
    above them.  Same IEEE operation order as
    point_geom_distance_vectorized.

    With cell-subset packs the min runs over the subset only; the pack
    guarantees every edge within the dwithin expansion of the cell is
    included, so the min is exact for every pair that can pass the
    distance cap (an excluded edge is farther than the cap from every
    point of the cell)."""
    inf = "CAST('Infinity' AS DOUBLE)"
    sz = _esz(E)

    def unroll(k):
        terms = []
        for i in range(1, k + 1):
            terms.append(f"(CASE WHEN ({i} <= {sz}) AND "
                         f"(NOT {_eskip(E, i)}) "
                         f"THEN {_dist2_term(_eacc(E, i), x, y)} "
                         f"ELSE {inf} END)")
        return f"least({', '.join(terms)})"
    lam = (f"aggregate(sequence(1, {sz}), {inf}, "
           f"(acc, i) -> least(acc, CASE WHEN {_eskip(E, 'i')} THEN {inf} "
           f"ELSE {_dist2_term(_eacc(E, 'i'), x, y)} END))")
    mid = ("" if PIP_UNROLL_EDGES == PIP_UNROLL_SMALL else
           f"WHEN {sz} <= {PIP_UNROLL_EDGES} "
           f"THEN {unroll(PIP_UNROLL_EDGES)} ")
    d2 = (f"(CASE WHEN {sz} <= {PIP_UNROLL_SMALL} "
          f"THEN {unroll(PIP_UNROLL_SMALL)} "
          f"{mid}ELSE {lam} END)")
    return (f"(CASE WHEN {_pip_sql_any(E, x, y, base)} THEN 0D "
            f"ELSE sqrt({d2}) END)")


def _pip_sql_any(E: str, x: str, y: str, base: str = "0") -> str:
    """PIP without the rect shortcut (edge arrays present for every row)."""
    mid = ("" if PIP_UNROLL_EDGES == PIP_UNROLL_SMALL else
           f"WHEN {_esz(E)} <= {PIP_UNROLL_EDGES} "
           f"THEN {_pip_sql_unrolled(E, x, y, base=base)} ")
    return (f"(CASE WHEN {_esz(E)} <= {PIP_UNROLL_SMALL} "
            f"THEN {_pip_sql_unrolled(E, x, y, PIP_UNROLL_SMALL, base)} "
            f"{mid}ELSE {_pip_sql(E, x, y, base)} END)")


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


def _chain_cols_of(ga, skip_mask) -> tuple[list, list, list]:
    """Per-geometry CHAINED vertex arrays (vx, vy, skip words, first
    word scalar): each ring
    is one closed chain (its consecutive vertex pairs reproduce exactly
    the edge set _edge_rows_of carried as 4 arrays, bit-for-bit); the
    connector slot between rings is flagged in the skip mask.  Halves
    pack bytes per edge vs the round-5 4-array form (VERDICT r5 #1).
    Geometries flagged in `skip_mask` get empty arrays."""
    vxs, vys, skips, sk0s = [], [], [], []
    for i in range(len(ga)):
        if skip_mask[i]:
            vxs.append([]); vys.append([]); skips.append([])
            sk0s.append(0)
            continue
        vx_parts, vy_parts, skip = [], [], []
        nv = 0
        for ring in ga.rings_of_geom(i):
            if len(ring) < 2:
                continue
            if nv:
                # connector = the implicit vertex pair across the ring
                # boundary; it occupies slot nv-1 and adds no vertex
                skip.append(nv - 1)
            vx_parts.append(ring[:, 0])
            vy_parts.append(ring[:, 1])
            nv += len(ring)
        if nv == 0:
            vxs.append([]); vys.append([]); skips.append([])
            sk0s.append(0)
            continue
        words = _skip_words(skip, nv - 1)
        vxs.append(np.concatenate(vx_parts).tolist())
        vys.append(np.concatenate(vy_parts).tolist())
        skips.append(words)
        sk0s.append(words[0] if words else 0)
    return vxs, vys, skips, sk0s


# ---------------------------------------------------------------------------
# Compiled segment(line-left) x polygon-right `intersects` (round 5,
# VERDICT r4 directive 8): the roads/clip_lines family rides the same
# cover-cell/edge-subset pack as the point path.  A line intersects a
# polygon iff any of its segments crosses a boundary edge, or the line's
# first vertex lies inside (connected chains inside without crossing ARE
# wholly inside; mirrors _geom_geom_intersects, predicates.py:443, which
# containment-tests only chains[0][:1]).  Each (segment, zone, cell) row
# evaluates crossings against that cell's edge subset — a real crossing
# lies in some covered cell whose subset provably contains the crossed
# edge, and subsets only hold true polygon edges, so no false positives —
# plus a head-PIP term gated to the row whose region contains the head.


def _seg_onseg_sql(px, py, qx, qy, rx, ry) -> str:
    """Collinear point-on-segment bbox test — mirrors predicates._on_seg:
    min(px,qx) <= rx <= max(px,qx) and likewise for y."""
    return (f"(least({px}, {qx}) <= {rx} AND {rx} <= greatest({px}, {qx})"
            f" AND least({py}, {qy}) <= {ry} AND {ry} <= "
            f"greatest({py}, {qy}))")


def _seg_touch_term(acc, sx, sy, tx, ty) -> str:
    """Segment (S,T) x edge (A,B) intersection — the exact boolean of
    predicates._seg_seg_touch with (p1,p2)=(S,T), (p3,p4)=(A,B): proper
    straddle via orientation signs, else collinear endpoint-touch.  Same
    `(bx-ax)*(cy-ay)-(by-ay)*(cx-ax)` operation order, so sign decisions
    agree bit-for-bit with the Arrow kernel (and are invariant under the
    coordinate swap vert rows store, since swapping exactly negates the
    cross product)."""
    ax, ay, bx, by = acc

    def o(a0, a1, b0, b1, c0, c1):
        return (f"(({b0} - {a0}) * ({c1} - {a1}) - "
                f"({b1} - {a1}) * ({c0} - {a0}))")
    d1 = o(ax, ay, bx, by, sx, sy)
    d2 = o(ax, ay, bx, by, tx, ty)
    d3 = o(sx, sy, tx, ty, ax, ay)
    d4 = o(sx, sy, tx, ty, bx, by)
    return (f"(((({d1} > 0D) != ({d2} > 0D)) AND "
            f"(({d3} > 0D) != ({d4} > 0D)))"
            f" OR (({d1} = 0D) AND {_seg_onseg_sql(ax, ay, bx, by, sx, sy)})"
            f" OR (({d2} = 0D) AND {_seg_onseg_sql(ax, ay, bx, by, tx, ty)})"
            f" OR (({d3} = 0D) AND {_seg_onseg_sql(sx, sy, tx, ty, ax, ay)})"
            f" OR (({d4} = 0D) AND {_seg_onseg_sql(sx, sy, tx, ty, bx, by)}))")


def _seg_cross_sql(E: str, sx, sy, tx, ty) -> str:
    """Any packed edge of {E} intersects segment (S,T): tier-unrolled
    whole-stage-codegen within <=PIP_UNROLL_SMALL / <=PIP_UNROLL_EDGES
    edges, interpreted exists()
    above (subcell packs keep real layers inside the tiers)."""
    sz = _esz(E)

    def unroll(k):
        terms = [f"(({i} <= {sz}) AND (NOT {_eskip(E, i)}) AND "
                 f"{_seg_touch_term(_eacc(E, i), sx, sy, tx, ty)})"
                 for i in range(1, k + 1)]
        return f"({' OR '.join(terms)})"
    lam = (f"exists(sequence(1, {sz}), i -> (NOT {_eskip(E, 'i')}) AND "
           f"{_seg_touch_term(_eacc(E, 'i'), sx, sy, tx, ty)})")
    mid = ("" if PIP_UNROLL_EDGES == PIP_UNROLL_SMALL else
           f"WHEN {sz} <= {PIP_UNROLL_EDGES} "
           f"THEN {unroll(PIP_UNROLL_EDGES)} ")
    return (f"(CASE WHEN {sz} <= {PIP_UNROLL_SMALL} "
            f"THEN {unroll(PIP_UNROLL_SMALL)} "
            f"{mid}ELSE {lam} END)")


def _seg_rect_cross_sql(x0, y0, x1, y1, sx, sy, tx, ty) -> str:
    """Segment x axis-aligned rectangle boundary: the four synthesized
    edges through the same touch term.  Edge direction/start is
    irrelevant — the per-edge boolean is invariant under endpoint swap
    (exact negation of each orientation), so any ring orientation the
    kernel stores gives the same answer."""
    edges = [(x0, y0, x1, y0), (x1, y0, x1, y1),
             (x1, y1, x0, y1), (x0, y1, x0, y0)]
    return ("(" + " OR ".join(
        _seg_touch_term(e, sx, sy, tx, ty) for e in edges) + ")")


def _explode_segments(left: DataFrame, left_id: str, lid_t: str) -> DataFrame:
    """O(|left|) Arrow pass (NOT per-pair): lines -> one row per segment
    (head flag on the first segment of the first chain, whose start is
    the containment probe chains[0][0]).  Single-vertex chains emit a
    degenerate (P,P) segment so the head probe survives."""
    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(list(pdf["geometry"]))
            lids, sxs, sys_, txs, tys, heads = [], [], [], [], [], []
            for gi in range(len(ga)):
                lid = pdf.iloc[gi, 0]
                first = True
                for chain in ga.rings_of_geom(gi):
                    if len(chain) == 1:
                        a = b = chain
                    else:
                        a, b = chain[:-1], chain[1:]
                    n = len(a)
                    lids.extend([lid] * n)
                    sxs.extend(a[:, 0].tolist())
                    sys_.extend(a[:, 1].tolist())
                    txs.extend(b[:, 0].tolist())
                    tys.extend(b[:, 1].tolist())
                    heads.extend([first] + [False] * (n - 1))
                    first = False
            yield pd.DataFrame({left_id: lids, "__sx": sxs, "__sy": sys_,
                                "__tx": txs, "__ty": tys, "__head": heads})

    return left.select(left_id, "geometry").mapInPandas(
        explode, schema=(f"{left_id} {lid_t}, __sx double, __sy double, "
                         "__tx double, __ty double, __head boolean"))


def _seg_match_sql(g: float) -> str:
    """Per-(segment, cover-row) match predicate over the packed columns.
    Vert rows store swapped edge coordinates, so the crossing/PIP terms
    read swapped probe coordinates; the rect branch and all gates use the
    unswapped originals."""
    ssx = "(CASE WHEN __vert THEN __sy ELSE __sx END)"
    ssy = "(CASE WHEN __vert THEN __sx ELSE __sy END)"
    stx = "(CASE WHEN __vert THEN __ty ELSE __tx END)"
    sty = "(CASE WHEN __vert THEN __tx ELSE __ty END)"
    head_in_rect = ("(__sx >= __rminx AND __sx <= __rmaxx AND "
                    "__sy >= __rminy AND __sy <= __rmaxy)")
    # head-PIP validity gate: the subset/base are exact only for probes
    # inside the row's region — the cell (non-subdivided rows: rect is
    # the whole zone bbox, so require the head's cell = this row's cell)
    # or the subcell rect + clipped-floor assignment (subdivided rows)
    head_cell = (f"(cast(floor((__sx + {FALSE_EASTING}) / {g}) as bigint) "
                 f"* {1 << Y_BITS} + cast(floor(__sy / {g}) as bigint))")
    sub_f = _SUBCELL_FILTER.replace("__x", "__sx").replace("__y", "__sy")
    head_gate = (f"(__head AND {head_in_rect} AND {sub_f} AND "
                 f"(__km1 > 0 OR {head_cell} = cell_key))")
    return (
        "CASE WHEN __isrect THEN "
        f"((__head AND {head_in_rect}) OR "
        f"{_seg_rect_cross_sql('__rminx', '__rminy', '__rmaxx', '__rmaxy', '__sx', '__sy', '__tx', '__ty')}) "
        f"ELSE ({_seg_cross_sql('__e', ssx, ssy, stx, sty)} OR "
        f"({head_gate} AND "
        f"{_pip_sql_any('__e', ssx, ssy, '__base')})) END")


def _segments_vs_polygons_jvm(spark, left, rids, ra, rb, r_rect, *,
                              left_id, right_id, rid_t, lid_t,
                              gridsize, raw_pairs: bool = False,
                              left_max_cover: int | None = None
                              ) -> DataFrame:
    """All-JVM refine for line-left x polygon/rect-right `intersects`:
    segment explode (one O(|left|) Arrow pass) -> JVM cell-cover explode
    -> broadcast cell join against the subset pack -> codegen
    crossing/head-PIP -> distinct pairs.  No Python on the pair path.

    `raw_pairs=True` returns the pre-distinct (left_id, __rid) matches —
    the polygon x polygon composition unions its head-containment term in
    before the single distinct.  `left_max_cover` skips the left-side
    bbox-cover probe job when the caller already aggregated it."""
    import pandas as _pd
    g = float(gridsize)
    out_right = right_id if right_id != left_id else right_id + "_2"
    rids = np.asarray(rids)
    edge_rows = _edge_rows_of(ra)

    ncells = ((np.floor((rb[:, 2] + FALSE_EASTING) / g)
               - np.floor((rb[:, 0] + FALSE_EASTING) / g) + 1)
              * (np.floor(rb[:, 3] / g) - np.floor(rb[:, 1] / g) + 1)) \
        if len(rb) else np.zeros(0)
    small = ncells <= MAX_COVER_CELLS
    sm = np.nonzero(small)[0]
    rcells = spark.createDataFrame(
        _pack_cover_rows([edge_rows[i] for i in sm], rids[sm], rb[sm],
                         r_rect[sm], g, 0.0),
        schema=f"__rid {rid_t}" + _COVER_SCHEMA_TAIL)

    # split LINES (not segments) by cover size BEFORE the explode: a
    # segment's bbox is contained in its line's bbox, so every segment of
    # a small line is itself small — the split is a pure column filter and
    # the common case (no country-sized line) runs the Arrow explode
    # exactly once.  The existence probe is one cheap columnar agg.
    ncells_sql = (
        f"((cast(floor((maxx + {FALSE_EASTING}) / {g}) as bigint)"
        f" - cast(floor((minx + {FALSE_EASTING}) / {g}) as bigint) + 1)"
        f" * (cast(floor(maxy / {g}) as bigint)"
        f" - cast(floor(miny / {g}) as bigint) + 1))")
    mx = left_max_cover if left_max_cover is not None else \
        left.agg(F.max(F.expr(ncells_sql)).alias("m")).first()["m"]
    has_big_lines = mx is not None and mx > MAX_COVER_CELLS
    l_small = left.where(F.expr(f"{ncells_sql} <= {MAX_COVER_CELLS}")) \
        if has_big_lines else left

    def explode(src):
        return _explode_segments(src, left_id, lid_t) \
            .withColumn("minx", F.least("__sx", "__tx")) \
            .withColumn("miny", F.least("__sy", "__ty")) \
            .withColumn("maxx", F.greatest("__sx", "__tx")) \
            .withColumn("maxy", F.greatest("__sy", "__ty"))

    s_small = explode(l_small)

    seg_cols = [left_id, "__sx", "__sy", "__tx", "__ty", "__head"]
    sc = _cover_cells(s_small, g).select(*seg_cols, "cell_key",
                                         F.col("minx").alias("__sminx"),
                                         F.col("miny").alias("__sminy"),
                                         F.col("maxx").alias("__smaxx"),
                                         F.col("maxy").alias("__smaxy"))
    cand = sc.join(F.broadcast(rcells), "cell_key") \
        .where((F.col("__sminx") <= F.col("__rmaxx")) &
               (F.col("__smaxx") >= F.col("__rminx")) &
               (F.col("__sminy") <= F.col("__rmaxy")) &
               (F.col("__smaxy") >= F.col("__rminy")))
    matched = cand.where(F.expr(_seg_match_sql(g))) \
        .select(F.col(left_id), F.col("__rid"))

    # full-edge fallback rows (base 0, unswapped, whole-geometry rect):
    # big segments x ALL rights, and remaining segments x big rights —
    # rare country-sized cases; correctness identical, interpreted tier
    def full_edge_df(idx):
        vx, vy, skips, sk0 = _chain_cols_of(ra, r_rect)
        return F.broadcast(spark.createDataFrame(
            [(rids[i].item() if hasattr(rids[i], "item") else rids[i],
              bool(r_rect[i]), 0, False, 0.0, 0.0, float(g), float(g),
              0, 0, 0,
              float(rb[i, 0]), float(rb[i, 1]),
              float(rb[i, 2]), float(rb[i, 3]),
              vx[i], vy[i], skips[i], sk0[i]) for i in idx],
            schema=(f"__rid {rid_t}, __isrect boolean, __base int, "
                    "__vert boolean, __cx0 double, __cy0 double, "
                    "__swx double, __swy double, "
                    "__si int, __sj int, __km1 int, "
                    "__rminx double, __rminy double, "
                    "__rmaxx double, __rmaxy double, "
                    + _CHAIN_COLS_SQL)))

    def bbox_branch(seg_df, right_df):
        c = seg_df.crossJoin(right_df) \
            .where((F.col("minx") <= F.col("__rmaxx")) &
                   (F.col("maxx") >= F.col("__rminx")) &
                   (F.col("miny") <= F.col("__rmaxy")) &
                   (F.col("maxy") >= F.col("__rminy"))) \
            .withColumn("cell_key", F.expr(
                f"cast(floor((__sx + {FALSE_EASTING}) / {g}) as bigint) "
                f"* {1 << Y_BITS} + cast(floor(__sy / {g}) as bigint)"))
        return c.where(F.expr(_seg_match_sql(g))) \
            .select(F.col(left_id), F.col("__rid"))

    if has_big_lines:
        s_big = explode(left.where(
            F.expr(f"{ncells_sql} > {MAX_COVER_CELLS}")))
        matched = matched.unionByName(
            bbox_branch(s_big, full_edge_df(range(len(rids)))))
    if (~small).any():
        # big rights re-consume s_small: one extra O(|left|) Arrow pass,
        # accepted because country-sized rights are rare and persisting
        # the exploded segments would pin executor memory per call
        matched = matched.unionByName(
            bbox_branch(s_small, full_edge_df(np.nonzero(~small)[0])))
    if raw_pairs:
        return matched
    return matched.distinct() \
        .select(F.col(left_id), F.col("__rid").alias(out_right))


def _poly2_wanted(left: DataFrame) -> bool:
    """Routing dial for the compiled polygon x polygon composition:
    OPT-IN ONLY (config `use_jvm_poly2=True` or env `SGSPARK_POLY2=1`).

    Which side wins depends on the pair count (BENCH/BASELINE.md,
    negative-result section, single runs on 4 cores, CPU-s cold/warm):
    at 2k 8-gon lefts x 180 8-gon zones the composition costs 86/25
    against the Arrow kernel's 22/8; at 50k x 1800 (0.88M pairs) it
    costs 195/97 against 360/301.  Round 5 had measured the kernel ahead
    at 200k x 2k 6-edge (5.4 s vs 11.9 s) and 100k x 1k 256-vertex rights
    (2.8 s vs 48 s).  The composition pays for (a) candidate
    amplification: the segment explode multiplies left rows by segments,
    and the K x K subcell refinement multiplies broadcast cover rows; and
    (b) a match predicate in the BroadcastHashJoin's RESIDUAL condition,
    whose generated code exceeds JIT method limits for the seg-touch
    unroll tiers and runs interpreted.  The kernel pays per pair in
    Python: its general line/polygon `intersects` refine
    (`predicates._intersects_pairs`) calls `_geom_geom_intersects` once
    per candidate pair in a loop.  No size rule picks between the two
    yet (ROADMAP.md)."""
    from .conf import config
    v = config.get("use_jvm_poly2")
    if v is not None:
        return bool(v)
    return os.environ.get("SGSPARK_POLY2") == "1"


def _heads_in_left_polys(spark, heads_pdf: pd.DataFrame, left: DataFrame,
                         left_id: str, lid_t: str, hid_t: str,
                         g: float) -> DataFrame:
    """(left_id, __hid) pairs where the head point of a (collected) right
    geometry lies inside a LEFT polygon — the B-in-A containment term of
    the compiled polygon x polygon join.  LEFT stays distributed: one
    O(|left|) Arrow pack pass (per-cover-cell edge subsets), then the
    tiny head set broadcasts onto it (no shuffle of the pack) and the
    boundary-inclusive PIP evaluates in whole-stage codegen — the same
    expression test_jvm_pip proves bit-identical to the kernel PIP."""
    pack = _polys_pack_df(left, left_id, lid_t, g, 0.0, rect_fast=True)
    h = spark.createDataFrame(heads_pdf,
                              schema=f"__hid {hid_t}, __x double, __y double")
    h = h.withColumn("cell_key", F.expr(
        f"cast(floor((__x + {FALSE_EASTING}) / {g}) as bigint) * {1 << Y_BITS}"
        f" + cast(floor(__y / {g}) as bigint)"))
    cand = pack.join(F.broadcast(h), "cell_key") \
        .where((F.col("__x") >= F.col("__rminx")) &
               (F.col("__x") <= F.col("__rmaxx")) &
               (F.col("__y") >= F.col("__rminy")) &
               (F.col("__y") <= F.col("__rmaxy")) &
               F.expr(_SUBCELL_FILTER))
    cand = cand.withColumn(
        "__px", F.expr("CASE WHEN __vert THEN __y ELSE __x END")) \
        .withColumn(
        "__py", F.expr("CASE WHEN __vert THEN __x ELSE __y END"))
    return cand.where(
        F.expr(_pip_dispatch_sql("__e", "__px", "__py", "__isrect",
                                 "__base"))) \
        .select(F.col("__rid").alias(left_id), "__hid")


def _polys_vs_polys_jvm(spark, left, rids, ra, rb, r_rect, *, left_id,
                        right_id, rid_t, lid_t, gridsize,
                        left_max_cover: int) -> DataFrame:
    """Compiled polygon-left x polygon/rect-right `intersects` (round 5):
    mirrors the kernel's `_geom_geom_intersects` (geom/predicates.py:443)
    for the polygon x polygon family —

      A intersects B  <=>  any ring segment of A touches any edge of B
                           OR head(A) = chains[0][0] of A inside B
                           OR head(B) = chains[0][0] of B inside A

    — where the first two terms ARE the compiled segment x polygon path
    (`_segments_vs_polygons_jvm`: polygon rings explode to the same closed
    ring segments the kernel crossing-tests, head flag on chains[0][0]),
    and the third is a broadcast of the collected right's head points
    onto a per-cover-cell edge-subset pack of the LEFT
    (`_heads_in_left_polys`).  Every term evaluates in whole-stage
    codegen; Python touches each side once, O(|rows|), never per pair."""
    out_right = right_id if right_id != left_id else right_id + "_2"
    g = float(gridsize)
    segs = _segments_vs_polygons_jvm(
        spark, left, rids, ra, rb, r_rect, left_id=left_id,
        right_id=right_id, rid_t=rid_t, lid_t=lid_t, gridsize=gridsize,
        raw_pairs=True, left_max_cover=left_max_cover)
    starts = ra.coords_start_per_geom()
    counts = ra.coords_count_per_geom()
    ok = counts > 0
    rids = np.asarray(rids)
    heads_pdf = pd.DataFrame({"__hid": rids[ok],
                              "__x": ra.coords[starts[ok], 0],
                              "__y": ra.coords[starts[ok], 1]})
    term3 = _heads_in_left_polys(spark, heads_pdf, left, left_id, lid_t,
                                 rid_t, g) \
        .select(F.col(left_id), F.col("__hid").alias("__rid"))
    return segs.unionByName(term3).distinct() \
        .select(F.col(left_id), F.col("__rid").alias(out_right))


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
# (si, sj) of its cell's K x K subdivision of the cell ∩ expanded-bbox
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


def _rect_subsets(ext, rx0, rx1, ry0, ry1, m, e):
    """Subsets for arbitrary probe rects (cells OR subcells): returns
    (keep CxE, base C, vert C).  e > 0 = dwithin rule (parity ∪ distance,
    no folding, no orientation choice — see _pack_cover_rows)."""
    eminx, emaxx, eminy, emaxy = ext
    if e > 0:
        keep = (((eminy[None, :] <= ry1[:, None] + m) &
                 (emaxy[None, :] >= ry0[:, None] - m) &
                 (emaxx[None, :] >= rx0[:, None] - m)) |
                ((eminx[None, :] - e <= rx1[:, None] + m) &
                 (emaxx[None, :] + e >= rx0[:, None] - m) &
                 (eminy[None, :] - e <= ry1[:, None] + m) &
                 (emaxy[None, :] + e >= ry0[:, None] - m)))
        n = len(rx0)
        return keep, np.zeros(n, dtype=np.int32), np.zeros(n, dtype=bool)
    keep_h, base_h = _axis_subset(eminx, emaxx, eminy, emaxy,
                                  rx0, rx1, ry0, ry1, m)
    keep_v, base_v = _axis_subset(eminy, emaxy, eminx, emaxx,
                                  ry0, ry1, rx0, rx1, m)
    vert = keep_v.sum(axis=1) < keep_h.sum(axis=1)
    keep = np.where(vert[:, None], keep_v, keep_h)
    base = np.where(vert, base_v, base_h).astype(np.int32)
    return keep, base, vert


def _pack_cover_rows(edge_rows, rids, bounds, is_rect, g: float,
                     expand: float) -> pd.DataFrame:
    """One row per (right geometry, covering grid cell) with the EDGE
    SUBSET that suffices to evaluate PIP / distance for any point inside
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
    silently skipped).

    For dwithin (`expand` > 0) the subset additionally keeps every edge
    whose bbox inflated by `expand` touches the cell: an edge within the
    cap of ANY point of the cell is within the cap of the cell, so the
    min-distance over the subset equals the true min for every pair that
    can pass the cap."""
    from .cells import cell_xy
    M = np.int64(1 << Y_BITS)
    e = float(expand)
    m = g * 1e-9
    is_rect = np.asarray(is_rect, dtype=bool)
    bminx, bminy = bounds[:, 0], bounds[:, 1]
    bmaxx, bmaxy = bounds[:, 2], bounds[:, 3]
    cx0s, cy0s = cell_xy(bminx - e, bminy - e, g)
    cx1s, cy1s = cell_xy(bmaxx + e, bmaxy + e, g)
    chunks: list[pd.DataFrame] = []
    # BULK path for rows with no edge payload (rects decided by the bbox
    # filter; empty geometries): one vectorized ragged expansion, no
    # per-cell Python — square-zone layers never enter the loop below
    noedge = np.array([is_rect[i] or not edge_rows[i]
                       for i in range(len(edge_rows))])
    ne = np.nonzero(noedge)[0]
    if len(ne):
        gi, keys = cover_cell_keys(bminx[ne] - e, bminy[ne] - e,
                                   bmaxx[ne] + e, bmaxy[ne] + e, g,
                                   max_cells_per_geom=1 << 40)
        src = ne[gi]
        empty = [[] for _ in range(len(src))]
        zi = np.zeros(len(src), dtype=np.int32)
        chunks.append(pd.DataFrame({
            "__rid": np.asarray(rids)[src], "cell_key": keys,
            "__rminx": bminx[src] - e, "__rminy": bminy[src] - e,
            "__rmaxx": bmaxx[src] + e, "__rmaxy": bmaxy[src] + e,
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
        rb = (float(bminx[i] - e), float(bminy[i] - e),
              float(bmaxx[i] + e), float(bmaxy[i] + e))
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
        # round 1: cell-level subsets (dwithin rule when e > 0: no
        # base-parity folding — a far-right band-spanning edge can also be
        # the nearest edge, so it must be evaluated, never folded; e == 0:
        # per-rect RAY ORIENTATION choice — a +x ray sees every edge in
        # its y-band ahead, bad for long horizontal boundary arcs; the +y
        # variant packs swapped coordinates so one SQL form serves both)
        keep, base, vert = _rect_subsets(ext, clx0, clx0 + g,
                                         cly0, cly0 + g, m, e)

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
            # covers the cell ∩ expanded-bbox region — for a polygon tiny
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
                ks, bs, vs = _rect_subsets(ext, rx0, rx1, ry0, ry1, m, e)
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
    pip_pairs_vectorized sees (cross-ring edges excluded)."""
    out = []
    for i in range(len(ga)):
        es = []
        for ring in ga.rings_of_geom(i):
            a, b = ring[:-1], ring[1:]
            es.extend(zip(a[:, 0].tolist(), a[:, 1].tolist(),
                          b[:, 0].tolist(), b[:, 1].tolist()))
        out.append(es)
    return out


def _polys_pack_df(right: DataFrame, right_id: str, rid_t: str, g: float,
                   expand: float, rect_fast: bool) -> DataFrame:
    """Distributed O(|right|) Arrow pack pass: one row per (right
    geometry, cover cell) carrying that cell's edge SUBSET + base parity
    (`_pack_cover_rows`).  Shared by the distributed point x polygon join
    and the compiled polygon x polygon head-containment term."""
    pack_schema = f"__rid {rid_t}" + _COVER_SCHEMA_TAIL

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .geom.predicates import rect_flags
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf["geometry"].tolist())
            is_rect, _ = rect_flags(ga)
            if not rect_fast:
                is_rect = np.zeros(len(ga), dtype=bool)
            b = pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(
                dtype=np.float64)
            # one output row per (right, cover cell) with that cell's edge
            # SUBSET — high-vertex polygons compile too (VERDICT r4 #1),
            # and the cell join shuffles local edges instead of replicating
            # every polygon's full edge array per cover cell
            yield _pack_cover_rows(_edge_rows_of(ga),
                                   pdf[right_id].to_numpy(), b,
                                   is_rect, g, expand)

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


def _tuned_gridsize(spark, g0: float, st, expand: float) -> float:
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
    wx = float(st["wx1"] - st["wx0"]) + 2 * expand
    wy = float(st["wy1"] - st["wy0"]) + 2 * expand
    target = float(_CELLS_PER_PARTITION * max(nparts, 1))
    if wx <= 0 or wy <= 0 or not np.isfinite(wx * wy):
        return g0
    if (wx / g0) * (wy / g0) >= target:
        return g0  # already enough keys (country-scale layer)
    g_card = float(np.sqrt(wx * wy / target))
    g_pack = max(float(st["aex"] or 0), float(st["aey"] or 0),
                 2 * expand) / _PACK_ROWS_AXIS
    g_cap = max(float(st["mex"] or 0), float(st["mey"] or 0),
                2 * expand) / 32.0
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


def _pip_pairs_estimate(n_left: int | None, st, expand: float) -> float:
    """Candidate pairs of `n_left` points spread evenly over the right
    layer's world bbox: n_left x summed right bbox area / world bbox area,
    every bbox grown by the dwithin distance.  An unknown left count or a
    degenerate world reads as unbounded."""
    world = ((st["wx1"] - st["wx0"] + 2 * expand)
             * (st["wy1"] - st["wy0"] + 2 * expand))
    if n_left is None or not world > 0:
        return float("inf")
    return n_left * st["area"] / world


def _points_vs_polygons_distributed(left: DataFrame, right: DataFrame, *,
                                    left_id: str, right_id: str,
                                    gridsize: float,
                                    predicate: str = "within",
                                    distance: float | None = None,
                                    min_pairs: float = 0
                                    ) -> DataFrame | None:
    """Fully-distributed all-JVM point x polygon join (no driver collect,
    no broadcast): rights are packed ONCE by an Arrow pass into per-row
    edge arrays (O(|right|) Python, not O(|pairs|)), then the cell join,
    bbox filter and ray-cast PIP all run in whole-stage codegen.  This is
    the 100-TB general-geometry path: the per-pair refine — the term that
    grows with candidate count — no longer touches a Python worker.

    Returns None (caller falls back to the Arrow kernel) when the right
    side is not provably all-polygon: the type probe is one header-byte
    aggregate, only run when the right's plan is Python-free so the extra
    pass is scan-cheap.  Also returns None when `_pip_pairs_estimate` is
    below `min_pairs`; the left row count comes from Catalyst statistics
    or, for a Python-free left, a count folded into the probe's job, and
    without either the estimate is unbounded."""
    if not plan_is_python_free(right):
        return None
    g0 = float(gridsize)
    expand = float(distance or 0.0) if predicate == "dwithin" else 0.0
    if "geom_kind" in right.columns:
        type_ok = F.col("geom_kind") == "polygon"
    else:
        from .geometry_types import wkb_gtype_col
        type_ok = wkb_gtype_col("geometry").isin(3, 6)
    n_left = _plan_row_count(left) if min_pairs else None
    count_left = bool(min_pairs) and n_left is None \
        and plan_is_python_free(left)
    # ONE columnar pass over the right: the null-safe type probe (a NULL
    # geom_kind must count as "not ok" — coalesce forces NULL -> kernel
    # fallback) fused with the bbox stats the gridsize tuner and the size
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
        F.sum((F.col("maxx") - F.col("minx") + 2 * expand)
              * (F.col("maxy") - F.col("miny") + 2 * expand)).alias("area"))
    if count_left:
        probe = probe.unionByName(
            left.agg(F.lit(1).alias("side"), F.count(F.lit(1)).alias("n")),
            allowMissingColumns=True)
    rows = sorted(probe.collect(), key=lambda r: r["side"])
    st = rows[0]
    if count_left:
        n_left = rows[1]["n"]
    if not st["n"] or st["bad"]:
        return None  # mixed types (or empty right): kernel path
    if _pip_pairs_estimate(n_left, st, expand) < min_pairs:
        return None  # too few pairs to repay compilation: kernel path
    spark = left.sparkSession
    g = _tuned_gridsize(spark, g0, st, expand)
    # country-sized rights: conservative cross-max bound on the per-zone
    # cover (slightly stricter than the old per-row check — a layer whose
    # widest and tallest zones differ may fall back to the kernel where a
    # per-row check would not; fallback is correct, just uncompiled)
    if (((st["mex"] + 2 * expand) / g + 2)
            * ((st["mey"] + 2 * expand) / g + 2)) > MAX_COVER_CELLS:
        return None
    out_right = right_id if right_id != left_id else right_id + "_2"
    rid_t = right.schema[right_id].dataType.simpleString()

    rect_fast = predicate != "dwithin"  # distance needs edges for ALL rows

    r_pack = _polys_pack_df(right, right_id, rid_t, g, expand, rect_fast)
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
    # rights were excluded by the probe above — they take the kernel path)
    cand = l.join(r_pack, "cell_key") \
        .where((F.col("__x") >= F.col("__rminx")) &
               (F.col("__x") <= F.col("__rmaxx")) &
               (F.col("__y") >= F.col("__rminy")) &
               (F.col("__y") <= F.col("__rmaxy")) &
               F.expr(_SUBCELL_FILTER))
    if predicate == "dwithin":
        out = (cand.withColumn("distance", F.expr(
                   _point_poly_dist_sql("__e", "__x", "__y", "__base")))
               .where(F.col("distance") <= float(distance)))
        return out.select(F.col(left_id),
                          F.col("__rid").alias(out_right), "distance")
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


def _points_vs_polygons_jvm(spark, left, rids, ra, rb, *, left_id,
                            right_id, rid_t, gridsize,
                            predicate: str = "within",
                            distance: float | None = None) -> DataFrame:
    """All-JVM refine for point-left x GENERAL polygon-right (concave,
    holed, multipart): cell join + ray-cast PIP via `_pip_sql` over
    broadcast per-polygon edge arrays — the whole refine stays in
    whole-stage codegen, no Python worker on the pair path.  Valid for
    within / covered_by / intersects, which coincide for point lefts with
    boundary-inclusive PIP (reference sfilter.py:311-328 rewrite)."""
    import pandas as _pd
    g = float(gridsize)
    out_right = right_id if right_id != left_id else right_id + "_2"

    from .geom.predicates import rect_flags
    r_rect, _ = rect_flags(ra)
    expand = float(distance or 0.0) if predicate == "dwithin" else 0.0
    if predicate == "dwithin":  # distance needs edges for ALL rows
        r_rect = np.zeros(len(ra), dtype=bool)
    rids = np.asarray(rids)
    edge_rows = _edge_rows_of(ra)

    ncells = ((np.floor((rb[:, 2] + expand + FALSE_EASTING) / g)
               - np.floor((rb[:, 0] - expand + FALSE_EASTING) / g) + 1)
              * (np.floor((rb[:, 3] + expand) / g)
                 - np.floor((rb[:, 1] - expand) / g) + 1)) \
        if len(rb) else np.zeros(0)
    small = ncells <= MAX_COVER_CELLS
    sm = np.nonzero(small)[0]
    # small rights: ONE broadcast of per-(right, cover-cell) rows carrying
    # that cell's edge SUBSET + base parity — same pack as the distributed
    # path, so high-vertex rights ride the codegen unroll tiers here too
    rcells = spark.createDataFrame(
        _pack_cover_rows([edge_rows[i] for i in sm], rids[sm], rb[sm],
                         r_rect[sm], g, expand),
        schema=f"__rid {rid_t}" + _COVER_SCHEMA_TAIL)
    l = left.select(F.col(left_id), F.col("minx").alias("__x"),
                    F.col("miny").alias("__y"))
    l = l.withColumn("cell_key", F.expr(
        f"cast(floor((__x + {FALSE_EASTING}) / {g}) as bigint) * {1 << Y_BITS}"
        f" + cast(floor(__y / {g}) as bigint)"))
    pair_cols = [F.col(left_id), F.col("__rid"), F.col("__x"), F.col("__y"),
                 F.col("__isrect"), F.col("__base"), F.col("__vert"),
                 F.col("__evx"), F.col("__evy"), F.col("__eskip"),
                 F.col("__esk0")]
    cand = l.join(F.broadcast(rcells), "cell_key") \
        .where((F.col("__x") >= F.col("__rminx")) &
               (F.col("__x") <= F.col("__rmaxx")) &
               (F.col("__y") >= F.col("__rminy")) &
               (F.col("__y") <= F.col("__rmaxy")) &
               F.expr(_SUBCELL_FILTER)) \
        .select(*pair_cols)
    if (~small).any():
        # country-sized rights: plain bbox theta-join with FULL edge
        # arrays (no cell to subset by), base parity 0
        bg = np.nonzero(~small)[0]
        vx, vy, skips, sk0 = _chain_cols_of(ra, r_rect)
        big_df = F.broadcast(spark.createDataFrame(
            [(rids[i].item() if hasattr(rids[i], "item") else rids[i],
              bool(r_rect[i]), 0, False, 0.0, 0.0, float(g), float(g),
              0, 0, 0,
              float(rb[i, 0] - expand), float(rb[i, 1] - expand),
              float(rb[i, 2] + expand), float(rb[i, 3] + expand),
              vx[i], vy[i], skips[i], sk0[i]) for i in bg],
            schema=(f"__rid {rid_t}, __isrect boolean, __base int, "
                    "__vert boolean, __cx0 double, __cy0 double, "
                    "__swx double, __swy double, "
                    "__si int, __sj int, __km1 int, "
                    "__rminx double, __rminy double, "
                    "__rmaxx double, __rmaxy double, "
                    + _CHAIN_COLS_SQL)))
        cand = cand.unionByName(
            l.crossJoin(big_df)
            .where((F.col("__x") >= F.col("__rminx")) &
                   (F.col("__x") <= F.col("__rmaxx")) &
                   (F.col("__y") >= F.col("__rminy")) &
                   (F.col("__y") <= F.col("__rmaxy")))
            .select(*pair_cols))
    if predicate == "dwithin":
        out = (cand.withColumn("distance", F.expr(
                   _point_poly_dist_sql("__e", "__x", "__y", "__base")))
               .where(F.col("distance") <= float(distance)))
        return out.select(left_id, F.col("__rid").alias(out_right),
                          "distance")
    cand = cand.withColumn(
        "__px", F.expr("CASE WHEN __vert THEN __y ELSE __x END")) \
        .withColumn(
        "__py", F.expr("CASE WHEN __vert THEN __x ELSE __y END"))
    out = cand.where(
        F.expr(_pip_dispatch_sql("__e", "__px", "__py", "__isrect",
                                 "__base")))
    return out.select(left_id, F.col("__rid").alias(out_right))


def _points_vs_rects_jvm(spark, left, rids, rb, predicate, *, left_id,
                         right_id, rid_t_source, distance, gridsize,
                         keep_distance) -> DataFrame:
    """All-JVM refine for point-left x rectangle-right: cell join +
    between-filters (dwithin: clamped-axis distance expression).  Points
    live in exactly one cell, so no anchor dedup is needed."""
    import pandas as _pd
    need_dist = keep_distance or predicate == "dwithin"
    expand = float(distance or 0.0) if predicate == "dwithin" else 0.0
    g = float(gridsize)
    gi, keys = cover_cell_keys(rb[:, 0] - expand, rb[:, 1] - expand,
                               rb[:, 2] + expand, rb[:, 3] + expand, g)
    out_right = right_id if right_id != left_id else right_id + "_2"
    rcells = spark.createDataFrame(_pd.DataFrame({
        out_right: rids[gi] if len(gi) else rids[:0],
        "cell_key": keys,
        "__rminx": rb[gi, 0] if len(gi) else np.zeros(0),
        "__rminy": rb[gi, 1] if len(gi) else np.zeros(0),
        "__rmaxx": rb[gi, 2] if len(gi) else np.zeros(0),
        "__rmaxy": rb[gi, 3] if len(gi) else np.zeros(0)}))
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
        cols = [left_id, out_right] + (["__dist"] if need_dist else [])
        out = cand.select(*cols)
        if need_dist:
            out = out.withColumnRenamed("__dist", "distance")
        return out
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
