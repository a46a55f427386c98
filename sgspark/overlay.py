"""clean_overlay — set-theoretic overlay of two polygon layers, 6 hows.

Reference: `/root/reference/src/sgis/geopandas_tools/overlay.py:42-206`
(pipeline semantics in SURVEY.md §2.5/§3.1) plus the overlay-based
operators `get_intersections` (duplicates.py:189-404) and
`update_geometries` (duplicates.py:28-186).

Spark plan:
  pairs   = cell-join candidates with both WKBs           (sgspark.joins)
  inter   = per-pair tiered boolean kernel (mapInPandas)  -> suffixed schema
  diff    = intersects refine (mapInPandas) -> ONE grouped Arrow erase per
            left id (one-hit groups skip the union — reference O7)
            + left outer join: lefts without partners stay in the JVM
  others  = compositions:  identity = inter ∪ diff(df1)
                           union    = inter ∪ diff(df1) ∪ diff(df2)
                           symmetric_difference = diff(df1) ∪ diff(df2)
                           update   = diff(df1) ∪ df2
Column contract (asserted by reference tests/test_overlay.py:30-57):
`difference` keeps df1's schema unsuffixed; every other how suffixes
collided attribute names with lsuffix/rsuffix ("_1"/"_2").

Scope: polygon×polygon (the reference's dominant path; other families are
filtered out up front exactly like keep_geom_type/geom_type resolution,
`general.py:1150-1166`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .geom.clip import (clip_rings_by_rects_batch, padded_ring_areas,
                        padded_rect_clip_split_flags,
                        padded_rings_have_repeats, polygon_boolean, ring_area)
from .geom.array import MULTIPOLYGON, POLYGON, GeomArray, from_rings
from .geom.wkb import from_wkb, single_ring_polygons_wkb, to_wkb
from .joins import cell_candidate_pairs

HOWS = ("intersection", "union", "identity", "symmetric_difference",
        "difference", "update")
_BBOX = ["minx", "miny", "maxx", "maxy"]


def _attr_cols(df: DataFrame, id_col: str) -> list[str]:
    return [c for c in df.columns
            if c not in _BBOX + ["geometry"] and c != id_col]


def _parts_of(ga: GeomArray, g: int) -> list[list[np.ndarray]]:
    parts = []
    p0, p1 = ga.geom_offsets[g], ga.geom_offsets[g + 1]
    for p in range(p0, p1):
        r0, r1 = ga.part_offsets[p], ga.part_offsets[p + 1]
        parts.append([ga.coords[ga.ring_offsets[r]:ga.ring_offsets[r + 1]]
                      for r in range(r0, r1)])
    return parts


def _parts_to_wkb(parts: list[list[np.ndarray]]) -> bytes | None:
    parts = [p for p in parts if p and abs(ring_area(p[0])) > 0]
    if not parts:
        return None
    if len(parts) == 1:
        return to_wkb(from_rings([[parts[0]]], [POLYGON]))[0]
    return to_wkb(from_rings([parts], [MULTIPOLYGON]))[0]


def _intersect_batch(pdf: pd.DataFrame, id1: str, rid: str,
                     g1col: str = "__g1", g2col: str = "__g2"
                     ) -> pd.DataFrame | None:
    """Tiered pairwise intersection of one Arrow batch:

      tier 1  rect × rect          -> vectorized interval arithmetic
      tier 2  simple poly × rect   -> BATCHED Sutherland–Hodgman (no
              per-pair Python; padded-ring passes over the whole tier)
      tier 3  general              -> polygon_boolean per UNIQUE geometry
              pair (duplicate value-pairs computed once)

    Each unique WKB decodes exactly once per side (factorize)."""
    from .geom.wkb import rect_polygon_wkb
    lcodes, lu = pd.factorize(pdf[g1col], use_na_sentinel=False)
    rcodes, ru = pd.factorize(pdf[g2col], use_na_sentinel=False)
    la = from_wkb(list(lu))
    ra = from_wkb(list(ru))
    li = np.asarray(lcodes, dtype=np.int64)
    ri = np.asarray(rcodes, dtype=np.int64)

    lrect_u, lb_u = _is_rect(la)
    rrect_u, rb_u = _is_rect(ra)
    lsimple_u = la.simple_polygon_flags()
    rsimple_u = ra.simple_polygon_flags()
    from .geom.predicates import convex_flags
    lconv_u = convex_flags(la)
    rconv_u = convex_flags(ra)
    lrect, rrect = lrect_u[li], rrect_u[ri]

    tier1 = lrect & rrect
    tier2_l = ~lrect & lsimple_u[li] & rrect    # clip left poly by right rect
    tier2_r = ~rrect & rsimple_u[ri] & lrect    # clip right poly by left rect
    # tier 2b: convex x convex (non-rect) — batched general half-plane clip;
    # convex ∩ convex is connected, so no split detection is needed
    tier2b = (~(tier1 | tier2_l | tier2_r)
              & lconv_u[li] & rconv_u[ri])
    tier3 = ~(tier1 | tier2_l | tier2_r | tier2b)

    frames = []
    if tier1.any():
        i = np.nonzero(tier1)[0]
        bx0 = np.maximum(lb_u[li[i], 0], rb_u[ri[i], 0])
        by0 = np.maximum(lb_u[li[i], 1], rb_u[ri[i], 1])
        bx1 = np.minimum(lb_u[li[i], 2], rb_u[ri[i], 2])
        by1 = np.minimum(lb_u[li[i], 3], rb_u[ri[i], 3])
        ok = (bx1 > bx0) & (by1 > by0)
        j = i[ok]
        if len(j):
            frames.append(pd.DataFrame({
                id1: pdf[id1].to_numpy()[j],
                rid: pdf[rid].to_numpy()[j],
                "geometry": rect_polygon_wkb(bx0[ok], by0[ok],
                                             bx1[ok], by1[ok])}))
    for mask, subj_arr, subj_idx, rect_b, rect_idx in (
            (tier2_l, la, li, rb_u, ri), (tier2_r, ra, ri, lb_u, li)):
        if not mask.any():
            continue
        i = np.nonzero(mask)[0]
        P, C = subj_arr.padded_first_rings(subj_idx[i])
        # normalize to CCW (SH assumes consistent orientation for area sign)
        a_sign = padded_ring_areas(P, C)
        flip = a_sign < 0
        if flip.any():
            for k in np.nonzero(flip)[0]:  # rare; WKB exteriors are CCW
                P[k, :C[k]] = P[k, :C[k]][::-1]
        rects_i = rect_b[rect_idx[i]]
        Po, Co = clip_rings_by_rects_batch(P, C, rects_i)
        areas = padded_ring_areas(Po, Co)
        keep = (Co >= 3) & (np.abs(areas) > 0)
        # a clipped ring that revisits a vertex OR has overlapping collinear
        # boundary edges is a concave subject the rect cut into disconnected
        # pieces — SH's single ring would be invalid (zero-width bridges);
        # those rare rows re-clip through the splitting half-plane kernel
        # (round-2 advice)
        pinched = keep & (padded_rings_have_repeats(Po, Co)
                          | padded_rect_clip_split_flags(Po, Co, rects_i))
        simple = keep & ~pinched
        j = i[simple]
        if len(j):
            frames.append(pd.DataFrame({
                id1: pdf[id1].to_numpy()[j],
                rid: pdf[rid].to_numpy()[j],
                "geometry": single_ring_polygons_wkb(Po[simple], Co[simple])}))
        if pinched.any():
            from .geom.clip import (DegenerateIntersection,
                                    clip_ring_convex_multi, ensure_ccw,
                                    ring_boolean)
            rows_k = np.nonzero(pinched)[0]
            wkbs = []
            for k in rows_k:
                subj = np.vstack([P[k, :C[k]], P[k, :1]])
                x0, y0, x1, y1 = rects_i[k]
                rring = np.array([[x0, y0], [x1, y0], [x1, y1],
                                  [x0, y1], [x0, y0]])
                try:
                    pieces = clip_ring_convex_multi(subj, rring)
                except DegenerateIntersection:
                    pieces = [ensure_ccw(r) for r in
                              ring_boolean(subj, rring, "intersection")
                              if ring_area(r) != 0]
                wkbs.append(_parts_to_wkb([[p] for p in pieces]))
            ok = [m for m, w in enumerate(wkbs) if w is not None]
            if ok:
                jd = i[rows_k[ok]]
                frames.append(pd.DataFrame({
                    id1: pdf[id1].to_numpy()[jd],
                    rid: pdf[rid].to_numpy()[jd],
                    "geometry": [wkbs[m] for m in ok]}))
    if tier2b.any():
        from .geom.clip import clip_rings_by_convex_batch
        i = np.nonzero(tier2b)[0]
        P, C = la.padded_first_rings(li[i])
        for arr, cnt in ((P, C),):
            sgn = padded_ring_areas(arr, cnt)
            for k in np.nonzero(sgn < 0)[0]:  # rare; WKB exteriors are CCW
                arr[k, :cnt[k]] = arr[k, :cnt[k]][::-1]
        CP, CC = ra.padded_first_rings(ri[i])
        sgn = padded_ring_areas(CP, CC)
        for k in np.nonzero(sgn < 0)[0]:
            CP[k, :CC[k]] = CP[k, :CC[k]][::-1]
        Po, Co = clip_rings_by_convex_batch(P, C, CP, CC)
        areas = padded_ring_areas(Po, Co)
        keep = (Co >= 3) & (np.abs(areas) > 0)
        j = i[keep]
        if len(j):
            frames.append(pd.DataFrame({
                id1: pdf[id1].to_numpy()[j],
                rid: pdf[rid].to_numpy()[j],
                "geometry": single_ring_polygons_wkb(Po[keep], Co[keep])}))
    if tier3.any():
        idx3 = np.nonzero(tier3)[0]
        pair_code = li[idx3] * np.int64(len(ru)) + ri[idx3]
        uniq, inv = np.unique(pair_code, return_inverse=True)
        wkb_u: list[bytes | None] = []
        for code in uniq.tolist():
            lg, rg = code // len(ru), code % len(ru)
            res = polygon_boolean(_parts_of(la, lg), _parts_of(ra, rg),
                                  "intersection")
            wkb_u.append(_parts_to_wkb(res))
        wkbs = [wkb_u[v] for v in inv]
        keep = [k for k, w in enumerate(wkbs) if w is not None]
        if keep:
            j = idx3[keep]
            frames.append(pd.DataFrame({
                id1: pdf[id1].to_numpy()[j],
                rid: pdf[rid].to_numpy()[j],
                "geometry": [wkbs[k] for k in keep]}))
    if not frames:
        return None
    return pd.concat(frames, ignore_index=True)


def _intersection_rows(df1, df2, id1, id2, gridsize) -> DataFrame:
    """(id1, id2, geometry) of pairwise intersections (non-empty only).

    FUSED plan: cover-cells equi-join (pure JVM, bbox join-filter) -> ONE
    mapInPandas kernel that anchor-dedups and intersects tiered — no
    separate refine pass, no geometry re-join by id (pairs that don't truly
    intersect simply produce an empty intersection and drop out, which IS
    the refine)."""
    rid = id2 if id2 != id1 else id2 + "_2"
    id1_t = [f.dataType.simpleString() for f in df1.schema.fields
             if f.name == id1][0]
    id2_t = [f.dataType.simpleString() for f in df2.schema.fields
             if f.name == id2][0]
    schema = f"{id1} {id1_t}, {rid} {id2_t}, geometry binary"

    # shared candidate generator — includes the huge-bbox broadcast branch,
    # so a country-sized polygon never explodes the sequence() cell cover
    # here either (round-2 advice; same MAX_COVER_CELLS routing as
    # sjoin_pairs)
    l0 = df1.select(F.col(id1).alias("__lid"),
                    F.col("geometry").alias("__lg"), *_BBOX)
    r0 = df2.select(F.col(id2).alias("__rid"),
                    F.col("geometry").alias("__rg"), *_BBOX)
    cand = cell_candidate_pairs(l0, r0, gridsize)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # anchor dedup already happened JVM-side (cell_candidate_pairs);
        # batches carry only (id, geom) per side
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.rename(columns={"__lid": id1, "__rid": rid})
            out = _intersect_batch(pdf, id1, rid,
                                   g1col="__lg", g2col="__rg")
            if out is not None:
                yield out

    return cand.mapInPandas(kernel, schema=schema)


def _is_rect(ga: GeomArray) -> tuple[np.ndarray, np.ndarray]:
    from .geom.predicates import rect_flags
    return rect_flags(ga)


def _erase_one(left_wkb: bytes, partner_wkbs: list) -> bytes | None:
    """One left minus the union of its partners (given in id order), with
    the arithmetic of the reference's erase (overlay.py:628-676):

      one partner     -> one polygon_boolean difference (reference O7);
      all rectangles  -> exact rectilinear erase (rect_minus_rects, or the
                         clipped rect union then one difference);
      otherwise       -> union_many, through WKB, then one difference.

    Partners that union to nothing leave the left as it is (A − ∅ = A).
    None when nothing remains."""
    la = from_wkb([left_wkb])
    ra = from_wkb(partner_wkbs)
    if len(partner_wkbs) == 1:
        return _parts_to_wkb(polygon_boolean(_parts_of(la, 0),
                                             _parts_of(ra, 0), "difference"))
    rect, rb = _is_rect(ra)
    if bool(rect.all()):
        from .geom.rectops import rect_minus_rects, rects_union_parts
        lrect, lb = _is_rect(la)
        if lrect[0]:
            res = rect_minus_rects(tuple(lb[0]), rb)
            return _parts_to_wkb(res) if res else None
        u = rects_union_parts(tuple(la.bounds()[0]), rb)
        return _parts_to_wkb(polygon_boolean(_parts_of(la, 0), u,
                                             "difference"))
    from .geom.clip import union_many
    u = _parts_to_wkb(union_many(
        [p for k in range(len(partner_wkbs)) for p in _parts_of(ra, k)]))
    if u is None:
        return left_wkb
    return _parts_to_wkb(polygon_boolean(_parts_of(la, 0),
                                         _parts_of(from_wkb([u]), 0),
                                         "difference"))


def _erase_rows(df1: DataFrame, df2: DataFrame, id1: str, id2: str,
                gridsize: float, rank_col: str | None = None) -> DataFrame:
    """df1's rows (bbox columns dropped), each geometry minus the union of
    the df2 geometries it intersects; fully erased rows are dropped.  With
    `rank_col` only partners of lower rank erase, a JVM predicate, so
    Spark's struct ordering decides.

    Plan: the cell join of `_intersection_rows` (bbox candidates with
    both WKBs) -> the configured `refine_runner` (default `refine_pairs`)
    in Arrow batches keeps the pairs that intersect -> ONE grouped Arrow
    call per left id runs `_erase_one` on the left and its partners,
    sorted by id -> one left outer join of df1 with the erased rows.  A
    left with no partner never reaches the grouped call and keeps its
    geometry through the join."""
    import pyarrow as pa
    from .conf import get_runner
    from .geom.predicates import refine_pairs

    lrank = [F.col(rank_col).alias("__lrank")] if rank_col else []
    rrank = [F.col(rank_col).alias("__rrank")] if rank_col else []
    cand = cell_candidate_pairs(
        df1.select(F.col(id1).alias("__lid"), F.col("geometry").alias("__lg"),
                   *lrank, *_BBOX),
        df2.select(F.col(id2).alias("__rid"), F.col("geometry").alias("__rg"),
                   *rrank, *_BBOX), gridsize)
    if rank_col:
        cand = cand.where(F.col("__lrank") > F.col("__rrank"))
    cand = cand.select("__lid", "__lg", "__rid", "__rg")
    refine = get_runner("refine_runner", refine_pairs)  # driver-resolved

    def intersecting(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lc, lu = pd.factorize(pdf["__lg"], use_na_sentinel=False)
            rc, ru = pd.factorize(pdf["__rg"], use_na_sentinel=False)
            yield pdf[refine(from_wkb(list(lu)), from_wkb(list(ru)),
                             lc, rc, "intersects")]

    def erase(t: pa.Table) -> pa.Table:
        t = t.sort_by("__rid")
        return pa.table({"__eid": t.column("__lid").slice(0, 1),
                         "__eg": pa.array([_erase_one(
                             t.column("__lg")[0].as_py(),
                             t.column("__rg").to_pylist())], pa.binary())})

    id1_t = df1.schema[id1].dataType.simpleString()
    erased = cand.mapInPandas(intersecting, cand.schema) \
        .groupBy("__lid").applyInArrow(erase, f"__eid {id1_t}, __eg binary")
    cols = [c for c in df1.columns if c not in (id1, "geometry", *_BBOX)]
    return df1.join(erased, df1[id1] == erased["__eid"], "left") \
        .where(F.col("__eid").isNull() | F.col("__eg").isNotNull()) \
        .select(id1, *cols, F.coalesce("__eg", "geometry").alias("geometry"))


def _suffix_attrs(df: DataFrame, id_col: str, collided: set[str],
                  suffix: str) -> DataFrame:
    for c in _attr_cols(df, id_col):
        if c in collided:
            df = df.withColumnRenamed(c, c + suffix)
    return df


def clean_overlay(df1: DataFrame, df2: DataFrame, how: str = "intersection", *,
                  id1: str, id2: str, lsuffix: str = "_1", rsuffix: str = "_2",
                  gridsize: float = 2000.0) -> DataFrame:
    """Overlay df1 x df2 (polygon layers with unique ids + bbox columns).

    Returns attribute columns of the participating sides (collided names
    suffixed; `difference` => df1 schema only, unsuffixed) + geometry WKB.
    Empty results are dropped (clean_geoms semantics, general.py:161-250).
    """
    if how not in HOWS:
        raise ValueError(f"how must be one of {HOWS}")  # overlay.py:96-103
    from .crs import require_same_crs
    require_same_crs(df1, df2)  # overlay.py:109-110

    a1 = _attr_cols(df1, id1)
    a2 = _attr_cols(df2, id2)
    collided = set(a1) & set(a2)

    if how == "difference":
        return _erase_rows(df1, df2, id1, id2, gridsize)

    d1s = _suffix_attrs(df1.drop("geometry", *_BBOX), id1, collided, lsuffix)
    d2s = _suffix_attrs(df2.drop("geometry", *_BBOX), id2, collided, rsuffix)

    def inter():
        rows = _intersection_rows(df1, df2, id1, id2, gridsize)
        rid = rows.columns[1]
        out = rows.join(d1s, id1, "inner")
        d2j = d2s.withColumnRenamed(id2, rid) if rid != id2 else d2s
        return out.join(d2j, rid, "inner")

    def diff(a, b, ida, idb, suffix):
        # (id, geometry, suffixed attributes): the order symmetric
        # difference's output takes from its first side
        d = _suffix_attrs(_erase_rows(a, b, ida, idb, gridsize), ida,
                          collided, suffix)
        return d.select(ida, "geometry",
                        *[c for c in d.columns if c not in (ida, "geometry")])

    if how == "intersection":
        return inter()
    if how == "identity":
        return inter().unionByName(diff(df1, df2, id1, id2, lsuffix),
                                   allowMissingColumns=True)
    if how == "symmetric_difference":
        return diff(df1, df2, id1, id2, lsuffix).unionByName(
            diff(df2, df1, id2, id1, rsuffix), allowMissingColumns=True)
    if how == "union":
        return inter().unionByName(diff(df1, df2, id1, id2, lsuffix),
                                   allowMissingColumns=True) \
                      .unionByName(diff(df2, df1, id2, id1, rsuffix),
                                   allowMissingColumns=True)
    # update (overlay.py:371-391): df1 erased by df2, then all of df2
    return _erase_rows(df1, df2, id1, id2, gridsize).unionByName(
        df2.drop(*_BBOX), allowMissingColumns=True)


def get_intersections(df: DataFrame, *, id_col: str,
                      gridsize: float = 2000.0) -> DataFrame:
    """Self-intersection surfaces (duplicates.py:189-404): pairwise
    intersections of distinct rows (each unordered pair once)."""
    rows = _intersection_rows(df, df, id_col, id_col, gridsize)
    rid = rows.columns[1]
    return rows.where(F.col(id_col) < F.col(rid))


def update_geometries(df: DataFrame, *, id_col: str, rank_col: str,
                      gridsize: float = 2000.0) -> DataFrame:
    """Priority coverage (duplicates.py:28-186): each geometry erased by the
    union of all higher-priority (lower rank) intersecting geometries.
    Rank must be an explicit column — Spark has no row order (SURVEY §7.4.2);
    sort_large_first = rank by area desc before calling."""
    # erase-by-union is order-free (A − B1 − B2 = A − (B1 ∪ B2)), so the
    # rank-filtered partners feed the same grouped erase as difference
    return _erase_rows(df, df, id_col, id_col, gridsize, rank_col=rank_col)
