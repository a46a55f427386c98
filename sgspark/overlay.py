"""clean_overlay — set-theoretic overlay of two polygon layers, 6 hows.

Reference: `/root/reference/src/sgis/geopandas_tools/overlay.py:42-206`
(pipeline semantics in SURVEY.md §2.5/§3.1) plus the overlay-based
operators `get_intersections` (duplicates.py:189-404) and
`update_geometries` (duplicates.py:28-186).

Spark plan:
  pairs   = cell-join candidates + intersects refine      (sgspark.joins)
  inter   = per-pair boolean kernel (mapInPandas)         -> suffixed schema
  diff    = groupBy(left) erase-by-all-partners kernel    (applyInPandas,
            one-hit groups skip aggregation — reference O7)
            + anti-join pass-through of untouched lefts
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
from .joins import cell_candidate_pairs, sjoin_pairs

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


def _erase_rows(left_geoms: DataFrame, pairs: DataFrame,
                right_geoms: DataFrame, id1: str, rid: str,
                id1_t: str, rid_t: str) -> DataFrame:
    """Two-phase erase with PARTNER-SET DEDUP (reference O8,
    overlay.py:628-676):

      phase 1  pairs -> per-left sorted partner-set; each DISTINCT set's
               union computed ONCE (groupBy(pset) applyInPandas; singleton
               sets skip union entirely — reference O7 one-hit fast path);
      phase 2  left rows join their set's precomputed union; a batched
               mapInPandas does ONE difference per left row (per unique
               (geom, union) value pair) — no per-left sequential partner
               loop, so a left with thousands of partners is no longer a
               single straggler task.

    Returns (id1, geometry) for lefts that HAVE partners; empty results
    (fully erased) are dropped."""
    psets = pairs.groupBy(id1).agg(
        F.sort_array(F.collect_set(rid)).alias("__pset"))
    memb = (psets.select("__pset").distinct()
            .withColumn(rid, F.explode("__pset")))
    memb = memb.join(right_geoms, rid)
    union_schema = f"__pset array<{rid_t}>, __ug binary"

    def union_group(key, pdf):
        pset = list(key[0])
        if len(pdf) == 1:  # O7: singleton set -> partner geometry as-is
            return pd.DataFrame({"__pset": [pset],
                                 "__ug": [pdf["__g2"].iloc[0]]})
        ra = from_wkb(pdf["__g2"].tolist())
        rect, rb = _is_rect(ra)
        if bool(rect.all()):
            # ALL-RECT partner set: defer to the rectilinear erase in the
            # diff kernel (exact coordinate-compression difference, no
            # O(k^2) union) — ship the packed rects, marker 'R'
            packed = b"R" + rb.astype("<f8").tobytes()
            return pd.DataFrame({"__pset": [pset], "__ug": [packed]})
        from .geom.clip import union_many
        parts = [p for k in range(len(pdf)) for p in _parts_of(ra, k)]
        u = union_many(parts)
        wkb = _parts_to_wkb(u)
        if wkb is None:
            return pd.DataFrame({"__pset": [], "__ug": []})
        return pd.DataFrame({"__pset": [pset], "__ug": [wkb]})

    unions = memb.groupBy("__pset").applyInPandas(union_group,
                                                  schema=union_schema)
    todo = (left_geoms.join(psets, id1).join(unions, "__pset")
            .select(id1, "__g1", "__ug"))
    schema = f"{id1} {id1_t}, geometry binary"

    def diff_kernel(batches: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lcodes, lu = pd.factorize(pdf["__g1"], use_na_sentinel=False)
            ucodes, uu = pd.factorize(pdf["__ug"], use_na_sentinel=False)
            la = from_wkb(list(lu))
            # 'R'-marked blobs are packed rect sets, not WKB — decode only
            # the true geometries and remap indices
            is_wkb = [not (isinstance(b, (bytes, bytearray))
                           and b[:1] == b"R") for b in uu]
            wkb_pos = np.cumsum(is_wkb) - 1
            ua = from_wkb([b for b, w in zip(uu, is_wkb) if w])
            li = np.asarray(lcodes, dtype=np.int64)
            ui = np.asarray(ucodes, dtype=np.int64)
            pair_code = li * np.int64(len(uu)) + ui
            uniq, inv = np.unique(pair_code, return_inverse=True)
            lrect_u, lb_u = _is_rect(la)
            lbounds = la.bounds()
            wkb_u: list[bytes | None] = []
            for code in uniq.tolist():
                lg, ug = code // len(uu), code % len(uu)
                blob = uu[ug]
                if isinstance(blob, (bytes, bytearray)) and blob[:1] == b"R":
                    # packed all-rect partner set -> exact rectilinear erase
                    from .geom.rectops import rect_minus_rects, \
                        rects_union_parts
                    rects = np.frombuffer(blob, dtype="<f8",
                                          offset=1).reshape(-1, 4)
                    if lrect_u[lg]:
                        res = rect_minus_rects(tuple(lb_u[lg]), rects)
                        wkb_u.append(_parts_to_wkb(res) if res else None)
                    else:
                        u_parts = rects_union_parts(tuple(lbounds[lg]), rects)
                        res = polygon_boolean(_parts_of(la, lg), u_parts,
                                              "difference")
                        wkb_u.append(_parts_to_wkb(res))
                    continue
                res = polygon_boolean(_parts_of(la, lg),
                                      _parts_of(ua, int(wkb_pos[ug])),
                                      "difference")
                wkb_u.append(_parts_to_wkb(res))
            wkbs = [wkb_u[v] for v in inv]
            keep = [k for k, w in enumerate(wkbs) if w is not None]
            if keep:
                yield pd.DataFrame({
                    id1: pdf[id1].to_numpy()[keep],
                    "geometry": [wkbs[k] for k in keep]})

    return todo.mapInPandas(diff_kernel, schema=schema)


def _difference_rows(df1, df2, id1, id2, gridsize) -> DataFrame:
    """(id1, geometry) = each df1 geometry minus the union of its partners,
    plus untouched df1 rows.  Partner unions are deduped across identical
    partner sets (O8) and the per-left erase is batched (see _erase_rows)."""
    pairs = sjoin_pairs(df1, df2, "intersects", left_id=id1, right_id=id2,
                        gridsize=gridsize, assume_left_points=False)
    rid = pairs.columns[1]
    id1_t = [f.dataType.simpleString() for f in df1.schema.fields
             if f.name == id1][0]
    rid_t = [f.dataType.simpleString() for f in df2.schema.fields
             if f.name == id2][0]
    left_geoms = df1.select(F.col(id1), F.col("geometry").alias("__g1"))
    right_geoms = df2.select(F.col(id2).alias(rid),
                             F.col("geometry").alias("__g2"))
    erased = _erase_rows(left_geoms, pairs, right_geoms, id1, rid,
                         id1_t, rid_t)
    untouched = df1.join(pairs.select(id1).distinct(), id1, "left_anti") \
                   .select(id1, "geometry")
    return erased.unionByName(untouched)


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
        geo = _difference_rows(df1, df2, id1, id2, gridsize)
        return df1.drop("geometry", *_BBOX).join(geo, id1, "inner")

    d1s = _suffix_attrs(df1.drop("geometry", *_BBOX), id1, collided, lsuffix)
    d2s = _suffix_attrs(df2.drop("geometry", *_BBOX), id2, collided, rsuffix)

    def with_attrs_inter(rows):
        rid = rows.columns[1]
        out = rows.join(d1s, id1, "inner")
        d2j = d2s.withColumnRenamed(id2, rid) if rid != id2 else d2s
        return out.join(d2j, rid, "inner")

    def with_attrs_left(rows):
        return rows.join(d1s, id1, "inner")

    def with_attrs_right(rows):
        return rows.join(d2s, id2, "inner")

    if how == "intersection":
        return with_attrs_inter(_intersection_rows(df1, df2, id1, id2, gridsize))
    if how == "identity":
        inter = with_attrs_inter(_intersection_rows(df1, df2, id1, id2, gridsize))
        diff = with_attrs_left(_difference_rows(df1, df2, id1, id2, gridsize))
        return inter.unionByName(diff, allowMissingColumns=True)
    if how == "symmetric_difference":
        dl = with_attrs_left(_difference_rows(df1, df2, id1, id2, gridsize))
        dr = with_attrs_right(_difference_rows(df2, df1, id2, id1, gridsize))
        return dl.unionByName(dr, allowMissingColumns=True)
    if how == "union":
        inter = with_attrs_inter(_intersection_rows(df1, df2, id1, id2, gridsize))
        dl = with_attrs_left(_difference_rows(df1, df2, id1, id2, gridsize))
        dr = with_attrs_right(_difference_rows(df2, df1, id2, id1, gridsize))
        return inter.unionByName(dl, allowMissingColumns=True) \
                    .unionByName(dr, allowMissingColumns=True)
    # update (overlay.py:371-391): df1 erased by df2, then all of df2
    diff = df1.drop("geometry", *_BBOX).join(
        _difference_rows(df1, df2, id1, id2, gridsize), id1, "inner")
    return diff.unionByName(df2.drop(*_BBOX), allowMissingColumns=True)


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
    pairs = sjoin_pairs(df, df, "intersects", left_id=id_col, right_id=id_col,
                        gridsize=gridsize, assume_left_points=False)
    rid = pairs.columns[1]
    ranks = df.select(F.col(id_col), F.col(rank_col))
    pr = pairs.join(ranks.withColumnRenamed(rank_col, "__lrank"), id_col) \
              .join(ranks.withColumnRenamed(id_col, rid)
                    .withColumnRenamed(rank_col, "__rrank"), rid) \
              .where(F.col("__lrank") > F.col("__rrank"))
    # erase-by-union is order-free (A − B1 − B2 = A − (B1 ∪ B2)), so the
    # rank-filtered pairs feed the same O8 two-phase erase as difference
    id_t = [f.dataType.simpleString() for f in df.schema.fields
            if f.name == id_col][0]
    left_geoms = df.select(F.col(id_col), F.col("geometry").alias("__g1"))
    right_geoms = df.select(F.col(id_col).alias(rid),
                            F.col("geometry").alias("__g2"))
    rank_pairs = pr.select(id_col, rid)
    erased = _erase_rows(left_geoms, rank_pairs, right_geoms, id_col, rid,
                         id_t, id_t)
    untouched = df.join(rank_pairs.select(id_col).distinct(), id_col,
                        "left_anti").select(id_col, "geometry")
    geo = erased.unionByName(untouched)
    return df.drop("geometry", *_BBOX).join(geo, id_col, "inner")
