"""Polygon operations: holes, gaps, elimination, clipping, boundaries.

Reference: `/root/reference/src/sgis/geopandas_tools/polygon_operations.py`
(close_all_holes/close_small_holes 1058-1322, get_gaps 1325-1363,
get_holes 1366-1399, eliminate_by_largest/_smallest 497-760) and
`general.py` (clean_clip 932-984, to_lines 543-676).

All per-row geometry work is Arrow-batched numpy kernels; cross-row work
composes the engine's join/dissolve/overlay primitives.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .geom.array import (LINESTRING, MULTILINESTRING, MULTIPOINT,
                         MULTIPOLYGON, POINT, POLYGON, from_rings)
from .geom.clip import ring_area
from .geom.measure import dp_simplify as _dp_simplify
from .geom.wkb import from_wkb, to_wkb
from .io import BOUNDS, BOUNDS_DDL, bounds_cols, map_geoms, with_bounds
from .joins import sjoin_pairs
from .overlay import clean_overlay


def _kept(blobs: list, geometry: str):
    """map_geoms result of per-row WKB where None drops the row."""
    keep = np.array([b is not None for b in blobs], dtype=bool)
    return keep, {geometry: [b for b in blobs if b is not None]}


def get_holes(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Interior rings as polygon rows (polygon_operations.py:1366-1399)."""
    def holes(ga, pdf):
        rows, blobs = [], []
        for g in range(len(ga)):
            p0, p1 = ga.geom_offsets[g], ga.geom_offsets[g + 1]
            for p in range(p0, p1):
                r0, r1 = ga.part_offsets[p], ga.part_offsets[p + 1]
                for r in range(r0 + 1, r1):
                    hole = ga.coords[ga.ring_offsets[r]:ga.ring_offsets[r + 1]]
                    sub = from_rings([[[hole[::-1]]]], [POLYGON])
                    rows.append(g)
                    blobs.append(to_wkb(sub)[0])
        return rows, {geometry: blobs}

    return map_geoms(df, holes, geometry=geometry)


def _start_at_min(ring: np.ndarray) -> np.ndarray:
    """The closed ring rotated to start at its lexicographically smallest
    vertex (first of equals), orientation kept."""
    r = ring[:-1]
    i = int(np.lexsort((r[:, 1], r[:, 0]))[0]) if len(r) else 0
    return ring if i == 0 else np.vstack([r[i:], r[:i + 1]])


def _map_rings(df: DataFrame, ring_fn, geometry: str) -> DataFrame:
    """Rebuild every polygon ring by ring: ring_fn(coords, is_hole)
    returns the new ring, or None to drop it.  Rings go in and come out
    starting at their smallest vertex, and holes are sorted by it, so the
    output bytes do not depend on where upstream operators (unions,
    partition order) started a ring or put a hole."""
    def rebuild(ga, pdf):
        blobs = []
        for g in range(len(ga)):
            parts = []
            for p in range(ga.geom_offsets[g], ga.geom_offsets[g + 1]):
                r0, r1 = ga.part_offsets[p], ga.part_offsets[p + 1]
                rings = (ring_fn(_start_at_min(
                    ga.coords[ga.ring_offsets[r]:ga.ring_offsets[r + 1]]),
                    r > r0) for r in range(r0, r1))
                kept = [_start_at_min(c) for c in rings if c is not None]
                # by smallest vertex; holes touching there, by the next
                parts.append(kept[:1] + sorted(
                    kept[1:], key=lambda c: c[:2].ravel().tolist()))
            kind = POLYGON if len(parts) == 1 else MULTIPOLYGON
            sub = from_rings([[parts[0]]] if kind == POLYGON else [parts],
                             [kind])
            blobs.append(to_wkb(sub)[0])
        return None, {geometry: blobs}

    return map_geoms(df, rebuild, geometry=geometry)


def close_small_holes(df: DataFrame, max_area: float,
                      geometry: str = "geometry") -> DataFrame:
    """Fill interior rings with |area| <= max_area
    (close_small_holes, polygon_operations.py:1134-1322)."""
    return _map_rings(
        df, lambda c, hole: c if not hole or abs(ring_area(c)) > max_area
        else None, geometry)


def close_all_holes(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Drop ALL interior rings (close_all_holes,
    polygon_operations.py:1058-1131)."""
    return close_small_holes(df, float("inf"), geometry)


def close_thin_holes(df: DataFrame, tolerance: float,
                     geometry: str = "geometry") -> DataFrame:
    """Fill interior rings THINNER than `tolerance`
    (close_thin_holes, polygon_operations.py:1134-1322: a hole is thin iff
    hole.buffer(-tolerance/2) is empty, i.e. max inscribed radius <
    tolerance/2 — tested here with the deterministic grid-sample kernel,
    pitch tolerance/8, see geom/measure.py for the approximation bound)."""
    from .geom.measure import ring_thin
    pitch = float(tolerance) / 8.0
    thr = float(tolerance) / 2.0
    return _map_rings(
        df, lambda c, hole: c if not hole or not ring_thin(c, pitch, thr)
        else None, geometry)


def remove_spikes(df: DataFrame, tolerance: float,
                  geometry: str = "geometry") -> DataFrame:
    """Remove needle spikes from polygon rings: a vertex v between a and b
    with |a-b| < tolerance but |a-v| or |b-v| >= tolerance is a spike tip
    and is dropped (with the following near-duplicate vertex).  Iterates
    per ring until stable (reference cleaning.py remove_spikes semantics
    re-expressed vertex-wise)."""
    tol = float(tolerance)

    def clean_ring(ring: np.ndarray, _hole: bool) -> np.ndarray:
        r = ring[:-1]
        changed = True
        while changed and len(r) > 3:
            changed = False
            n = len(r)
            keep = np.ones(n, dtype=bool)
            for i in range(n):
                a, v, b = r[(i - 1) % n], r[i], r[(i + 1) % n]
                ab = float(np.hypot(*(a - b)))
                if ab < tol and (np.hypot(*(a - v)) >= tol
                                 or np.hypot(*(b - v)) >= tol):
                    keep[i] = False
                    changed = True
                    break
            r = r[keep]
        return np.vstack([r, r[:1]])

    return _map_rings(df, clean_ring, geometry)


def simplify(df: DataFrame, tolerance: float,
             geometry: str = "geometry") -> DataFrame:
    """Douglas–Peucker simplification per ring (reference relies on
    shapely `simplify`, duplicates.py:363).  Rings keep their closing
    vertex; rings that collapse below a triangle are dropped."""
    tol = float(tolerance)

    def fn(ga, pdf):
        blobs = []
        for g in range(len(ga)):
            kind = int(ga.kinds[g])
            if kind == POINT:
                blobs.append(to_wkb(ga.take([g]))[0])
                continue
            parts = []
            p0, p1 = ga.geom_offsets[g], ga.geom_offsets[g + 1]
            for p in range(p0, p1):
                r0, r1 = ga.part_offsets[p], ga.part_offsets[p + 1]
                rings = []
                for r in range(r0, r1):
                    c = ga.coords[ga.ring_offsets[r]:ga.ring_offsets[r + 1]]
                    closed = len(c) > 2 and np.array_equal(c[0], c[-1])
                    s = _dp_simplify(c, tol)
                    if closed and len(s) < 4:
                        continue  # ring collapsed
                    rings.append(s)
                if rings:
                    parts.append(rings if kind in (POLYGON, MULTIPOLYGON)
                                 else rings[0])
            if not parts:
                blobs.append(None)
                continue
            if kind in (POLYGON, MULTIPOLYGON):
                k = POLYGON if len(parts) == 1 else MULTIPOLYGON
                sub = from_rings([[parts[0]]] if k == POLYGON else [parts],
                                 [k])
            else:
                k = LINESTRING if len(parts) == 1 else MULTILINESTRING
                sub = from_rings([parts], [k])
            blobs.append(to_wkb(sub)[0])
        return _kept(blobs, geometry)

    return map_geoms(df, fn, geometry=geometry)


def extract_unique_points(df: DataFrame,
                          geometry: str = "geometry") -> DataFrame:
    """MULTIPOINT of each geometry's distinct vertices (reference
    `extract_unique_points`, bounds.py:677)."""
    def fn(ga, pdf):
        blobs = []
        for g in range(len(ga)):
            p0, p1 = ga.geom_offsets[g], ga.geom_offsets[g + 1]
            if p1 == p0:
                blobs.append(None)
                continue
            r0 = ga.part_offsets[p0]
            r1 = ga.part_offsets[p1]
            c = ga.coords[ga.ring_offsets[r0]:ga.ring_offsets[r1]]
            uniq = np.unique(c, axis=0)
            sub = from_rings([[uniq[i:i + 1] for i in range(len(uniq))]],
                             [MULTIPOINT])
            blobs.append(to_wkb(sub)[0])
        return _kept(blobs, geometry)

    return map_geoms(df, fn, geometry=geometry)


def _chain_crossing_params(a: np.ndarray, b: np.ndarray) -> list[float]:
    """Arc-length parameters on polyline `a` of all proper crossings with
    polyline `b` — fully vectorized over the segment-pair matrix."""
    if len(a) < 2 or len(b) < 2:
        return []
    A0, A1 = a[:-1], a[1:]
    B0, B1 = b[:-1], b[1:]
    d = A1 - A0
    e = B1 - B0
    denom = d[:, None, 0] * e[None, :, 1] - d[:, None, 1] * e[None, :, 0]
    diff = B0[None, :, :] - A0[:, None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (diff[:, :, 0] * e[None, :, 1]
             - diff[:, :, 1] * e[None, :, 0]) / denom
        u = (diff[:, :, 0] * d[:, None, 1]
             - diff[:, :, 1] * d[:, None, 0]) / denom
    ok = (denom != 0) & (t > 1e-12) & (t < 1 - 1e-12) & \
         (u >= -1e-12) & (u <= 1 + 1e-12)
    if not ok.any():
        return []
    seglen = np.hypot(d[:, 0], d[:, 1])
    cum = np.concatenate([[0.0], np.cumsum(seglen)])
    i, j = np.nonzero(ok)
    return (cum[i] + t[i, j] * seglen[i]).tolist()


def polygons_to_lines(dfs: list[DataFrame], *, id_col: str,
                      gridsize: float = 2000.0) -> DataFrame:
    """Boundary lines of multiple polygon frames, UNIONED and SPLIT at
    their mutual intersections — the reference's full to_lines contract
    (general.py:543-676: boundaries + split-by-points where lines from
    different frames cross).  Output adds `frame_idx` and `piece_idx`."""
    from .line_ops import _split_chain_at_params
    from .geom.array import LINESTRING
    frames = []
    for k, df in enumerate(dfs):
        frames.append(to_lines(df.select(id_col, "geometry"))
                      .withColumn("frame_idx", F.lit(k)))
    lines = frames[0]
    for fr in frames[1:]:
        lines = lines.unionByName(fr)
    lines = with_bounds(lines).withColumn(
        "__lid", F.xxhash64("geometry", "frame_idx", id_col))
    pairs = sjoin_pairs(lines, lines, "intersects", left_id="__lid",
                        assume_left_points=False,
                        right_id="__lid", gridsize=gridsize)
    rid = pairs.columns[1]
    # only crossings BETWEEN frames split (reference: union of frames is
    # noded where different inputs cross)
    fmap = lines.select("__lid", F.col("frame_idx").alias("__lf"))
    pr = (pairs
          .join(fmap, "__lid")
          .join(fmap.toDF(rid, "__rf"), rid)
          .where(F.col("__lf") != F.col("__rf"))
          .select("__lid", rid))
    partners = (pr.join(lines.select(F.col("__lid").alias(rid),
                                     F.col("geometry").alias("__pg")), rid)
                .groupBy("__lid")
                .agg(F.collect_list("__pg").alias("__pgs")))
    src = lines.join(partners, "__lid", "left")
    schema = (f"{id_col} " +
              [f.dataType.simpleString() for f in lines.schema.fields
               if f.name == id_col][0] +
              ", frame_idx int, piece_idx int, geometry binary")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf["geometry"].tolist())
            rows = []
            for g in range(len(pdf)):
                chain = ga.rings_of_geom(g)[0]
                pgs = pdf["__pgs"].iloc[g]
                params: list[float] = []
                if pgs is not None and len(pgs):
                    pa = from_wkb(list(pgs))
                    for q in range(len(pa)):
                        params.extend(_chain_crossing_params(
                            chain, pa.rings_of_geom(q)[0]))
                pieces = _split_chain_at_params(chain, params) \
                    if params else [chain]
                for k2, piece in enumerate(pieces):
                    rows.append((pdf[id_col].iloc[g],
                                 int(pdf["frame_idx"].iloc[g]), k2,
                                 to_wkb(from_rings([[piece]],
                                                   [LINESTRING]))[0]))
            if rows:
                yield pd.DataFrame(rows, columns=[id_col, "frame_idx",
                                                  "piece_idx", "geometry"])

    return src.mapInPandas(kernel, schema=schema)


def fix_double_surfaces(df: DataFrame, *, id_col: str,
                        gridsize: float = 2000.0) -> DataFrame:
    """Duplicate-surface repair (reference `_eliminate` fix_double pass,
    polygon_operations.py:763-990): pairwise overlaps among rows are
    assigned to exactly one owner — largest area first, id tiebreak — via
    update_geometries with a struct rank (no global sort)."""
    out = _update_by_area(df.select(id_col, "geometry"), id_col=id_col,
                          gridsize=gridsize)
    return df.drop("geometry", *BOUNDS).join(out.select(id_col, "geometry"),
                                             id_col, "inner")


def split_by_neighbors(df: DataFrame, neighbors: DataFrame, *,
                       id_col: str, neighbor_id: str, tolerance: float,
                       gridsize: float = 2000.0) -> DataFrame:
    """Split polygons by their neighbors' boundary segments extended by
    `tolerance` (split_by_neighbors, polygon_operations.py:1402-1478:
    extend_lines(neighbor boundaries) -> SplitOp).  Composition:
    to_lines -> get_line_segments -> extend_lines -> cell join ->
    split_polygons_by_lines."""
    from .conversion import get_line_segments
    from .line_ops import extend_lines
    segs = get_line_segments(
        to_lines(neighbors.select(neighbor_id, "geometry")))
    segs = extend_lines(segs, float(tolerance))
    segs = with_bounds(segs.withColumn(
        "__seg_id", F.xxhash64(F.col("geometry"))))
    return split_polygons_by_lines(df, segs, id_col=id_col,
                                   line_id="__seg_id", gridsize=gridsize)


def get_rough_centerlines(df: DataFrame, *, id_col: str,
                          n_points: int = 64,
                          geometry: str = "geometry") -> DataFrame:
    """Approximate centerline per polygon (get_rough_centerlines,
    centerlines.py:76-372: points-in-polygon + traveling-salesman path).

    Per-row kernel: deterministic interior grid sample (pitch from the
    bbox so ~n_points land inside), thinned to the 'spine' by keeping each
    sample's local maximum distance-to-boundary along the bbox long axis,
    ordered by a greedy nearest-neighbor path (the TSP kernel without the
    return edge).  Output: one LineString per polygon."""
    from .geom.measure import dist_to_ring, points_in_ring
    from .network import traveling_salesman_problem

    def fn(ga, pdf):
        blobs = []
        bounds = ga.bounds()
        for g in range(len(ga)):
            rings = ga.rings_of_geom(g)
            if not rings or len(rings[0]) < 4:
                blobs.append(None)
                continue
            ext = rings[0]
            x0, y0, x1, y1 = bounds[g]
            span = max(x1 - x0, y1 - y0)
            if span <= 0:
                blobs.append(None)
                continue
            pitch = span / max(int(np.sqrt(n_points) * 2), 4)
            xs = np.arange(x0 + pitch / 2, x1, pitch)
            ys = np.arange(y0 + pitch / 2, y1, pitch)
            PX = np.repeat(xs, len(ys))
            PY = np.tile(ys, len(xs))
            inside = points_in_ring(PX, PY, ext)
            for h in rings[1:]:
                inside &= ~points_in_ring(PX, PY, h)
            if inside.sum() < 2:
                blobs.append(None)
                continue
            px, py = PX[inside], PY[inside]
            d = dist_to_ring(px, py, ext)
            # spine: per long-axis slab keep the deepest sample
            axis = px if (x1 - x0) >= (y1 - y0) else py
            slab = np.round((axis - axis.min()) / pitch).astype(np.int64)
            best = {}
            for i in range(len(px)):
                s = int(slab[i])
                if s not in best or d[i] > d[best[s]]:
                    best[s] = i
            idx = [best[s] for s in sorted(best)]
            spine = np.stack([px[idx], py[idx]], axis=1)
            if len(spine) < 2:
                blobs.append(None)
                continue
            order = traveling_salesman_problem(spine, return_to_start=False)
            line = spine[order]
            blobs.append(to_wkb(from_rings([[line]], [LINESTRING]))[0])
        return _kept(blobs, geometry)

    return map_geoms(df.select(id_col, geometry), fn, geometry=geometry)


def split_polygons_by_lines(polys: DataFrame, lines: DataFrame, *,
                            id_col: str, line_id: str,
                            gridsize: float = 2000.0) -> DataFrame:
    """Cut polygons with straight line segments
    (split_polygons_by_lines, polygon_operations.py:1402-1478).

    Supported cut: a 2-point segment that FULLY CROSSES the polygon (both
    endpoints strictly outside) splits it along the segment's supporting
    line — the shapely.ops.split contract for simple crossings.  Segments
    that end inside the polygon leave it uncut (like SplitOp).  Output: one
    row per resulting part, polygon attributes preserved."""
    from .geom.clip import clip_ring_convex, ensure_closed
    pairs = sjoin_pairs(polys, lines, "intersects", left_id=id_col,
                        right_id=line_id, gridsize=gridsize,
                        assume_left_points=False)
    rid = pairs.columns[1]
    pg = polys.select(F.col(id_col), F.col("geometry").alias("__pg"))
    lg = lines.select(F.col(line_id).alias(rid),
                      F.col("geometry").alias("__lg"))
    withg = pairs.join(pg, id_col).join(lg, rid)
    id_t = [f.dataType.simpleString() for f in polys.schema.fields
            if f.name == id_col][0]
    schema = f"{id_col} {id_t}, geometry binary"

    def split_group(key, pdf):
        pa = from_wkb(pdf["__pg"].iloc[:1].tolist())
        parts = [[r for r in pa.rings_of_geom(0)]]
        la = from_wkb(pdf["__lg"].tolist())
        BIG = 1e9
        for k in range(len(pdf)):
            seg = la.rings_of_geom(k)[0]
            if len(seg) != 2:
                continue  # only straight segments cut (documented)
            a, b = seg[0], seg[1]
            d = b - a
            ln = float(np.hypot(*d))
            if ln == 0:
                continue
            u = d / ln
            nrm = np.array([-u[1], u[0]])
            halves = []
            for sgn in (1.0, -1.0):
                quad = np.array([a - BIG * u, a + BIG * u,
                                 a + BIG * u + sgn * BIG * nrm,
                                 a - BIG * u + sgn * BIG * nrm,
                                 a - BIG * u])
                halves.append(quad)
            nxt = []
            for rings in parts:
                ext = ensure_closed(rings[0])
                # full-crossing check: both segment endpoints outside bbox
                # of the part along the cut (conservative: endpoints outside
                # the part's bbox-expanded hull check via point-in-ring)
                from .geom.measure import points_in_ring
                inside = points_in_ring(np.array([a[0], b[0]]),
                                        np.array([a[1], b[1]]), ext)
                if inside.any():
                    nxt.append(rings)
                    continue
                cut_any = False
                for quad in halves:
                    piece = clip_ring_convex(ext, quad)
                    if piece is not None and abs(ring_area(piece)) > 1e-9:
                        nxt.append([piece] + rings[1:])
                        cut_any = True
                if not cut_any:
                    nxt.append(rings)
            parts = nxt
        rows = []
        for rings in parts:
            sub = from_rings([[rings]], [POLYGON])
            rows.append((key[0], to_wkb(sub)[0]))
        return pd.DataFrame(rows, columns=[id_col, "geometry"])

    split = withg.groupBy(id_col).applyInPandas(split_group, schema=schema)
    untouched = polys.join(pairs.select(id_col).distinct(), id_col,
                           "left_anti").select(id_col, "geometry")
    geo = split.unionByName(untouched)
    return polys.drop("geometry", "minx", "miny", "maxx", "maxy") \
                .join(geo, id_col, "inner")


def get_gaps(df: DataFrame, *, id_col: str,
             gridsize: float = 2000.0,
             bounds: bool = False,
             thin_tolerance: float | None = None) -> DataFrame:
    """Enclosed empty regions between polygons (get_gaps,
    polygon_operations.py:1325-1363): bbox − union(polygons), minus the
    outer region touching the bbox boundary.  The layer is dissolved FIRST
    so enclosed gaps surface as holes of the union, which the difference
    kernel re-emits as standalone parts.  Limitation: exactly edge-tiled
    (zero-overlap) coverages rely on the perturbation ladder; snap-rounding
    noding is future work.

    `bounds=True` emits minx..maxy columns and `thin_tolerance` a `__thin`
    flag (max inscribed diameter < tolerance) in the SAME Arrow pass —
    coverage_clean's gap stage ran three back-to-back kernels for
    gap/bounds/thinness before round 6 (VERDICT r5 #4); the extracted
    parts are already in hand here, so the extra passes were pure job
    latency."""
    spark = df.sparkSession
    b = df.agg(F.min("minx"), F.min("miny"), F.max("maxx"), F.max("maxy")).first()
    pad = 1.0
    x0, y0, x1, y1 = b[0] - pad, b[1] - pad, b[2] + pad, b[3] + pad
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    from .dissolve import diss
    dissolved = diss(df.select(id_col, "geometry"), None)
    want_thin = thin_tolerance is not None
    pitch = float(thin_tolerance or 0) / 8.0
    thr = float(thin_tolerance or 0) / 2.0
    schema = "geometry binary"
    if bounds:
        schema += ", minx double, miny double, maxx double, maxy double"
    if want_thin:
        schema += ", __thin boolean"

    # The dissolved layer is ONE row by construction, so bbox − union is a
    # 1x1 difference: running the general sjoin/erase machinery for it
    # cost ~5 shuffle jobs of pure latency (round-5 profile: 4.6s of the
    # coverage_clean 14s at sf0.1).  Fused instead into ONE Arrow pass:
    # same polygon_boolean difference call, explode by parts, drop parts
    # touching the padded bbox edge.
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .geom.clip import polygon_boolean, ring_area
        from .geom.measure import parts_thin
        from .overlay import _parts_of, _parts_to_wkb
        bbox_parts = [[ring]]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows: list[tuple] = []
            for blob in pdf["geometry"]:
                da = from_wkb([blob])
                res = polygon_boolean(bbox_parts, _parts_of(da, 0),
                                      "difference")
                for part in res:
                    ext = part[0]
                    bx0, by0 = ext.min(axis=0)
                    bx1, by1 = ext.max(axis=0)
                    if bx0 <= x0 or by0 <= y0 or bx1 >= x1 or by1 >= y1:
                        continue  # outer region at the padded bbox edge
                    wkb = _parts_to_wkb([part])
                    if wkb is None:
                        continue
                    row: tuple = (wkb,)
                    if bounds:
                        row += (float(bx0), float(by0),
                                float(bx1), float(by1))
                    if want_thin:
                        # sound prefilters: an inscribed disk fits the
                        # bbox (r <= min(w,h)/2) and the area (pi r^2 <=
                        # area), so a hit proves the part thin
                        area = abs(ring_area(ext)) - sum(
                            abs(ring_area(r)) for r in part[1:])
                        thin = (min(bx1 - bx0, by1 - by0) / 2.0 < thr or
                                area <= np.pi * thr * thr or
                                parts_thin([part], pitch, thr))
                        row += (bool(thin),)
                    rows.append(row)
            if rows:
                yield pd.DataFrame(rows, columns=schema.replace(
                    " binary", "").replace(" double", "")
                    .replace(" boolean", "").split(", "))

    return dissolved.select("geometry").mapInPandas(kernel, schema=schema)


def clean_clip(df: DataFrame, mask: DataFrame, *, id_col: str,
               mask_id: str, gridsize: float = 2000.0) -> DataFrame:
    """Clip df to mask polygons keeping df's schema (clean_clip,
    general.py:932-984): intersection overlay, left attributes only."""
    inter = clean_overlay(
        df, mask.select(mask_id, "geometry", "minx", "miny", "maxx", "maxy"),
        "intersection", id1=id_col, id2=mask_id, gridsize=gridsize)
    drop = [c for c in inter.columns if c.endswith("_2") or c == mask_id]
    out = inter.drop(*drop)
    return out.toDF(*[c[:-2] if c.endswith("_1") else c for c in out.columns])


def to_lines(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Polygon boundaries as LineString rows (to_lines, general.py:543-676;
    ring splitting at intersections not applied — each ring one line)."""
    def rings(ga, pdf):
        rows, blobs = [], []
        for g in range(len(ga)):
            for ring in ga.rings_of_geom(g):
                rows.append(g)
                blobs.append(to_wkb(from_rings([[ring]], [LINESTRING]))[0])
        return rows, {geometry: blobs}

    return map_geoms(df, rings, geometry=geometry)


def eliminate_by_largest(df: DataFrame, to_eliminate: DataFrame, *,
                         id_col: str, gridsize: float = 2000.0,
                         largest: bool = True,
                         fix_double: bool = False) -> DataFrame:
    """Merge sliver polygons into the intersecting neighbor with the
    largest (or smallest) area (eliminate_by_largest/_smallest,
    polygon_operations.py:497-760).

    df = keeper polygons, to_eliminate = slivers (disjoint id spaces).
    Returns keepers with slivers unioned in (attributes from the keeper)
    plus slivers that touched no keeper, unchanged (isolated, like the
    reference's leftover handling).  `fix_double=True` runs the
    duplicate-surface repair pass on the result (reference _eliminate
    fix_double, polygon_operations.py:763-990)."""
    keep_area = area_col(df.select(id_col, "geometry"), out_col="__area")
    pairs = sjoin_pairs(to_eliminate, df, "intersects", left_id=id_col,
                        right_id=id_col, gridsize=gridsize,
                        assume_left_points=False)
    sliver_id, keeper_id = pairs.columns[0], pairs.columns[1]
    pr = pairs.join(keep_area.select(F.col(id_col).alias(keeper_id), "__area"),
                    keeper_id)
    order = F.col("__area").desc() if largest else F.col("__area").asc()
    w = Window.partitionBy(sliver_id).orderBy(order, F.col(keeper_id))
    chosen = (pr.withColumn("__rk", F.row_number().over(w))
              .where(F.col("__rk") == 1).select(sliver_id, keeper_id))

    res = _absorb(df, to_eliminate, chosen, id_col)
    if fix_double:
        res = fix_double_surfaces(res, id_col=id_col, gridsize=gridsize)
    return res


def _absorb(df: DataFrame, to_eliminate: DataFrame, chosen: DataFrame,
            id_col: str) -> DataFrame:
    """The shared tail of the eliminate operators: each sliver of
    `chosen` (sliver id, keeper id) is unioned into its keeper
    (attributes from the keeper); slivers that touched no keeper are
    kept unchanged (isolated, like the reference's leftover handling)."""
    sliver_id, keeper_id = chosen.columns
    host_extra = chosen.join(
        to_eliminate.select(F.col(id_col).alias(sliver_id),
                            F.col("geometry").alias("__sg")), sliver_id) \
        .select(F.col(keeper_id).alias(id_col), F.col("__sg").alias("geometry"))
    # only keepers that actually RECEIVE a sliver enter the dissolve
    # (round 6): untouched keepers previously rode the groupBy shuffle
    # just to exit through diss's singleton fast path byte-identical —
    # at scale that shuffles the whole coverage to merge a few slivers.
    # broadcast the touched-id set: it is bounded by the sliver count
    # (the small side by contract), so the keeper layer streams through
    # one broadcast semi/anti join instead of a groupBy shuffle
    touched = F.broadcast(
        chosen.select(F.col(keeper_id).alias(id_col)).distinct())
    keep_geo = df.select(id_col, "geometry")
    union_in = keep_geo.join(touched, id_col).unionByName(host_extra)

    from .dissolve import diss
    merged = diss(union_in, [id_col]) \
        .unionByName(keep_geo.join(touched, id_col, "left_anti"))
    out = df.drop("geometry", *BOUNDS).join(merged, id_col, "inner")
    isolated = to_eliminate.join(chosen.select(F.col(sliver_id).alias(id_col)),
                                 id_col, "left_anti").drop(*BOUNDS)
    return out.unionByName(isolated, allowMissingColumns=True)


def eliminate_by_smallest(df: DataFrame, to_eliminate: DataFrame, **kw):
    return eliminate_by_largest(df, to_eliminate, largest=False, **kw)


def _shared_border_length(la, ra, li, ri) -> np.ndarray:
    """Length of collinear segment overlap between boundary chains of pair
    (la[li[k]], ra[ri[k]]) — the reference's to_lines + overlay-intersection
    length (`polygon_operations.py:342-366`), computed directly."""
    out = np.zeros(len(li), dtype=np.float64)
    for k in range(len(li)):
        total = 0.0
        for a in la.rings_of_geom(int(li[k])):
            ax1, ay1 = a[:-1, 0], a[:-1, 1]
            ax2, ay2 = a[1:, 0], a[1:, 1]
            adx, ady = ax2 - ax1, ay2 - ay1
            for b in ra.rings_of_geom(int(ri[k])):
                bx1, by1 = b[:-1, 0], b[:-1, 1]
                bx2, by2 = b[1:, 0], b[1:, 1]
                bdx, bdy = bx2 - bx1, by2 - by1
                # parallel test (cross of directions == 0), vectorized pairs
                cross = adx[:, None] * bdy[None, :] - ady[:, None] * bdx[None, :]
                # collinear: (b1 - a1) x adir == 0
                c2 = (adx[:, None] * (by1[None, :] - ay1[:, None]) -
                      ady[:, None] * (bx1[None, :] - ax1[:, None]))
                cand = (cross == 0) & (c2 == 0)
                ia, ib = np.nonzero(cand)
                for i, j in zip(ia.tolist(), ib.tolist()):
                    ll = adx[i] * adx[i] + ady[i] * ady[i]
                    if ll == 0:
                        continue
                    t1 = ((bx1[j] - ax1[i]) * adx[i] + (by1[j] - ay1[i]) * ady[i]) / ll
                    t2 = ((bx2[j] - ax1[i]) * adx[i] + (by2[j] - ay1[i]) * ady[i]) / ll
                    lo, hi = max(min(t1, t2), 0.0), min(max(t1, t2), 1.0)
                    if hi > lo:
                        total += (hi - lo) * np.sqrt(ll)
        out[k] = total
    return out


def eliminate_by_longest(df: DataFrame, to_eliminate: DataFrame, *,
                         id_col: str, gridsize: float = 2000.0) -> DataFrame:
    """Merge slivers into the neighbor sharing the LONGEST border
    (eliminate_by_longest, polygon_operations.py:226-494): candidate
    neighbors from the cell join, shared-border length from the collinear
    segment-overlap kernel, argmax per sliver via window, then the same
    union/attribute plumbing as eliminate_by_largest."""
    pairs = sjoin_pairs(to_eliminate, df, "intersects", left_id=id_col,
                        right_id=id_col, gridsize=gridsize,
                        assume_left_points=False)
    sliver_id, keeper_id = pairs.columns[0], pairs.columns[1]
    sg = to_eliminate.select(F.col(id_col).alias(sliver_id),
                             F.col("geometry").alias("__sg"))
    kg = df.select(F.col(id_col).alias(keeper_id),
                   F.col("geometry").alias("__kg"))
    withg = pairs.join(sg, sliver_id).join(kg, keeper_id)

    sid_t = [f.dataType.simpleString() for f in to_eliminate.schema.fields
             if f.name == id_col][0]
    kid_t = [f.dataType.simpleString() for f in df.schema.fields
             if f.name == id_col][0]
    schema = f"{sliver_id} {sid_t}, {keeper_id} {kid_t}, border double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            scodes, su = pd.factorize(pdf["__sg"], use_na_sentinel=False)
            kcodes, ku = pd.factorize(pdf["__kg"], use_na_sentinel=False)
            la = from_wkb(list(su))
            ra = from_wkb(list(ku))
            border = _shared_border_length(la, ra,
                                           np.asarray(scodes, dtype=np.int64),
                                           np.asarray(kcodes, dtype=np.int64))
            yield pd.DataFrame({sliver_id: pdf[sliver_id].to_numpy(),
                                keeper_id: pdf[keeper_id].to_numpy(),
                                "border": border})

    borders = withg.mapInPandas(kernel, schema=schema)
    w = Window.partitionBy(sliver_id).orderBy(F.col("border").desc(),
                                              F.col(keeper_id))
    chosen = (borders.where(F.col("border") > 0)
              .withColumn("__rk", F.row_number().over(w))
              .where(F.col("__rk") == 1).select(sliver_id, keeper_id))
    return _absorb(df, to_eliminate, chosen, id_col)


def area_col(df: DataFrame, geometry: str = "geometry",
             out_col: str = "area") -> DataFrame:
    """Attach shoelace area (the `sort_large_first` enabler,
    general.py:287-393 — sorting is then a plain orderBy)."""
    return map_geoms(df, lambda ga, pdf: (None, {out_col: ga.area()}),
                     {out_col: "double"}, geometry=geometry)


def _bounds_and_area(ga, pdf):
    return None, {**bounds_cols(ga), "__area": ga.area()}


def _update_by_area(df: DataFrame, *, id_col: str, gridsize: float,
                largest: bool = True) -> DataFrame:
    """Assign pairwise overlaps to exactly one owner: rank = (area, id),
    largest area first (or smallest), then update_geometries.  Bounds and
    area come from ONE Arrow pass and `ranked` is materialized once:
    update_geometries plans several probes and joins over it, and each
    would otherwise re-run the whole upstream chain."""
    from .overlay import update_geometries
    area = F.col("__area")
    ranked = map_geoms(df.drop(*BOUNDS), _bounds_and_area,
                       {**BOUNDS_DDL, "__area": "double"}) \
        .withColumn("__rank", F.struct((-area if largest else area)
                                       .alias("a"),
                                       F.col(id_col).alias("tid"))) \
        .drop("__area").localCheckpoint()
    return update_geometries(ranked, id_col=id_col, rank_col="__rank",
                             gridsize=gridsize).drop("__rank")
