"""Line operations: cutting/segmenting.

Reference: `cut_lines` / `cut_lines_once` / `split_lines_by_nearest_point`
(`/root/reference/src/sgis/networkanalysis/cutting_lines.py:22-278`).

Per-row kernels (no shuffle): each LineString is resampled into pieces of
at most `max_length`, preserving vertices; `split_lines_by_nearest_point`
composes the snap join (point_ops) with a per-line split kernel.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .geom.array import LINESTRING, from_rings
from .geom.wkb import from_wkb, to_wkb
from .io import map_geoms


def _cut_chain(chain: np.ndarray, max_len: float) -> list[np.ndarray]:
    """Cut a polyline into pieces of length <= max_len, inserting split
    points on segments (reference cut_lines semantics)."""
    pieces = []
    cur = [chain[0]]
    budget = max_len
    i = 0
    p = chain[0].astype(float)
    while i < len(chain) - 1:
        q = chain[i + 1].astype(float)
        seg = np.hypot(*(q - p))
        if seg <= budget + 1e-12:
            cur.append(q)
            budget -= seg
            p = q
            i += 1
            if budget <= 1e-12 and (i < len(chain) - 1):
                pieces.append(np.asarray(cur))
                cur = [q]
                budget = max_len
        else:
            t = budget / seg
            mid = p + t * (q - p)
            cur.append(mid)
            pieces.append(np.asarray(cur))
            cur = [mid]
            budget = max_len
            p = mid
    if len(cur) >= 2:
        pieces.append(np.asarray(cur))
    return pieces


def cut_lines(df: DataFrame, max_length: float, *,
              geometry: str = "geometry") -> DataFrame:
    """Segment every line into pieces of at most max_length
    (cut_lines, cutting_lines.py:22-141).  Output adds `piece_idx`."""
    def cut(ga, pdf):
        src, blobs, pidx = [], [], []
        for g in range(len(ga)):
            k = 0
            for c in ga.rings_of_geom(g):
                if len(c) < 2:
                    continue
                for piece in _cut_chain(c, float(max_length)):
                    src.append(g)
                    blobs.append(to_wkb(from_rings([[piece]],
                                                   [LINESTRING]))[0])
                    pidx.append(k)
                    k += 1
        return src, {geometry: blobs, "piece_idx": pidx}

    return map_geoms(df, cut, {"piece_idx": "int"}, geometry=geometry)


def _split_chain_at_params(chain: np.ndarray,
                           params: list[float]) -> list[np.ndarray]:
    """Split a polyline at arc-length parameters (sorted, deduped)."""
    seg = np.hypot(*(np.diff(chain, axis=0).T))
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    total = float(cum[-1])
    cuts = sorted({p for p in params if 1e-9 < p < total - 1e-9})
    if not cuts:
        return [chain]
    pieces, cur, start = [], [chain[0]], 0.0
    ci = 0
    for i in range(len(seg)):
        a, b = chain[i], chain[i + 1]
        s0, s1 = cum[i], cum[i + 1]
        while ci < len(cuts) and s0 < cuts[ci] <= s1 + 1e-12:
            t = (cuts[ci] - s0) / max(s1 - s0, 1e-300)
            mid = a + t * (b - a)
            cur.append(mid)
            pieces.append(np.asarray(cur))
            cur = [mid]
            ci += 1
        cur.append(b)
    if len(cur) >= 2:
        pieces.append(np.asarray(cur))
    return pieces


def split_lines_by_nearest_point(lines: DataFrame, points: DataFrame, *,
                                 line_id: str, point_id: str,
                                 max_distance: float,
                                 gridsize: float = 2000.0) -> DataFrame:
    """Split each line at the projections of points whose NEAREST line it
    is, within max_distance (split_lines_by_nearest_point,
    cutting_lines.py:216-278).  Output adds `piece_idx`."""
    from .joins import sjoin_pairs
    pairs = sjoin_pairs(points, lines, "dwithin", left_id=point_id,
                        right_id=line_id, distance=float(max_distance),
                        gridsize=gridsize, keep_distance=True)
    rid = pairs.columns[1]
    w = Window.partitionBy(point_id).orderBy(F.col("distance").asc(),
                                             F.col(rid).asc())
    nearest = pairs.withColumn("__rk", F.row_number().over(w)) \
                   .where("__rk = 1").select(point_id, rid)
    pg = points.select(F.col(point_id), F.col("geometry").alias("__pg"))
    withg = nearest.join(pg, point_id) \
        .groupBy(rid).agg(F.collect_list("__pg").alias("__pts")) \
        .withColumnRenamed(rid, line_id)
    # the join puts line_id first: restore the lines' column order
    src = lines.join(withg, line_id, "left").select(*lines.columns, "__pts")

    def split(ga, pdf):
        srcs, blobs, pidx = [], [], []
        for g in range(len(pdf)):
            chain = ga.rings_of_geom(g)[0]
            pts = pdf["__pts"].iloc[g]
            if pts is None or len(pts) == 0 or len(chain) < 2:
                srcs.append(g)
                blobs.append(pdf["geometry"].iloc[g])
                pidx.append(0)
                continue
            pa = from_wkb(list(pts))
            pstart = pa.coords_start_per_geom()
            P = pa.coords[pstart]
            # arc-length parameter of each point's projection
            seg = np.diff(chain, axis=0)
            ll = (seg * seg).sum(axis=1)
            cum = np.concatenate([[0.0], np.cumsum(np.sqrt(ll))])
            params = []
            for p in P:
                r = p[None, :] - chain[:-1]
                with np.errstate(divide="ignore", invalid="ignore"):
                    t = np.clip(np.where(ll > 0,
                                         (r * seg).sum(axis=1) / ll,
                                         0.0), 0, 1)
                c = chain[:-1] + t[:, None] * seg
                d2 = ((p[None, :] - c) ** 2).sum(axis=1)
                j = int(np.argmin(d2))
                params.append(float(cum[j] + t[j] * np.sqrt(ll[j])))
            for k, piece in enumerate(
                    _split_chain_at_params(chain, params)):
                srcs.append(g)
                blobs.append(to_wkb(from_rings([[piece]],
                                               [LINESTRING]))[0])
                pidx.append(k)
        return srcs, {"geometry": blobs, "piece_idx": pidx}

    return map_geoms(src, split, {"piece_idx": "int"}, drop=("__pts",))


def clip_lines_by_polygons(lines: DataFrame, polys: DataFrame, *,
                           line_id: str, poly_id: str,
                           gridsize: float = 2000.0) -> DataFrame:
    """LINE x POLYGON intersection (the reference's clean_clip / overlay
    for line layers — roads clipped by municipalities): each line is split
    at its crossings with the polygon boundary; pieces whose midpoint lies
    inside the polygon are kept.  Exact for simple polygons (holes
    respected).  Returns (line_id, poly_id, piece_idx, geometry)."""
    from .joins import sjoin_pairs
    from .polygon_ops import _chain_crossing_params
    from .geom.measure import points_in_ring
    pairs = sjoin_pairs(lines, polys, "intersects", left_id=line_id,
                        right_id=poly_id, gridsize=gridsize)
    rid = pairs.columns[1]
    lg = lines.select(F.col(line_id), F.col("geometry").alias("__lg"))
    pg = polys.select(F.col(poly_id).alias(rid),
                      F.col("geometry").alias("__pg"))
    withg = pairs.join(lg, line_id).join(pg, rid)
    lid_t = [f.dataType.simpleString() for f in lines.schema.fields
             if f.name == line_id][0]
    pid_t = [f.dataType.simpleString() for f in polys.schema.fields
             if f.name == poly_id][0]
    schema = (f"{line_id} {lid_t}, {rid} {pid_t}, piece_idx int, "
              "geometry binary")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lcodes, lu = pd.factorize(pdf["__lg"], use_na_sentinel=False)
            pcodes, pu = pd.factorize(pdf["__pg"], use_na_sentinel=False)
            la = from_wkb(list(lu))
            pa = from_wkb(list(pu))
            rows = []
            for r in range(len(pdf)):
                chain = la.rings_of_geom(int(lcodes[r]))[0]
                rings = pa.rings_of_geom(int(pcodes[r]))
                if len(chain) < 2 or not rings:
                    continue
                params: list[float] = []
                for ring in rings:
                    params.extend(_chain_crossing_params(chain, ring))
                pieces = _split_chain_at_params(chain, params) \
                    if params else [chain]
                k2 = 0
                for piece in pieces:
                    # midpoint-in-polygon keeps interior pieces (holes cut)
                    seg = np.diff(piece, axis=0)
                    sl = np.hypot(seg[:, 0], seg[:, 1])
                    cum = np.concatenate([[0.0], np.cumsum(sl)])
                    half = cum[-1] / 2.0
                    j = int(np.searchsorted(cum[1:], half))
                    t = (half - cum[j]) / max(sl[j], 1e-300)
                    mid = piece[j] + t * seg[j]
                    inside = bool(points_in_ring(
                        np.array([mid[0]]), np.array([mid[1]]),
                        rings[0])[0])
                    for h in rings[1:]:
                        if inside:
                            inside &= not bool(points_in_ring(
                                np.array([mid[0]]), np.array([mid[1]]),
                                h)[0])
                    if inside:
                        rows.append((pdf[line_id].iloc[r],
                                     pdf[rid].iloc[r], k2,
                                     to_wkb(from_rings([[piece]],
                                                       [LINESTRING]))[0]))
                        k2 += 1
            if rows:
                yield pd.DataFrame(rows, columns=[line_id, rid,
                                                  "piece_idx", "geometry"])

    return withg.mapInPandas(kernel, schema=schema)


def extend_lines(df: DataFrame, distance: float, *,
                 geometry: str = "geometry") -> DataFrame:
    """Extend each LineString by `distance` beyond both endpoints along the
    end-segment directions (reference cleaning/`extend_lines` helper used
    by split_by_neighbors)."""
    d = float(distance)

    def extend(ga, pdf):
        blobs = []
        for g in range(len(ga)):
            c = ga.rings_of_geom(g)[0].astype(float)
            if len(c) >= 2:
                u0 = c[0] - c[1]
                n0 = np.hypot(*u0)
                u1 = c[-1] - c[-2]
                n1 = np.hypot(*u1)
                c = c.copy()
                if n0 > 0:
                    c[0] = c[0] + u0 / n0 * d
                if n1 > 0:
                    c[-1] = c[-1] + u1 / n1 * d
            blobs.append(to_wkb(from_rings([[c]], [LINESTRING]))[0])
        return None, {geometry: blobs}

    return map_geoms(df, extend, geometry=geometry)


def cut_lines_once(df: DataFrame, fraction: float = 0.5, *,
                   geometry: str = "geometry") -> DataFrame:
    """Split each line once at `fraction` of its length
    (cut_lines_once, cutting_lines.py:143-214)."""
    def cut_once(ga, pdf):
        lens = ga.length()
        src, blobs, pidx = [], [], []
        for g in range(len(ga)):
            c = ga.rings_of_geom(g)[0]
            pieces = _cut_chain(c, max(float(lens[g]) * fraction, 1e-12))
            # keep first piece + remainder merged
            if len(pieces) <= 1:
                parts = pieces
            else:
                rest = np.vstack([pieces[1][:1]] +
                                 [p[1:] for p in pieces[1:]])
                parts = [pieces[0], rest]
            for k, piece in enumerate(parts):
                src.append(g)
                blobs.append(to_wkb(from_rings([[piece]],
                                               [LINESTRING]))[0])
                pidx.append(k)
        return src, {geometry: blobs, "piece_idx": pidx}

    return map_geoms(df, cut_once, {"piece_idx": "int"}, geometry=geometry)
