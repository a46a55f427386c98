"""Point operations: snapping.

Reference: `snap_all` / `snap_within_distance`
(`/root/reference/src/sgis/geopandas_tools/point_operations.py:19-233`) —
move each point to the nearest location ON the nearest geometry of the
other layer, optionally capped by distance, with a distance column.

Spark plan: dwithin candidate join (cell cover with expansion) -> Arrow
kernel computes exact (distance, nearest point) per candidate pair
(vectorized point-segment projection) -> window min per point -> replace
geometry.  snap_all estimates a search radius from the data and escalates
until every point found a target (driver-coordinated doubling, the ring
expansion idea of SURVEY §2.4 kNN applied to snapping).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .geom.array import GeomArray
from .geom.wkb import from_wkb, to_wkb
from .geom import points as make_points
from .io import map_geoms
from .joins import _cover_cells


def _nearest_on_pairs(la: GeomArray, ra: GeomArray, li, ri):
    """(dist, nx, ny) of nearest point on ra[ri[k]] from point la[li[k]]."""
    starts = la.coords_start_per_geom()
    px = la.coords[starts[li], 0]
    py = la.coords[starts[li], 1]
    out_d = np.full(len(li), np.inf)
    out_x = px.copy()
    out_y = py.copy()
    gstart = ra.coords_start_per_geom()
    gcount = ra.coords_count_per_geom()
    from .geom.array import expand_ranges
    cstart = gstart[ri]
    cend = cstart + np.maximum(gcount[ri] - 1, 1)
    single = gcount[ri] == 1
    if single.any():
        s = gstart[ri[single]]
        out_d[single] = np.hypot(px[single] - ra.coords[s, 0],
                                 py[single] - ra.coords[s, 1])
        out_x[single] = ra.coords[s, 0]
        out_y[single] = ra.coords[s, 1]
    multi = np.nonzero(~single)[0]
    if len(multi):
        flat, owner = expand_ranges(cstart[multi], cend[multi])
        ring_starts = ra.ring_offsets[:-1]
        is_rs = np.zeros(len(ra.coords) + 1, dtype=bool)
        is_rs[ring_starts] = True
        valid = ~is_rs[flat + 1]
        x1 = ra.coords[flat, 0]
        y1 = ra.coords[flat, 1]
        dx = ra.coords[flat + 1, 0] - x1
        dy = ra.coords[flat + 1, 1] - y1
        PX = px[multi][owner]
        PY = py[multi][owner]
        rx = PX - x1
        ry = PY - y1
        ll = dx * dx + dy * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.clip(np.where(ll > 0, (rx * dx + ry * dy) / ll, 0.0), 0, 1)
        cx = x1 + t * dx
        cy = y1 + t * dy
        d2 = np.where(valid, (PX - cx) ** 2 + (PY - cy) ** 2, np.inf)
        # argmin per owner
        order = np.lexsort((d2, owner))
        ow_sorted = owner[order]
        first = np.ones(len(order), dtype=bool)
        first[1:] = ow_sorted[1:] != ow_sorted[:-1]
        best = order[first]
        out_d[multi[ow_sorted[first]]] = np.sqrt(d2[best])
        out_x[multi[ow_sorted[first]]] = cx[best]
        out_y[multi[ow_sorted[first]]] = cy[best]
    return out_d, out_x, out_y


def snap_within_distance(points: DataFrame, targets: DataFrame,
                         distance: float, *, left_id: str,
                         right_id: str, gridsize: float = 2000.0,
                         distance_col: str = "snap_distance") -> DataFrame:
    """Snap each point to the nearest target geometry within `distance`;
    unsnapped points keep their geometry with NULL distance
    (snap_within_distance, point_operations.py:120-233)."""
    l = points.select(F.col(left_id).alias("__lid"),
                      F.col("geometry").alias("__lg"),
                      "minx", "miny", "maxx", "maxy")
    l = _cover_cells(l, gridsize, expand=float(distance), prefix="l_") \
        .select("__lid", "__lg", "cell_key")
    r = targets.select(F.col(right_id).alias("__rid"),
                       F.col("geometry").alias("__rg"),
                       "minx", "miny", "maxx", "maxy")
    r = _cover_cells(r, gridsize, prefix="r_") \
        .select("__rid", "__rg", "cell_key")
    cand = l.join(r, "cell_key")

    lid_t = [f.dataType.simpleString() for f in points.schema.fields
             if f.name == left_id][0]
    schema = f"{left_id} {lid_t}, __d double, __nx double, __ny double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lcodes, lu = pd.factorize(pdf["__lg"], use_na_sentinel=False)
            rcodes, ru = pd.factorize(pdf["__rg"], use_na_sentinel=False)
            la = from_wkb(list(lu))
            ra = from_wkb(list(ru))
            d, nx, ny = _nearest_on_pairs(la, ra,
                                          np.asarray(lcodes, dtype=np.int64),
                                          np.asarray(rcodes, dtype=np.int64))
            ok = d <= float(distance)
            yield pd.DataFrame({left_id: pdf["__lid"].to_numpy()[ok],
                                "__d": d[ok], "__nx": nx[ok], "__ny": ny[ok]})

    near = cand.mapInPandas(kernel, schema=schema)
    w = Window.partitionBy(left_id).orderBy(F.col("__d").asc(),
                                            F.col("__nx"), F.col("__ny"))
    best = near.withColumn("__rk", F.row_number().over(w)) \
               .where("__rk = 1").drop("__rk")

    def replace(_, pdf):
        snapped = ~pdf["__nx"].isna()
        xy = np.stack([np.where(snapped, pdf["__nx"], pdf["minx"]),
                       np.where(snapped, pdf["__ny"], pdf["miny"])], axis=1)
        return None, {"geometry": to_wkb(make_points(xy.astype(float))),
                      distance_col: pdf["__d"]}

    # the join puts left_id first: restore the points' column order
    src = points.join(best, left_id, "left") \
        .select(*points.columns, "__d", "__nx", "__ny")
    return map_geoms(src, replace, {distance_col: "double"}, geometry=None,
                     drop=("__nx", "__ny", "__d"))


def shortest_lines(points: DataFrame, targets: DataFrame, *, left_id: str,
                   right_id: str, max_distance: float,
                   gridsize: float = 2000.0) -> DataFrame:
    """LineString from each point to the nearest location on its nearest
    target within max_distance (reference `shortest_line`,
    _od_cost_matrix.py:52 + snapping helpers).  Output:
    (left_id, geometry LineString, shortest_distance)."""
    l = points.select(F.col(left_id).alias("__lid"),
                      F.col("geometry").alias("__lg"),
                      "minx", "miny", "maxx", "maxy")
    l = _cover_cells(l, gridsize, expand=float(max_distance), prefix="l_") \
        .select("__lid", "__lg", "cell_key")
    r = targets.select(F.col(right_id).alias("__rid"),
                       F.col("geometry").alias("__rg"),
                       "minx", "miny", "maxx", "maxy")
    r = _cover_cells(r, gridsize, prefix="r_") \
        .select("__rid", "__rg", "cell_key")
    cand = l.join(r, "cell_key")
    lid_t = [f.dataType.simpleString() for f in points.schema.fields
             if f.name == left_id][0]
    schema = (f"{left_id} {lid_t}, __d double, __sx double, __sy double, "
              "__nx double, __ny double")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lcodes, lu = pd.factorize(pdf["__lg"], use_na_sentinel=False)
            rcodes, ru = pd.factorize(pdf["__rg"], use_na_sentinel=False)
            la = from_wkb(list(lu))
            ra = from_wkb(list(ru))
            li = np.asarray(lcodes, dtype=np.int64)
            d, nx, ny = _nearest_on_pairs(la, ra, li,
                                          np.asarray(rcodes, dtype=np.int64))
            starts = la.coords_start_per_geom()
            sx = la.coords[starts[li], 0]
            sy = la.coords[starts[li], 1]
            ok = d <= float(max_distance)
            yield pd.DataFrame({left_id: pdf["__lid"].to_numpy()[ok],
                                "__d": d[ok], "__sx": sx[ok], "__sy": sy[ok],
                                "__nx": nx[ok], "__ny": ny[ok]})

    near = cand.mapInPandas(kernel, schema=schema)
    w = Window.partitionBy(left_id).orderBy(F.col("__d").asc(),
                                            F.col("__nx"), F.col("__ny"))
    best = near.withColumn("__rk", F.row_number().over(w)) \
               .where("__rk = 1").drop("__rk")

    def mk_lines(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .geom.array import LINESTRING, from_rings
        for pdf in batches:
            if len(pdf) == 0:
                continue
            blobs = []
            for i in range(len(pdf)):
                chain = np.array(
                    [[pdf["__sx"].iloc[i], pdf["__sy"].iloc[i]],
                     [pdf["__nx"].iloc[i], pdf["__ny"].iloc[i]]])
                blobs.append(to_wkb(from_rings([[chain]], [LINESTRING]))[0])
            yield pd.DataFrame({left_id: pdf[left_id],
                                "geometry": blobs,
                                "shortest_distance": pdf["__d"]})

    return best.mapInPandas(
        mk_lines,
        schema=f"{left_id} {lid_t}, geometry binary, "
               "shortest_distance double")


def snap_vertices(df: DataFrame, targets: DataFrame, tolerance: float, *,
                  left_id: str, right_id: str,
                  gridsize: float = 2000.0) -> DataFrame:
    """Shapely-`snap` analogue: move each vertex of df's geometries to the
    nearest TARGET VERTEX within tolerance (topology alignment).  Pairs
    from a dwithin cell join; per-left batched vertex match."""
    from .joins import sjoin_pairs
    pairs = sjoin_pairs(df, targets, "dwithin", left_id=left_id,
                        right_id=right_id, distance=float(tolerance),
                        gridsize=gridsize)
    rid = pairs.columns[1]
    lg = df.select(F.col(left_id), F.col("geometry").alias("__lg"))
    rg = targets.select(F.col(right_id).alias(rid),
                        F.col("geometry").alias("__rg"))
    withg = pairs.join(lg, left_id).join(rg, rid) \
        .groupBy(left_id).agg(F.first("__lg").alias("__lg"),
                              F.collect_list("__rg").alias("__rgs"))
    lid_t = [f.dataType.simpleString() for f in df.schema.fields
             if f.name == left_id][0]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            blobs = []
            for i in range(len(pdf)):
                ga = from_wkb([pdf["__lg"].iloc[i]])
                ta = from_wkb(list(pdf["__rgs"].iloc[i]))
                tv = ta.coords
                c = ga.coords
                if len(tv) and len(c):
                    d2 = ((c[:, None, :] - tv[None, :, :]) ** 2).sum(axis=2)
                    j = np.argmin(d2, axis=1)
                    hit = d2[np.arange(len(c)), j] <= float(tolerance) ** 2
                    c = np.where(hit[:, None], tv[j], c)
                    ga.coords = c
                blobs.append(to_wkb(ga)[0])
            yield pd.DataFrame({left_id: pdf[left_id], "geometry": blobs})

    snapped = withg.mapInPandas(
        kernel, schema=f"{left_id} {lid_t}, geometry binary")
    untouched = df.join(pairs.select(left_id).distinct(), left_id,
                        "left_anti").select(left_id, "geometry")
    return snapped.unionByName(untouched)


def snap_all(points: DataFrame, targets: DataFrame, *, left_id: str,
             right_id: str, gridsize: float = 2000.0,
             distance_col: str = "snap_distance",
             max_rounds: int = 6) -> DataFrame:
    """Snap every point to its nearest target (snap_all,
    point_operations.py:19-117): escalate the search radius (x4 per round)
    until all points snapped; guaranteed exact because a found neighbor at
    distance d rules out anything outside radius d."""
    radius = float(gridsize)
    out = None
    for _ in range(max_rounds):
        out = snap_within_distance(points, targets, radius, left_id=left_id,
                                   right_id=right_id, gridsize=gridsize,
                                   distance_col=distance_col)
        n_missing = out.where(F.col(distance_col).isNull()).count()
        if n_missing == 0:
            return out
        radius *= 4.0
    return out
