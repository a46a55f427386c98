"""Raster <-> vector: tiled raster table + zonal statistics.

Reference: `Band.zonal` (`/root/reference/src/sgis/raster/image_collection.py:
1356-1403` + `raster/zonal.py:13-83`) — per polygon, mask raster pixels and
aggregate; `Band.to_geopandas` (one row per pixel, image_collection.py:
1405-1438).

Spark model (SURVEY.md §1.5/§2.9): a raster is a TABLE of tiles
(tile_id, x0, y0, res, nx, ny, values float[]), values row-major from the
tile origin, pixel centers at (x0 + (col+0.5)*res, y0 + (row+0.5)*res).
Zonal = tile⋈polygon cell join + per-pair masked PARTIAL aggregates
(count/sum/min/max — composable), then groupBy(polygon) finalize — the
two-phase aggregation that makes polygons spanning many tiles scale.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .cells import FALSE_EASTING, Y_BITS
from .geom.predicates import points_in_polygon_geom
from .geom.wkb import from_wkb


def synth_raster_tiles(spark: SparkSession, minx: float, miny: float,
                       maxx: float, maxy: float, tile_size: float = 1000.0,
                       res: float = 10.0) -> DataFrame:
    """Deterministic synthetic raster (FIXTURES.md §F5):
    value(x, y) = sin(x/500) + cos(y/700) at pixel centers — reproducible
    anywhere without storing data."""
    nx_tiles = int(np.ceil((maxx - minx) / tile_size))
    ny_tiles = int(np.ceil((maxy - miny) / tile_size))
    n = int(tile_size / res)
    idx = spark.range(nx_tiles * ny_tiles)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for tid in pdf["id"].tolist():
                tx = tid % nx_tiles
                ty = tid // nx_tiles
                x0 = minx + tx * tile_size
                y0 = miny + ty * tile_size
                cx = x0 + (np.arange(n) + 0.5) * res
                cy = y0 + (np.arange(n) + 0.5) * res
                vals = (np.sin(cx[None, :] / 500.0) +
                        np.cos(cy[:, None] / 700.0)).astype(np.float64)
                rows.append((f"{int(x0)}_{int(y0)}", float(x0), float(y0),
                             float(res), n, n, vals.ravel().tolist()))
            yield pd.DataFrame(rows, columns=["tile_id", "x0", "y0", "res",
                                              "nx", "ny", "values"])

    return idx.mapInPandas(
        gen, schema="tile_id string, x0 double, y0 double, res double, "
                    "nx int, ny int, values array<double>")


def zonal_stats(polygons: DataFrame, tiles: DataFrame, *,
                id_col: str = "zone_id",
                stats: tuple = ("count", "sum", "min", "max", "mean"),
                gridsize: float = 1000.0) -> DataFrame:
    """Zonal statistics of the tiled raster inside each polygon.

    Plan: polygons explode to covering cells (pure SQL) ⋈ tiles on cell_key
    → Arrow kernel computes per-(polygon, tile) partial aggregates with a
    vectorized point-in-polygon mask → groupBy(polygon) combines partials.
    """
    p = polygons.select(F.col(id_col), "geometry", "minx", "miny",
                        "maxx", "maxy")
    g = float(gridsize)
    p = (p.withColumn("__cx", F.explode(F.expr(
            f"sequence(cast(floor((minx + {FALSE_EASTING}) / {g}) as bigint), "
            f"cast(floor((maxx + {FALSE_EASTING}) / {g}) as bigint))")))
         .withColumn("__cy", F.explode(F.expr(
            f"sequence(cast(floor(miny / {g}) as bigint), "
            f"cast(floor(maxy / {g}) as bigint))")))
         .withColumn("cell_key", F.expr(f"__cx * {1 << Y_BITS} + __cy"))
         .drop("__cx", "__cy"))
    # tiles explode to ALL cells of their extent (x0..x0+nx*res, y0..y0+ny*res)
    # — keying by the centre cell alone silently loses pixels whenever a tile
    # is not aligned to / sized like the zonal grid.  A (polygon, tile) pair
    # can then meet in several cells, so dedup with the anchor-cell rule
    # (keep only the cell containing the lower-left corner of the bbox
    # intersection) — pure JVM, no extra shuffle.
    t = (tiles
         .withColumn("__tx1", F.expr("x0 + nx * res"))
         .withColumn("__ty1", F.expr("y0 + ny * res"))
         .withColumn("__tcx", F.explode(F.expr(
            f"sequence(cast(floor((x0 + {FALSE_EASTING}) / {g}) as bigint), "
            f"cast(floor((__tx1 + {FALSE_EASTING}) / {g}) as bigint))")))
         .withColumn("__tcy", F.explode(F.expr(
            f"sequence(cast(floor(y0 / {g}) as bigint), "
            f"cast(floor(__ty1 / {g}) as bigint))")))
         .withColumn("cell_key", F.expr(f"__tcx * {1 << Y_BITS} + __tcy"))
         .drop("__tcx", "__tcy"))
    cand = (p.join(t, "cell_key")
            .where(F.expr(
                f"cell_key = cast(floor((greatest(minx, x0) + {FALSE_EASTING})"
                f" / {g}) as bigint) * {1 << Y_BITS}"
                f" + cast(floor(greatest(miny, y0) / {g}) as bigint)"))
            .drop("__tx1", "__ty1"))

    id_t = [f.dataType.simpleString() for f in polygons.schema.fields
            if f.name == id_col][0]
    schema = (f"{id_col} {id_t}, n long, s double, mn double, mx double")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes, uniq = pd.factorize(pdf["geometry"], use_na_sentinel=False)
            ga = from_wkb(list(uniq))
            out = []
            for i in range(len(pdf)):
                n = int(pdf["nx"].iloc[i])
                m = int(pdf["ny"].iloc[i])
                res = float(pdf["res"].iloc[i])
                x0 = float(pdf["x0"].iloc[i])
                y0 = float(pdf["y0"].iloc[i])
                vals = np.asarray(pdf["values"].iloc[i], dtype=np.float64)
                px = x0 + (np.arange(n) + 0.5) * res
                py = y0 + (np.arange(m) + 0.5) * res
                PX = np.broadcast_to(px[None, :], (m, n)).ravel()
                PY = np.broadcast_to(py[:, None], (m, n)).ravel()
                mask = points_in_polygon_geom(PX, PY, ga, int(codes[i]))
                v = vals[mask]
                v = v[~np.isnan(v)]
                if len(v) == 0:
                    continue
                out.append((pdf[id_col].iloc[i], len(v), float(v.sum()),
                            float(v.min()), float(v.max())))
            if out:
                yield pd.DataFrame(out, columns=[id_col, "n", "s", "mn", "mx"])

    partials = cand.mapInPandas(kernel, schema=schema)
    agg = partials.groupBy(id_col).agg(
        F.sum("n").alias("count"), F.sum("s").alias("sum"),
        F.min("mn").alias("min"), F.max("mx").alias("max"))
    if "mean" in stats:
        agg = agg.withColumn("mean", F.col("sum") / F.col("count"))
    keep = [id_col] + [s for s in
                       ("count", "sum", "min", "max", "mean") if s in stats]
    return agg.select(*keep)


def band_gradient(tiles: DataFrame, halo: bool = True) -> DataFrame:
    """Slope magnitude per tile (reference `Band.gradient`,
    image_collection.py:1302-1355): central-difference gradient.

    `halo=True` exchanges 1-PIXEL BOUNDARY STRIPS between edge-adjacent
    tiles (one shuffle: each tile emits its 4 border strips keyed by the
    neighbor's (x0, y0); the receiving tile pads its array before
    np.gradient and crops after) so tile borders get true central
    differences instead of one-sided ones — the cross-tile halo round 1
    left as future work.  Requires equal-sized grid-aligned tiles."""
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in tiles.schema.fields)
    if not halo:
        def kernel0(batches: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out = pdf.copy()
                grads = []
                for i in range(len(pdf)):
                    n = int(pdf["nx"].iloc[i])
                    m = int(pdf["ny"].iloc[i])
                    res = float(pdf["res"].iloc[i])
                    v = np.asarray(pdf["values"].iloc[i],
                                   dtype=np.float64).reshape(m, n)
                    gy, gx = np.gradient(v, res)
                    grads.append(np.hypot(gx, gy).ravel().tolist())
                out["values"] = grads
                yield out

        return tiles.mapInPandas(kernel0, schema=schema)

    # halo strips: for each of the 4 edge neighbors, ship the adjacent
    # 1-pixel row/col keyed by the NEIGHBOR's origin (pure JVM routing)
    t = tiles.withColumn("__w", F.col("nx") * F.col("res")) \
             .withColumn("__h", F.col("ny") * F.col("res"))
    strips = None
    for side, dx, dy in (("left", -1, 0), ("right", 1, 0),
                         ("down", 0, -1), ("up", 0, 1)):
        sel = (t.select(
            (F.col("x0") + dx * F.col("__w")).alias("nx0"),
            (F.col("y0") + dy * F.col("__h")).alias("ny0"),
            F.lit(side).alias("side"), "nx", "ny", "values"))
        strips = sel if strips is None else strips.unionByName(sel)

    def strip_kernel(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
        # cut the 1-pixel strip FACING the neighbor (side = where the
        # neighbor sits relative to the sender)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for i in range(len(pdf)):
                n = int(pdf["nx"].iloc[i])
                m = int(pdf["ny"].iloc[i])
                v = np.asarray(pdf["values"].iloc[i],
                               dtype=np.float64).reshape(m, n)
                side = pdf["side"].iloc[i]
                if side == "left":
                    strip = v[:, 0]     # sender's left col -> neighbor's right pad
                elif side == "right":
                    strip = v[:, -1]
                elif side == "down":
                    strip = v[0, :]
                else:
                    strip = v[-1, :]
                rows.append((float(pdf["nx0"].iloc[i]),
                             float(pdf["ny0"].iloc[i]), side,
                             strip.tolist()))
            if rows:
                yield pd.DataFrame(rows, columns=["x0", "y0", "side",
                                                  "strip"])

    halo_df = strips.mapInPandas(
        strip_kernel,
        schema="x0 double, y0 double, side string, strip array<double>") \
        .groupBy("x0", "y0") \
        .agg(F.map_from_entries(F.collect_list(
            F.struct("side", "strip"))).alias("__halo"))
    joined = tiles.join(halo_df, ["x0", "y0"], "left")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            grads = []
            for i in range(len(pdf)):
                n = int(pdf["nx"].iloc[i])
                m = int(pdf["ny"].iloc[i])
                res = float(pdf["res"].iloc[i])
                v = np.asarray(pdf["values"].iloc[i],
                               dtype=np.float64).reshape(m, n)
                h = pdf["__halo"].iloc[i]
                h = dict(h) if h is not None else {}
                # pad with neighbor strips where available (sender 'left'
                # strip came from the tile to our RIGHT, etc.)
                pl = np.asarray(h.get("right"), dtype=np.float64) \
                    if h.get("right") is not None else None
                pr = np.asarray(h.get("left"), dtype=np.float64) \
                    if h.get("left") is not None else None
                pb = np.asarray(h.get("up"), dtype=np.float64) \
                    if h.get("up") is not None else None
                pt = np.asarray(h.get("down"), dtype=np.float64) \
                    if h.get("down") is not None else None
                a = v
                l_off = r_off = b_off = t_off = 0
                if pl is not None and len(pl) == m:
                    a = np.hstack([pl[:, None], a]); l_off = 1
                if pr is not None and len(pr) == m:
                    a = np.hstack([a, pr[:, None]]); r_off = 1
                w = a.shape[1]
                if pb is not None and len(pb) == n:
                    row = np.full(w, np.nan)
                    row[l_off:l_off + n] = pb
                    a = np.vstack([row[None, :], a]); b_off = 1
                if pt is not None and len(pt) == n:
                    row = np.full(w, np.nan)
                    row[l_off:l_off + n] = pt
                    a = np.vstack([a, row[None, :]]); t_off = 1
                gy, gx = np.gradient(a, res)
                g = np.hypot(gx, gy)[b_off:b_off + m, l_off:l_off + n]
                # corners adjacent to NaN pads: recompute from the un-padded
                # interior to stay deterministic
                bad = ~np.isfinite(g)
                if bad.any():
                    gy0, gx0 = np.gradient(v, res)
                    g0 = np.hypot(gx0, gy0)
                    g[bad] = g0[bad]
                grads.append(g.ravel().tolist())
            out = pdf.drop(columns=["__halo"]).copy()
            out["values"] = grads
            yield out

    return joined.mapInPandas(kernel, schema=schema)


def _binary_square_morph(a: np.ndarray, d: int, dilate: bool) -> np.ndarray:
    """Binary dilation/erosion with a (2d+1)^2 square structuring element —
    separable sliding OR/AND along rows then columns, no scipy.  Outside
    the array counts as 0, matching scipy.ndimage's border_value=0 default
    (the reference's array_buffer, image_collection.py:3508-3535)."""
    x = a.astype(bool)
    if not dilate:
        x = ~x  # erosion by duality, but outside must stay 0 (eroded):
    for axis in (0, 1):
        acc = x.copy()
        for s in range(1, d + 1):
            sh = np.zeros_like(x)
            src = [slice(None)] * 2
            dst = [slice(None)] * 2
            src[axis] = slice(s, None)
            dst[axis] = slice(None, -s)
            sh[tuple(dst)] = x[tuple(src)]
            acc |= sh
            sh = np.zeros_like(x)
            src[axis] = slice(None, -s)
            dst[axis] = slice(s, None)
            sh[tuple(dst)] = x[tuple(src)]
            acc |= sh
        x = acc
    if not dilate:
        # duality gives OR of complement = NOT(AND of original); outside
        # was treated as complement=0 i.e. original=1 — but scipy erosion
        # treats outside as 0 (eroded), so force a d-wide border erase
        x = ~x
        m, n = x.shape
        k = min(d, m)
        x[:k, :] = False
        x[-k:, :] = False
        k = min(d, n)
        x[:, :k] = False
        x[:, -k:] = False
    return x


def band_buffer(tiles: DataFrame, distance: int) -> DataFrame:
    """Buffer the 1-cells of BINARY band tiles by `distance` array cells
    (reference `Band.buffer` / `array_buffer`,
    image_collection.py:1288-1300, 3508-3535: square structuring element,
    positive = dilation, negative = erosion).  Raises on non-binary
    values, like the reference.  Per tile — the reference operates on one
    Band array; merge_tiles first for stitched-coverage morphology."""
    if distance == 0:
        return tiles
    d = abs(int(distance))
    dilate = distance > 0
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in tiles.schema.fields)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_vals = []
            for i in range(len(pdf)):
                n = int(pdf["nx"].iloc[i])
                m = int(pdf["ny"].iloc[i])
                v = np.asarray(pdf["values"].iloc[i],
                               dtype=np.float64).reshape(m, n)
                if not np.isin(v, (0.0, 1.0)).all():
                    raise ValueError(
                        "Array must be all 0s and 1s or boolean.")
                r = _binary_square_morph(v != 0, d, dilate)
                out_vals.append(r.astype(np.float64).ravel().tolist())
            out = pdf.copy()
            out["values"] = out_vals
            yield out

    return tiles.mapInPandas(kernel, schema=schema)


def merge_tiles(tiles: DataFrame, by: list[str], how: str = "mean"
                ) -> DataFrame:
    """Merge raster tiles that share (by) keys + the same tile_id —
    reference `ImageCollectionGroupBy.merge/merge_by_band`
    (image_collection.py:271-390): element-wise mean/median/max across
    images of the same tile."""
    group = by + ["tile_id", "x0", "y0", "res", "nx", "ny"]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in tiles.schema.fields if f.name in group) + \
        ", values array<double>"

    def merge(key, pdf):
        arrs = np.stack([np.asarray(v, dtype=np.float64)
                         for v in pdf["values"]])
        if how == "mean":
            v = arrs.mean(axis=0)
        elif how == "median":
            v = np.median(arrs, axis=0)
        elif how == "max":
            v = arrs.max(axis=0)
        elif how == "min":
            v = arrs.min(axis=0)
        else:
            raise ValueError(how)
        row = {c: [k] for c, k in zip(group, key)}
        row["values"] = [v.tolist()]
        return pd.DataFrame(row)

    return tiles.groupBy(*group).applyInPandas(merge, schema=schema)


_BAND_FNS = {
    "sqrt": np.sqrt, "log1p": np.log1p, "abs": np.abs, "neg": np.negative,
    "square": np.square, "clip01": lambda v: np.clip(v, 0.0, 1.0),
}


def band_apply(tiles: DataFrame, fn: str, scale: float = 1.0,
               offset: float = 0.0) -> DataFrame:
    """Element-wise transform of every pixel — reference `Band.apply` /
    `Band.buffer(array)` family (image_collection.py:1268-1300).  `fn` is a
    NAMED numpy kernel (no pickled lambdas shipped to executors — the same
    pluggable-kernel seam as the runners, SURVEY §2.12), applied as
    fn(values) * scale + offset."""
    if fn not in _BAND_FNS:
        raise ValueError(f"unknown band fn {fn!r}; one of {list(_BAND_FNS)}")
    f = _BAND_FNS[fn]
    schema = ", ".join(f"`{x.name}` {x.dataType.simpleString()}"
                       for x in tiles.schema.fields)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            out["values"] = [
                (f(np.asarray(v, dtype=np.float64)) * scale + offset).tolist()
                for v in pdf["values"]]
            yield out

    return tiles.mapInPandas(kernel, schema=schema)


def band_clip(tiles: DataFrame, bbox: tuple) -> DataFrame:
    """Windowed read — reference `Band.clip`/`Band.load`
    (image_collection.py:1029-1198): tiles outside the bbox are PRUNED at
    the scan (JVM predicate on tile extents); intersecting tiles are
    cropped to the window (pixel-exact) in one Arrow pass."""
    x0, y0, x1, y1 = [float(v) for v in bbox]
    t = tiles.where((F.col("x0") < x1) & (F.col("x0") + F.col("nx") * F.col("res") > x0) &
                    (F.col("y0") < y1) & (F.col("y0") + F.col("ny") * F.col("res") > y0))
    schema = ", ".join(f"`{x.name}` {x.dataType.simpleString()}"
                       for x in tiles.schema.fields)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for i in range(len(pdf)):
                n = int(pdf["nx"].iloc[i])
                m = int(pdf["ny"].iloc[i])
                res = float(pdf["res"].iloc[i])
                tx0 = float(pdf["x0"].iloc[i])
                ty0 = float(pdf["y0"].iloc[i])
                v = np.asarray(pdf["values"].iloc[i],
                               dtype=np.float64).reshape(m, n)
                c0 = max(int(np.floor((x0 - tx0) / res)), 0)
                c1 = min(int(np.ceil((x1 - tx0) / res)), n)
                r0 = max(int(np.floor((y0 - ty0) / res)), 0)
                r1 = min(int(np.ceil((y1 - ty0) / res)), m)
                if c1 <= c0 or r1 <= r0:
                    continue
                sub = v[r0:r1, c0:c1]
                rows.append((pdf["tile_id"].iloc[i], tx0 + c0 * res,
                             ty0 + r0 * res, res, c1 - c0, r1 - r0,
                             sub.ravel().tolist()))
            if rows:
                yield pd.DataFrame(rows, columns=["tile_id", "x0", "y0",
                                                  "res", "nx", "ny",
                                                  "values"])

    return t.mapInPandas(kernel, schema=schema)


def band_sample(tiles: DataFrame, n_per_tile: int, seed: int = 42
                ) -> DataFrame:
    """Deterministic pixel sample per tile — reference `Band.sample`
    (image_collection.py:1268-1300).  Sampling uses a splitmix-style hash
    of (tile_id, k) so results are partitioning-independent."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(len(pdf)):
                n = int(pdf["nx"].iloc[i])
                m = int(pdf["ny"].iloc[i])
                res = float(pdf["res"].iloc[i])
                tx0 = float(pdf["x0"].iloc[i])
                ty0 = float(pdf["y0"].iloc[i])
                vals = np.asarray(pdf["values"].iloc[i], dtype=np.float64)
                tid = pdf["tile_id"].iloc[i]
                h = np.uint64(hash(tid) & 0x7FFFFFFF) + np.uint64(seed)
                k = np.arange(min(n_per_tile, n * m), dtype=np.uint64)
                z = (h + k) * np.uint64(0x9E3779B97F4A7C15)
                z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                idx = (z % np.uint64(n * m)).astype(np.int64)
                yield pd.DataFrame({
                    "tile_id": tid,
                    "x": tx0 + (idx % n + 0.5) * res,
                    "y": ty0 + (idx // n + 0.5) * res,
                    "value": vals[idx]})

    return tiles.mapInPandas(
        kernel, schema="tile_id string, x double, y double, value double")


def pixelwise(bands: dict[str, DataFrame], expr: str) -> DataFrame:
    """Pixel-aligned computation over multiple band tables — reference
    `PixelwiseResults` (image_collection.py:153-268).  Bands join on
    (tile_id, x0, y0, res, nx, ny); `expr` is a SQL expression over
    `zip_with`-style element arithmetic expressed with named band columns,
    evaluated JVM-side with higher-order functions.

    Example: ndvi = pixelwise({'nir': nir, 'red': red},
        'zip_with(nir, red, (a, b) -> (a - b) / nullif(a + b, 0)) ')."""
    keys = ["tile_id", "x0", "y0", "res", "nx", "ny"]
    out = None
    for name, df in bands.items():
        d = df.select(*keys, F.col("values").alias(name))
        out = d if out is None else out.join(d, keys)
    return out.select(*keys, F.expr(expr).alias("values"))


def ndvi(nir: DataFrame, red: DataFrame) -> DataFrame:
    """NDVI index tiles (reference image_collection.py:1029-1300 indices):
    (nir - red) / (nir + red), JVM-side zip_with, 0 where the sum is 0."""
    return pixelwise(
        {"nir": nir, "red": red},
        "zip_with(nir, red, (a, b) -> CASE WHEN a + b = 0 THEN 0.0D "
        "ELSE (a - b) / (a + b) END)")


def raster_to_points(tiles: DataFrame) -> DataFrame:
    """`Band.to_geopandas` analogue: one row per pixel (x, y, value)."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(len(pdf)):
                n = int(pdf["nx"].iloc[i])
                m = int(pdf["ny"].iloc[i])
                res = float(pdf["res"].iloc[i])
                x0 = float(pdf["x0"].iloc[i])
                y0 = float(pdf["y0"].iloc[i])
                vals = np.asarray(pdf["values"].iloc[i], dtype=np.float64)
                px = x0 + (np.arange(n) + 0.5) * res
                py = y0 + (np.arange(m) + 0.5) * res
                yield pd.DataFrame({
                    "tile_id": pdf["tile_id"].iloc[i],
                    "x": np.broadcast_to(px[None, :], (m, n)).ravel(),
                    "y": np.broadcast_to(py[:, None], (m, n)).ravel(),
                    "value": vals})

    return tiles.mapInPandas(
        kernel, schema="tile_id string, x double, y double, value double")
