"""Dissolve family — buffer / dissolve / explode aggregations.

Reference: `_dissolve`, `diss`, `dissexp`, `buff`, `buffdiss`, `buffdissexp`
and the `_by_cluster` variants
(`/root/reference/src/sgis/geopandas_tools/buffer_dissolve_explode.py`).

Spark mapping (SURVEY.md §2.6): `groupBy(by).agg(first(attr)...)` for
attribute columns (the reference's default aggfunc="first", made
deterministic via an explicit order rank — SURVEY §7.4 item 2) plus a
geometry-union performed in `applyInPandas` with the pure-numpy polygon
boolean kernel.  One-hit groups skip the union entirely (reference O7,
`buffer_dissolve_explode.py:221-246`).

`dissexp_by_cluster` (reference O9) is the scale path: connected-component
labels bound union groups to actually-overlapping polygons, so no giant
union ever forms; asserted equal to plain dissexp
(tests/test_xbuffdissexp.py:72-75).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .geom.array import MULTIPOLYGON, POLYGON, from_rings
from .geom.buffer import buffer as buffer_kernel
from .geom.clip import union_many
from .geom.wkb import from_wkb, to_wkb
from .io import BOUNDS, bounds_cols, map_geoms


def buff(df: DataFrame, distance: float, *, quad_segs: int = 30,
         geometry: str = "geometry") -> DataFrame:
    """Vectorized buffer (`buff`, buffer_dissolve_explode.py:523-558).
    Updates geometry and bbox columns in one Arrow pass."""
    has_bounds = [c for c in BOUNDS if c in df.columns]

    def buffer(ga, pdf):
        out_ga = buffer_kernel(ga, distance, quad_segs=quad_segs)
        b = bounds_cols(out_ga)
        return None, {geometry: to_wkb(out_ga),
                      **{c: b[c] for c in has_bounds}}

    return map_geoms(df, buffer, geometry=geometry)


def _union_group_wkb(blobs: list[bytes]) -> bytes:
    """Union a group's polygon WKBs into one (Multi)Polygon WKB."""
    ga = from_wkb(blobs)
    parts: list[list[np.ndarray]] = []
    for g in range(len(ga)):
        p0, p1 = ga.geom_offsets[g], ga.geom_offsets[g + 1]
        for p in range(p0, p1):
            r0, r1 = ga.part_offsets[p], ga.part_offsets[p + 1]
            rings = [ga.coords[ga.ring_offsets[r]:ga.ring_offsets[r + 1]]
                     for r in range(r0, r1)]
            parts.append(rings)
    merged = union_many(parts)
    if len(merged) == 1:
        out = from_rings([[merged[0]]], [POLYGON])
    else:
        out = from_rings([merged], [MULTIPOLYGON])
    return to_wkb(out)[0]


def diss(df: DataFrame, by: list[str] | None = None, *,
         geometry: str = "geometry",
         aggfunc: str = "first",
         order_col: str | None = None) -> DataFrame:
    """Dissolve (`_dissolve`/`diss`, buffer_dissolve_explode.py:188-353).

    Attribute columns aggregate with `aggfunc` ("first"/"sum"/"min"/"max"/
    "mean"/"count"); "first" is made deterministic by `order_col` (min_by) —
    SURVEY §7.4 item 2.  Geometry unions per group via the numpy boolean
    kernel; groups of size 1 bypass the union (reference O7).
    """
    by = list(by or [])
    attr_cols = [c for c in df.columns
                 if c not in by + [geometry, "minx", "miny", "maxx", "maxy"]]
    key_cols = by if by else ["__all"]
    work = df if by else df.withColumn("__all", F.lit(0))

    # deterministic attribute aggregation
    aggs = []
    for c in attr_cols:
        if aggfunc == "first":
            if order_col and order_col in df.columns and c != order_col:
                aggs.append(F.expr(f"min_by(`{c}`, `{order_col}`)").alias(c))
            else:
                aggs.append(F.min(c).alias(c))  # order-free determinism
        elif aggfunc in ("sum", "min", "max", "mean", "count"):
            aggs.append(getattr(F, aggfunc if aggfunc != "mean" else "avg")(c).alias(c))
        else:
            raise ValueError(f"aggfunc {aggfunc} not supported")
    attrs = work.groupBy(*key_cols).agg(*aggs) if aggs else \
        work.select(*key_cols).distinct()

    from .conf import get_runner
    union_runner = get_runner("union_runner", _union_group_wkb)

    geo_in = work.select(*key_cols, geometry)
    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in work.schema.fields if f.name in key_cols)
    out_schema = key_schema + ", geometry binary"

    # TWO-PHASE union: partial per-partition unions first (map-side
    # combine for geometry — the reference's chunk-parallel UnionRunner,
    # runners.py:50-120, re-expressed), then the final per-group union
    # over far fewer, pre-merged parts.  Bounds the largest single union.
    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for key, sub in pdf.groupby(key_cols, dropna=False, sort=False):
                key = key if isinstance(key, tuple) else (key,)
                blobs = sub[geometry].tolist()
                wkb = blobs[0] if len(blobs) == 1 else union_runner(blobs)
                rows.append((*key, wkb))
            yield pd.DataFrame(rows, columns=key_cols + ["geometry"])

    pre = geo_in.mapInPandas(partial, schema=out_schema)

    def union_group(key, pdf):
        blobs = pdf[geometry].tolist()
        wkb = blobs[0] if len(blobs) == 1 else union_runner(blobs)
        row = {k: [v] for k, v in zip(key_cols, key)}
        row["geometry"] = [wkb]
        return pd.DataFrame(row)

    geo = pre.groupBy(*key_cols).applyInPandas(union_group, schema=out_schema)
    out = geo.join(attrs, key_cols, "inner") if aggs else geo
    if not by:
        out = out.drop("__all")
    return out


# kind-code -> singlepart kind-code lookup (index = WKB type 0..6)
_SINGLE_OF = np.array([0, 1, 2, 3, 1, 2, 3], dtype=np.int8)


def explode_parts(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Multipart -> singlepart rows (`make_all_singlepart`,
    geometry_types.py:12-36 + pandas explode).  GEOMETRYCOLLECTIONs are
    split at the WKB byte level first (rare path), then the multipart
    explode is pure offsets arithmetic: each part of the batch GeomArray
    becomes its own geometry by substituting geom_offsets = arange — no
    per-row Python, no coordinate copies."""

    def explode(_, pdf):
        from .geom.array import GeomArray
        from .geom.wkb import flatten_collections, wkb_gtype
        blobs = pdf[geometry].tolist()
        src0 = None
        if any(wkb_gtype(b) == 7 for b in blobs):
            src0, flat = [], []
            for i, b in enumerate(blobs):
                for c in flatten_collections(b):
                    src0.append(i)
                    flat.append(c)
            blobs = flat
        ga = from_wkb(blobs)
        src = np.repeat(np.arange(len(ga)), np.diff(ga.geom_offsets))
        sub = GeomArray(
            _SINGLE_OF[ga.kinds][src],
            ga.coords, ga.ring_offsets, ga.part_offsets,
            np.arange(len(src) + 1, dtype=np.int64))
        if src0 is not None:
            src = np.asarray(src0, dtype=np.int64)[src]
        return src, {geometry: to_wkb(sub)}

    return map_geoms(df, explode, geometry=None)


def dissexp(df: DataFrame, by: list[str] | None = None, **kw) -> DataFrame:
    """dissolve + explode (`dissexp`, buffer_dissolve_explode.py:265-353)."""
    return explode_parts(diss(df, by, **kw))


def buffdiss(df: DataFrame, distance: float, by: list[str] | None = None,
             *, quad_segs: int = 30, **kw) -> DataFrame:
    return diss(buff(df, distance, quad_segs=quad_segs), by, **kw)


def buffdissexp(df: DataFrame, distance: float, by: list[str] | None = None,
                *, quad_segs: int = 30, **kw) -> DataFrame:
    return dissexp(buff(df, distance, quad_segs=quad_segs), by, **kw)


def dissexp_by_cluster(df: DataFrame, by: list[str] | None = None, *,
                       id_col: str, gridsize: float = 2000.0, **kw) -> DataFrame:
    """`dissexp_by_cluster` (buffer_dissolve_explode.py:356-476): label
    connected (intersecting) polygons first, dissolve by [cluster]+by —
    semantically equal to plain dissexp but with bounded union groups (O9).
    Requires bbox columns and a unique id_col."""
    from .clusters import get_polygon_clusters
    labeled = get_polygon_clusters(df, id_col=id_col, gridsize=gridsize)
    group = ["cluster"] + list(by or [])
    out = dissexp(labeled, group, **kw)
    return out.drop("cluster")


def diss_by_cluster(df: DataFrame, by: list[str] | None = None, *,
                    id_col: str, gridsize: float = 2000.0, **kw) -> DataFrame:
    """`diss_by_cluster` (reference buffer_dissolve_explode.py:386-410):
    like `dissexp_by_cluster` but WITHOUT the final explode — overlapping
    geometries dissolve into (multi)polygons per [cluster (+by)] group,
    with the same bounded-union-group scale property.  The cluster label
    is internal and dropped from the output."""
    from .clusters import get_polygon_clusters
    labeled = get_polygon_clusters(df, id_col=id_col, gridsize=gridsize)
    group = ["cluster"] + list(by or [])
    out = diss(labeled, group, **kw)
    return out.drop("cluster")


def buffdissexp_by_cluster(df: DataFrame, distance: float,
                           by: list[str] | None = None, *,
                           quad_segs: int = 30, id_col: str,
                           gridsize: float = 2000.0, **kw) -> DataFrame:
    """buffer + dissexp_by_cluster (reference
    buffer_dissolve_explode.py:482-520) — the reference's recommended
    dissolve for big layers: buffered geometries cluster by actual
    overlap, so no union group ever exceeds one connected component."""
    return dissexp_by_cluster(buff(df, distance, quad_segs=quad_segs), by,
                              id_col=id_col, gridsize=gridsize, **kw)


def clean_dissexp(df: DataFrame, dissolve_func=None, *,
                  precision: float = 1e-3, **kw) -> DataFrame:
    """Dissolve tiny slivers away (reference `clean_dissexp`,
    polygon_operations.py:993-1050, marked Experimental there and its test
    skipped): expand by `precision`, dissolve, shrink back by `precision`,
    drop emptied rows, explode.  The reference's final snap-back of
    original vertices (a sub-PRECISION cosmetic pass) is omitted — the
    expand/shrink here uses the exact erosion kernel, so surviving
    geometry is within `precision` of the input already."""
    dissolve_func = dissolve_func or dissexp
    grown = buff(df, float(precision), quad_segs=1)
    dissolved = dissolve_func(grown, **kw)
    shrunk = buff(dissolved, -float(precision), quad_segs=1)
    # explode_parts drops rows whose erosion emptied them (0 parts)
    return explode_parts(shrunk)
