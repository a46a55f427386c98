"""IO + geometry-side-table extraction.

Implements the ingestion contract of SURVEY.md §M1: the document row (with
its `spans` array) is NEVER exploded in place — geometry work happens on a
derived side table keyed by (doc_id, span_pos), and results join back to
intact document rows, which is how the span-sequence invariant (kind, text,
media_ref, order byte-equality) survives every shuffle
(BASELINE.json `input_hint`; SURVEY.md §7.4 item 7).

Reference scan analogues: read_geopandas/write_geopandas
(`/root/reference/src/sgis/io/dapla_functions.py:54-171,529-800`) — here
plain `spark.read.parquet` plus bbox stats columns (minx..maxy) which give
Parquet min/max file pruning the same power as the reference's file-level
bbox pruning (`dapla_functions.py:292-295`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .geom.wkb import from_wkt, to_wkb

GEOM_COLS = ["geometry", "minx", "miny", "maxx", "maxy"]


def read_table(spark, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def extract_geometries(docs: DataFrame) -> DataFrame:
    """documents -> geometry side table.

    Input:  (doc_id, doc_index?, spans array<struct<kind,text,media_ref,offset>>)
    Output: (doc_id, span_pos, geometry binary WKB, minx, miny, maxx, maxy,
             geom_kind string)

    Only spans with kind='media' AND media_ref LIKE 'geo:%' yield rows
    (other media pass through untouched per FIXTURES.md §F1).  The explode +
    filter is JVM-side; WKT parsing + bbox is one Arrow-batched kernel.
    """
    id_cols = [c for c in ("doc_id", "doc_index") if c in docs.columns]
    exploded = (
        docs.select(*id_cols, F.posexplode("spans").alias("span_pos", "span"))
        .where((F.col("span.kind") == "media") &
               F.col("span.media_ref").startswith("geo:"))
        .select(*id_cols, "span_pos",
                F.expr("substring(span.media_ref, 5)").alias("wkt"))
    )

    out_schema = ", ".join([f"{c} string" if c == "doc_id" else f"{c} long"
                            for c in id_cols]) + \
        (", span_pos int, geometry binary, minx double, miny double, "
         "maxx double, maxy double, geom_kind string")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .geom.array import FAMILY_OF
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkt(pdf["wkt"].tolist())
            b = ga.bounds()
            kinds = [FAMILY_OF.get(int(k), "point") for k in ga.kinds]
            out = pdf[id_cols + ["span_pos"]].copy()
            out["geometry"] = to_wkb(ga)
            out["minx"] = b[:, 0]
            out["miny"] = b[:, 1]
            out["maxx"] = b[:, 2]
            out["maxy"] = b[:, 3]
            out["geom_kind"] = kinds
            yield out

    return exploded.mapInPandas(kernel, schema=out_schema)


BOUNDS = ("minx", "miny", "maxx", "maxy")
BOUNDS_DDL = dict.fromkeys(BOUNDS, "double")


def map_geoms(df: DataFrame, fn, add: dict | None = None, *,
              geometry: str | None = "geometry", drop=()) -> DataFrame:
    """The engine's one row-wise Arrow mapper.  Per non-empty batch it
    decodes the `geometry` WKB column once (`geometry=None`: no decode,
    `fn` gets None) and calls `fn(ga, pdf) -> (idx, cols)`:

      idx   None keeps every row; a boolean mask drops rows; an integer
            array selects source rows, repeats exploding them;
      cols  {name: values aligned with the output rows}: a pass-through
            name is replaced in place, a name in `add` is appended.

    Output DDL = the input schema minus `drop` and minus the names in
    `add` (which move to the end), plus `add` ({name: Spark type}).  Kept
    rows are gathered by numpy indexing; batches that keep no row emit
    nothing."""
    add = dict(add or {})
    keep = [f for f in df.schema.fields
            if f.name not in add and f.name not in drop]
    names = [f.name for f in keep] + list(add)
    schema = ", ".join([f"`{f.name}` {f.dataType.simpleString()}"
                        for f in keep] + [f"`{c}` {t}" for c, t in add.items()])
    gone = [c for c in df.columns if c in add or c in drop]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .geom.wkb import from_wkb
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf[geometry].tolist()) if geometry else None
            idx, cols = fn(ga, pdf)
            out = pdf.drop(columns=gone) if gone else pdf
            if idx is not None:
                idx = np.asarray(idx)
                out = out.take(np.flatnonzero(idx) if idx.dtype == bool
                               else idx.astype(np.int64))
                if len(out) == 0:
                    continue
            for c, v in cols.items():
                out[c] = v.to_numpy() if isinstance(v, pd.Series) else v
            yield out if list(out.columns) == names else out[names]

    kernel.__name__ = getattr(fn, "__name__", "kernel")
    return df.mapInPandas(kernel, schema=schema)


def bounds_cols(ga) -> dict:
    """{minx, miny, maxx, maxy: arrays} of a GeomArray's bboxes."""
    return dict(zip(BOUNDS, ga.bounds().T))


def _bounds(ga, pdf):
    return None, bounds_cols(ga)


def with_bounds(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Attach (minx,miny,maxx,maxy) computed from a WKB column in one
    Arrow-batched pass — the engine's bbox stats used for cell cover,
    short-circuits, and Parquet min/max pruning at rest."""
    return map_geoms(df, _bounds, BOUNDS_DDL, geometry=geometry)


def wkt_to_wkb_df(df: DataFrame, wkt_col: str = "geometry_wkt",
                  out_col: str = "geometry", drop_wkt: bool = True,
                  bounds: bool = True) -> DataFrame:
    """Parse a WKT column into WKB (+ bbox columns)."""
    def parse_wkt(_, pdf):
        ga = from_wkt(pdf[wkt_col].tolist())
        return None, {out_col: to_wkb(ga),
                      **(bounds_cols(ga) if bounds else {})}

    return map_geoms(df, parse_wkt,
                     {out_col: "binary", **(BOUNDS_DDL if bounds else {})},
                     geometry=None, drop=(wkt_col,) if drop_wkt else ())


def total_bounds(df: DataFrame) -> tuple[float, float, float, float]:
    """Combined bbox (reference `get_total_bounds`, bounds.py:682-705)."""
    row = df.agg(F.min("minx"), F.min("miny"), F.max("maxx"), F.max("maxy")).first()
    return tuple(row)


_FILTER_OPS = {"==": "=", "=": "=", "!=": "!=", "<": "<", "<=": "<=",
               ">": ">", ">=": ">=", "in": "in", "not in": "not in"}


def filters_to_expr(filters) -> F.Column:
    """Translate pyarrow-style `[(col, op, val), ...]` (AND list) or
    `[[...], [...]]` (OR of AND lists) into ONE Catalyst Column — reference
    `_filters_to_expression` (io/dapla_functions.py:810-867).  Catalyst then
    pushes it into the scan (predicate pushdown + partition pruning), which
    is the whole point of the reference helper."""
    def one(t):
        col, op, val = t
        c = F.col(col)
        if op in ("in", "not in"):
            e = c.isin(list(val))
            return ~e if op == "not in" else e
        return {"=": c == val, "==": c == val, "!=": c != val,
                "<": c < val, "<=": c <= val,
                ">": c > val, ">=": c >= val}[op]

    if not filters:
        return F.lit(True)
    if isinstance(filters[0], tuple) or (isinstance(filters[0], list) and
                                         len(filters[0]) == 3 and
                                         isinstance(filters[0][0], str)):
        groups = [filters]
    else:
        groups = filters
    out = None
    for grp in groups:
        e = None
        for t in grp:
            e = one(t) if e is None else (e & one(t))
        out = e if out is None else (out | e)
    return out


def read_geopandas(spark, paths, *, mask=None, filters=None,
                   columns=None, partition_grid=None) -> DataFrame:
    """Reference `read_geopandas` (io/dapla_functions.py:54-171) on Spark:
    one or many (geo)parquet paths, with

      mask          (minx, miny, maxx, maxy) bbox — becomes a filter on the
                    bbox stats columns, which Parquet min/max row-group
                    pruning evaluates BEFORE decoding pages (the engine's
                    twin of the reference's file-level bbox pruning);
      filters       pyarrow-style tuple filters -> Catalyst pushdown;
      columns       projection (column pruning reaches the scan);
      partition_grid  (column, gridsize[, max_extent]) of a hive partition
                    layout written by write_geoparquet(partition_cols=
                    [column]) — the mask additionally prunes whole partition
                    DIRECTORIES via a range predicate on that column.  The
                    partition column is derived from each row's MINX, so a
                    wide geometry whose minx falls below the mask lives in a
                    lower band: pass max_extent = the largest geometry width
                    in the layer and the lower bound is widened by it
                    (round-2 advice).  The default max_extent=0 is only safe
                    for point layers / extent-bounded partitioning.
    """
    paths = [paths] if isinstance(paths, str) else list(paths)
    df = spark.read.parquet(*paths)
    if filters:
        df = df.where(filters_to_expr(filters))
    if mask is not None:
        mx0, my0, mx1, my1 = [float(v) for v in mask]
        df = df.where((F.col("minx") <= mx1) & (F.col("maxx") >= mx0) &
                      (F.col("miny") <= my1) & (F.col("maxy") >= my0))
        if partition_grid is not None:
            pcol, g, *rest = partition_grid
            margin = float(rest[0]) if rest else 0.0
            lo = int(np.floor((mx0 - margin) / float(g)))
            hi = int(np.floor(mx1 / float(g)))
            df = df.where(F.col(pcol).between(lo, hi))
    if columns:
        df = df.select(*columns)
    return df


def get_bounds_series(spark, paths) -> pd.DataFrame:
    """Per-FILE bbox of (geo)parquet datasets — reference
    `get_bounds_series` (io/dapla_functions.py:433-527).  Scans only the
    four bbox stats columns (column pruning) grouped by input file; returns
    a pandas frame (file, minx, miny, maxx, maxy), driver-side like the
    reference's GeoSeries."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    df = spark.read.parquet(*paths).select(
        F.input_file_name().alias("file"), "minx", "miny", "maxx", "maxy")
    out = (df.groupBy("file")
           .agg(F.min("minx").alias("minx"), F.min("miny").alias("miny"),
                F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"))
           .orderBy("file"))
    return out.toPandas()


def check_files(spark, path_glob: str) -> pd.DataFrame:
    """File listing with size and mtime, sorted by mtime desc — reference
    `check_files` (io/dapla_functions.py:1043-1108), via the Hadoop FS API
    (works for any configured filesystem, not just local)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = p.getFileSystem(conf)
    statuses = fs.globStatus(p)
    rows = []
    if statuses is not None:
        for st in statuses:
            rows.append((st.getPath().toString(), int(st.getLen()),
                         int(st.getModificationTime())))
    return pd.DataFrame(rows, columns=["path", "size_bytes", "mtime_ms"]) \
        .sort_values("mtime_ms", ascending=False).reset_index(drop=True)


def read_parquet_url(spark, url: str) -> DataFrame:
    """GET a parquet file over HTTP into a DataFrame — reference
    `read_parquet_url` (io/read_parquet.py:8-60).  Downloads to a local
    temp file on the driver then scans it (no network in this sandbox;
    exercised by reading file:// URLs in tests)."""
    import tempfile
    import urllib.request
    if url.startswith("file://"):
        return spark.read.parquet(url)
    tmp = tempfile.NamedTemporaryFile(suffix=".parquet", delete=False)
    with urllib.request.urlopen(url) as r:  # pragma: no cover (no network)
        tmp.write(r.read())
    tmp.close()
    return spark.read.parquet(tmp.name)


def write_bucketed(df: DataFrame, table: str, buckets: int, *,
                   key: str = "cell_key", sort_cols: list[str] | None = None,
                   path: str | None = None) -> None:
    """Bucketed storage for CO-LOCATED cell joins (the 100TB lever: two
    layers bucketed by cell_key with the same bucket count join with NO
    shuffle exchange — each task reads matching buckets of both sides).
    Compute the key first (tiling.add_cell_key) so it exists at rest."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    w = w.sortBy(*(sort_cols or [key]))
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def read_bucketed(spark, table: str) -> DataFrame:
    """Read a bucketed table; joins on the bucket key skip the shuffle."""
    return spark.table(table)


def write_geoparquet(df: DataFrame, path: str, partition_cols: list[str] | None = None,
                     mode: str = "overwrite") -> None:
    """Reference `write_geopandas` (dapla_functions.py:529-800): parquet with
    bbox stats columns present so scans prune by min/max; optional hive
    partitioning by e.g. a coarse cell column."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)
