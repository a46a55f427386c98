"""Constructors / conversions — the reference's to_gdf surface.

Reference: `to_gdf` and friends (`geopandas_tools/conversion.py:255-528`),
`random_points` / `random_points_in_polygons` (`general.py:422-541`),
`clean_geoms` (`general.py:161-250`), `bounds_to_polygon` /
`bounds_to_points` (`bounds.py:610-679`).

Randomness is counter-based (splitmix64 of (seed, row)) — order-free and
partitioning-independent, the only defensible definition of "random" on a
distributed engine.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .geom.array import from_rings, points as make_points
from .geom.wkb import from_wkb, rect_polygon_wkb, to_wkb
from .io import map_geoms, with_bounds, wkt_to_wkb_df
from .synth import _splitmix64


def df_from_wkt(spark: SparkSession, wkts: list[str],
                ids: list | None = None) -> DataFrame:
    """to_gdf analogue for WKT lists (conversion.py:255-528)."""
    pdf = pd.DataFrame({"row_id": ids if ids is not None
                        else list(range(len(wkts))),
                        "geometry_wkt": wkts})
    return wkt_to_wkb_df(spark.createDataFrame(pdf))


def df_from_xy(spark: SparkSession, xs, ys, ids=None) -> DataFrame:
    pdf = pd.DataFrame({"row_id": ids if ids is not None
                        else list(range(len(xs))),
                        "x": np.asarray(xs, float), "y": np.asarray(ys, float)})
    ga = make_points(np.stack([pdf.x, pdf.y], axis=1))
    pdf["geometry"] = to_wkb(ga)
    pdf["minx"] = pdf.x
    pdf["miny"] = pdf.y
    pdf["maxx"] = pdf.x
    pdf["maxy"] = pdf.y
    return spark.createDataFrame(pdf)


def to_gdf(spark: SparkSession, data, ids=None) -> DataFrame:
    """Universal constructor (reference to_gdf, conversion.py:255-528):
    accepts a list of WKT strings, WKB bytes, (x, y) tuples, a dict
    {id: wkt}, or a GeoJSON-ish dict list ({'type','coordinates'}).
    Returns (row_id, geometry, minx..maxy)."""
    if isinstance(data, dict):
        ids = list(data.keys())
        data = list(data.values())
    data = list(data)
    if not data:
        raise ValueError("to_gdf: empty input")
    first = data[0]
    if isinstance(first, str):
        return df_from_wkt(spark, data, ids)
    if isinstance(first, (bytes, bytearray)):
        pdf = pd.DataFrame({"row_id": ids if ids is not None
                            else list(range(len(data))),
                            "geometry": data})
        return with_bounds(spark.createDataFrame(pdf))
    if isinstance(first, dict) and "type" in first:
        wkts = [_geojson_to_wkt(d) for d in data]
        return df_from_wkt(spark, wkts, ids)
    if hasattr(first, "__len__") and len(first) == 2:
        xs = [float(p[0]) for p in data]
        ys = [float(p[1]) for p in data]
        return df_from_xy(spark, xs, ys, ids)
    raise TypeError(f"to_gdf: unsupported element type {type(first)}")


def _geojson_to_wkt(d: dict) -> str:
    t = d["type"].upper()
    c = d["coordinates"]
    if t == "POINT":
        return f"POINT ({c[0]} {c[1]})"
    if t == "LINESTRING":
        pts = ", ".join(f"{p[0]} {p[1]}" for p in c)
        return f"LINESTRING ({pts})"
    if t == "POLYGON":
        rings = ", ".join(
            "(" + ", ".join(f"{p[0]} {p[1]}" for p in ring) + ")"
            for ring in c)
        return f"POLYGON ({rings})"
    raise ValueError(f"unsupported GeoJSON type {t}")


def bounds_to_points(df: DataFrame) -> DataFrame:
    """Replace geometry by the 4-corner MULTIPOINT of its bbox
    (bounds_to_points, bounds.py:653-679)."""
    from .geom.array import MULTIPOINT

    def corners(_, pdf):
        parts_all = [[np.array([[x0, y0]]), np.array([[x1, y0]]),
                      np.array([[x1, y1]]), np.array([[x0, y1]])]
                     for x0, y0, x1, y1 in zip(pdf.minx, pdf.miny, pdf.maxx,
                                               pdf.maxy)]
        ga = from_rings(parts_all, [MULTIPOINT] * len(pdf))
        return None, {"geometry": to_wkb(ga)}

    return map_geoms(df, corners, geometry=None)


def get_line_segments(df: DataFrame, geometry: str = "geometry"
                      ) -> DataFrame:
    """Explode every LineString into its 2-point segments (reference
    get_line_segments helper); adds `segment_idx`."""
    from .geom.array import LINESTRING

    def segments(ga, pdf):
        src, blobs, sidx = [], [], []
        for g in range(len(ga)):
            for chain in ga.rings_of_geom(g):
                for i in range(len(chain) - 1):
                    src.append(g)
                    blobs.append(to_wkb(from_rings(
                        [[chain[i:i + 2]]], [LINESTRING]))[0])
                    sidx.append(i)
        return src, {geometry: blobs, "segment_idx": sidx}

    return map_geoms(df, segments, {"segment_idx": "int"},
                     geometry=geometry)


def make_lines_between_points(a: DataFrame, b: DataFrame, *,
                              a_id: str, b_id: str) -> DataFrame:
    """LineStrings connecting paired points of two layers joined on id
    (reference make_lines_between_points helper): a and b each carry
    point geometry columns; pairs matched on a_id == b_id."""
    from .geom.array import LINESTRING
    l = a.select(F.col(a_id).alias("__id"), F.col("minx").alias("__ax"),
                 F.col("miny").alias("__ay"))
    r = b.select(F.col(b_id).alias("__id"), F.col("minx").alias("__bx"),
                 F.col("miny").alias("__by"))
    j = l.join(r, "__id")
    id_t = [f.dataType.simpleString() for f in a.schema.fields
            if f.name == a_id][0]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            blobs = []
            for i in range(len(pdf)):
                chain = np.array([[pdf["__ax"].iloc[i], pdf["__ay"].iloc[i]],
                                  [pdf["__bx"].iloc[i], pdf["__by"].iloc[i]]])
                blobs.append(to_wkb(from_rings([[chain]], [LINESTRING]))[0])
            yield pd.DataFrame({a_id: pdf["__id"], "geometry": blobs})

    return j.mapInPandas(kernel, schema=f"{a_id} {id_t}, geometry binary")


def _u01(i: np.ndarray, field: int, seed: int) -> np.ndarray:
    base = i.astype(np.uint64) * np.uint64(2654435761) + \
        np.uint64((field * 0x9E3779B97F4A7C15 + seed) % (1 << 64))
    return (_splitmix64(base) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def random_points(spark: SparkSession, n: int, bounds: tuple,
                  seed: int = 42) -> DataFrame:
    """n uniform points in bounds (random_points, general.py:422-473),
    distributed + deterministic (counter-based)."""
    minx, miny, maxx, maxy = bounds

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            i = pdf["id"].to_numpy()
            x = minx + _u01(i, 1, seed) * (maxx - minx)
            y = miny + _u01(i, 2, seed) * (maxy - miny)
            ga = make_points(np.stack([x, y], axis=1))
            yield pd.DataFrame({"row_id": i, "x": x, "y": y,
                                "geometry": to_wkb(ga),
                                "minx": x, "miny": y, "maxx": x, "maxy": y})

    return spark.range(n).mapInPandas(
        gen, schema="row_id long, x double, y double, geometry binary, "
                    "minx double, miny double, maxx double, maxy double")


def random_points_in_polygons(df: DataFrame, n_per_poly: int, *,
                              seed: int = 42, id_col: str = "row_id",
                              max_tries: int = 64) -> DataFrame:
    """Rejection-sample n points inside each polygon
    (random_points_in_polygons, general.py:499-541) — per-row kernel,
    deterministic per (id, k, try)."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .geom.predicates import points_in_polygon_geom
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf["geometry"].tolist())
            b = ga.bounds()
            out_rows = []
            for g in range(len(ga)):
                need = n_per_poly
                got_x, got_y = [], []
                for t in range(max_tries):
                    if need <= 0:
                        break
                    m = need * 4
                    i = (np.arange(m, dtype=np.uint64) +
                         np.uint64(t * 1_000_003))
                    key = np.uint64(int(pdf[id_col].iloc[g]) % (1 << 32))
                    x = b[g, 0] + _u01(i + key, 3, seed) * (b[g, 2] - b[g, 0])
                    y = b[g, 1] + _u01(i + key, 4, seed) * (b[g, 3] - b[g, 1])
                    ok = points_in_polygon_geom(x, y, ga, g)
                    take = min(int(ok.sum()), need)
                    got_x.extend(x[ok][:take].tolist())
                    got_y.extend(y[ok][:take].tolist())
                    need -= take
                for k, (x, y) in enumerate(zip(got_x, got_y)):
                    out_rows.append((pdf[id_col].iloc[g], k, x, y))
            if out_rows:
                yield pd.DataFrame(out_rows,
                                   columns=[id_col, "pt_idx", "x", "y"])

    id_t = [f.dataType.simpleString() for f in df.schema.fields
            if f.name == id_col][0]
    return df.select(id_col, "geometry").mapInPandas(
        kernel, schema=f"{id_col} {id_t}, pt_idx int, x double, y double")


def clean_geoms(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Drop null/empty geometries, close unclosed rings (clean_geoms,
    general.py:161-250; full GEOS make_valid is out of scope — the boolean
    kernels apply their own perturbation ladder instead)."""
    return map_geoms(df.where(F.col(geometry).isNotNull()),
                     lambda ga, pdf: (ga.coords_count_per_geom() > 0, {}),
                     geometry=geometry)


def bounds_to_polygon(df: DataFrame) -> DataFrame:
    """Replace geometry by its bbox polygon (bounds.py:610-650)."""
    return map_geoms(df, lambda _, pdf: (None, {"geometry": rect_polygon_wkb(
        pdf.minx.to_numpy(), pdf.miny.to_numpy(), pdf.maxx.to_numpy(),
        pdf.maxy.to_numpy())}), geometry=None)


def get_total_bounds(df: DataFrame) -> tuple:
    """get_total_bounds (bounds.py:682-705)."""
    r = df.agg(F.min("minx"), F.min("miny"), F.max("maxx"), F.max("maxy")).first()
    return tuple(r)


def with_centroid(df: DataFrame, geometry: str = "geometry",
                  x_col: str = "cx", y_col: str = "cy") -> DataFrame:
    """Attach centroid coordinate columns (vectorized kernel)."""
    def centroid(ga, pdf):
        c = ga.centroid()
        return None, {x_col: c[:, 0], y_col: c[:, 1]}

    return map_geoms(df, centroid, {x_col: "double", y_col: "double"},
                     geometry=geometry)


def get_grouped_centroids(df: DataFrame, by: list[str], *,
                          label_col: str = "grouped_centroid",
                          geometry: str = "geometry") -> DataFrame:
    """Per-group centroid-of-centroids as a '{x}_{y}' string label, joined
    back onto every row (get_grouped_centroids, general.py:252-285)."""
    cent = with_centroid(df.select(*by, geometry), geometry)
    lab = (cent.groupBy(*by)
           .agg(F.avg("cx").alias("__gx"), F.avg("cy").alias("__gy"))
           .select(*by, F.concat_ws(
               "_", F.col("__gx").cast("bigint").cast("string"),
               F.col("__gy").cast("bigint").cast("string")).alias(label_col)))
    return df.join(lab, by, "left")


def sort_nans_last(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Rows with the most non-null attribute values first (sort_nans_last,
    helpers.py) — adds the null-count as a sortable column and orders by
    it; Spark's order is a total order with the extra tiebreak columns the
    caller supplies downstream."""
    cols = cols or [c for c in df.columns
                    if c not in ("geometry", "minx", "miny", "maxx", "maxy")]
    n_nulls = None
    for c in cols:
        e = F.col(c).isNull().cast("int")
        n_nulls = e if n_nulls is None else (n_nulls + e)
    return df.withColumn("__n_nulls", n_nulls).orderBy(F.col("__n_nulls")) \
             .drop("__n_nulls")


def points_in_bounds(spark, bounds: tuple, spacing: float) -> DataFrame:
    """Regular point grid inside a bbox (points_in_bounds,
    general.py:1124-1148) — pure SQL sequence x sequence, no Python."""
    x0, y0, x1, y1 = [float(v) for v in bounds]
    s = float(spacing)
    nx = int(np.floor((x1 - x0) / s))
    ny = int(np.floor((y1 - y0) / s))
    return (spark.range(nx + 1).selectExpr("id AS ix")
            .crossJoin(spark.range(ny + 1).selectExpr("id AS iy"))
            .selectExpr(f"{x0} + ix * {s} AS x", f"{y0} + iy * {s} AS y"))


def points_in_polygons(polys: DataFrame, spacing: float, *,
                       id_col: str, gridsize: float = 2000.0) -> DataFrame:
    """Point grid clipped to polygons (points_in_polygons,
    general.py:1124-1148): grid over total bounds, then the PIP join."""
    from .joins import sjoin_pairs
    spark = polys.sparkSession
    b = get_total_bounds(polys)
    # pt_id from the INTEGER grid indices (ix * (ny+1) + iy) — collision-free
    # for any spacing; deriving it from truncated coordinates collides for
    # spacing < 1 and breaks sjoin_pairs' unique-id contract (round-2 advice).
    x0, y0, x1, y1 = [float(v) for v in b]
    s = float(spacing)
    ny = int(np.floor((y1 - y0) / s))
    pts = points_in_bounds(spark, b, spacing) \
        .withColumn("__ix", F.expr(f"cast(round((x - {x0}) / {s}) as bigint)")) \
        .withColumn("__iy", F.expr(f"cast(round((y - {y0}) / {s}) as bigint)")) \
        .withColumn("pt_id", F.expr(f"__ix * {ny + 1} + __iy")) \
        .drop("__ix", "__iy")
    pts_g = pts.selectExpr("pt_id", "x AS minx", "y AS miny",
                           "x AS maxx", "y AS maxy")
    # point rows need WKB geometry for the refine kernel
    pts_g = map_geoms(pts_g, lambda _, pdf: (None, {"geometry": to_wkb(
        make_points(np.stack([pdf["minx"].to_numpy(),
                              pdf["miny"].to_numpy()], axis=1)))}),
        {"geometry": "binary"}, geometry=None)
    pairs = sjoin_pairs(pts_g, polys, "within", left_id="pt_id",
                        right_id=id_col, gridsize=gridsize)
    return pts.join(pairs, "pt_id").select("x", "y", id_col)


def sort_long_first(df: DataFrame, geometry: str = "geometry",
                    ascending: bool = False) -> DataFrame:
    """orderBy line length (sort_long_first / sort_short_first,
    general.py:287-393): adds `length_col` then sorts."""
    out = map_geoms(df, lambda ga, pdf: (None, {"length_col": ga.length()}),
                    {"length_col": "double"}, geometry=geometry)
    order = F.col("length_col").asc() if ascending \
        else F.col("length_col").desc()
    return out.orderBy(order)


def sort_short_first(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    return sort_long_first(df, geometry, ascending=True)


def sort_large_first(df: DataFrame, geometry: str = "geometry",
                     ascending: bool = False) -> DataFrame:
    """orderBy polygon area, descending (reference `sort_large_first`,
    general.py:287-344): adds `area_col` then sorts — the priority-setting
    preamble to update_geometries/coverage cleaning."""
    from .polygon_ops import area_col
    out = area_col(df, geometry, out_col="area_col")
    order = F.col("area_col").asc() if ascending else F.col("area_col").desc()
    return out.orderBy(order)


def sort_small_first(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """reference `sort_small_first` (general.py:375-393)."""
    return sort_large_first(df, geometry, ascending=True)


# Mainland-Norway boundary polygons (EPSG:25833) — geographic DATA
# constants reproduced from the reference preset (general.py:474-519)
# so `random_points_norway` samples the same region.
_NORWAY_WKT = (
    "POLYGON ((219870 6914350, 219869 6914350, 219868 6914351, 219867 6914351, 194827 6928565, 194826 6928566, 193100 6929790, 193099 6929790, 193098 6929791, 193098 6929792, 193097 6929793, 157353 7006877, 157353 7006878, 154402 7017846, 154402 7017847, 154392 7017923, 154392 7017924, 154392 7017925, 154392 7017926, 166616 7077346, 166617 7077347, 169164 7087256, 169165 7087257, 170277 7089848, 173146 7096147, 173147 7096148, 174684 7098179, 174685 7098180, 314514 7253805, 314515 7253805, 314515 7253806, 314516 7253806, 314517 7253807, 314518 7253807, 314519 7253808, 314520 7253808, 314521 7253808, 314522 7253808, 314523 7253808, 314524 7253808, 332374.8847495829 7250200.016409928, 327615 7280207, 327615 7280208, 327615 7280209, 327615 7280210, 328471 7285637, 364549 7480637, 364549 7480638, 367030 7488919, 367030 7488920, 367045 7488948, 367045 7488949, 367046 7488950, 419493 7560257, 472291 7626092, 506326 7665544, 506327 7665545, 506328 7665546, 541847 7692387, 541848 7692388, 541849 7692388, 541850 7692389, 541851 7692389, 541852 7692389, 545852 7692619, 546265 7692617, 546266 7692617, 546267 7692617, 546268 7692617, 546269 7692616, 546270 7692616, 546270 7692615, 546271 7692615, 546272 7692614, 623027 7613734, 623028 7613733, 623029 7613732, 627609 7605928, 627610 7605928, 627610 7605927, 627610 7605926, 627611 7605925, 627611 7605924, 630573 7568363, 630573 7568362, 630573 7568361, 630573 7568360, 630573 7568359, 628567 7562381, 621356 7542293, 621356 7542292, 468368 7221876.188770507, 468368 7221876, 459071 7119021, 459071 7119020, 459071 7119019, 459070 7119018, 459070 7119017, 454728 7109371, 451784 7102984, 449525 7098307, 357809 6914071, 357808 6914070, 357808 6914069, 357807 6914068, 357806 6914068, 357806 6914067, 357805 6914067, 357804 6914066, 353158 6912240, 353157 6912239, 353156 6912239, 351669 6911974, 351668 6911974, 351667 6911974, 219871 6914350, 219870 6914350))",
    "POLYGON ((546192 7586393, 546191 7586393, 526598 7592425, 526597 7592425, 526596 7592425, 526595 7592426, 526594 7592426, 525831 7593004, 525830 7593005, 525327 7593495, 525326 7593496, 525326 7593497, 525325 7593498, 525325 7593499, 525324 7593500, 525192 7594183, 525192 7594184, 524157 7606517, 524157 7606518, 524157 7606519, 524157 7606520, 524157 7606521, 526235 7613535, 526236 7613536, 559423 7676952, 559424 7676953, 559511 7677088, 579978 7708379, 636963 7792940, 636963 7792941, 636964 7792942, 636965 7792943, 641013 7795664, 823514 7912323, 823515 7912323, 823516 7912323, 882519 7931958, 882520 7931959, 882521 7931959, 953896 7939985, 953897 7939985, 973544 7939988, 973545 7939988, 973546 7939988, 975510 7939467, 1051029 7913762, 1051030 7913762, 1055067 7912225, 1055068 7912224, 1056725 7911491, 1098379 7890321, 1098380 7890320, 1098381 7890320, 1099197 7889670, 1099198 7889669, 1099442 7889429, 1099443 7889429, 1099444 7889428, 1099444 7889427, 1099445 7889426, 1099445 7889425, 1099445 7889424, 1099446 7889423, 1114954 7799458, 1115106 7797736, 1115106 7797735, 1115106 7797734, 1115106 7797733, 1115106 7797732, 1115105 7797731, 1115105 7797730, 1114774 7797199, 1112876 7794451, 1057595 7720320, 1057112 7719702, 1057112 7719701, 1057111 7719701, 1057110 7719700, 1057109 7719699, 902599 7637176, 902598 7637176, 902597 7637175, 902596 7637175, 702394 7590633, 702393 7590633, 702392 7590633, 546193 7586393, 546192 7586393))",
    "POLYGON ((60672 6448410, 60671 6448411, 57185 6448783, 39229 6451077, 39228 6451077, 39227 6451077, 27839 6454916, 27838 6454916, 27808 6454929, 27807 6454929, 8939 6465625, 8938 6465626, 7449 6466699, 7448 6466700, 6876 6467215, 6876 6467216, -31966 6512038, -31968 6512040, -32554 6512779, -32554 6512780, -40259 6524877, -42041 6527698, -42217 6528008, -42546 6528677, -42547 6528678, -77251 6614452, -77252 6614453, -77252 6614454, -77252 6614455, -77252 6614456, -77206 6615751, -77206 6615752, -65669 6811422, -65669 6811423, -65608 6812139, -65608 6812140, -65608 6812141, -50907 6879624, -50907 6879625, -50907 6879626, -50906 6879627, -50889 6879658, -50889 6879659, -16217 6934790, -16217 6934791, -16216 6934792, -2958 6949589, -2957 6949590, 55128 6995098, 144915 7064393, 144915 7064394, 144916 7064395, 144958 7064418, 144959 7064418, 144960 7064418, 144961 7064419, 144962 7064419, 144963 7064419, 150493 7064408, 150494 7064408, 150495 7064408, 150770 7064370, 150771 7064370, 150772 7064370, 188559 7048106, 188560 7048105, 188664 7048054, 188665 7048054, 188666 7048053, 357806 6914084, 357807 6914083, 357808 6914082, 357809 6914081, 357809 6914080, 357810 6914079, 357810 6914078, 359829 6906908, 386160 6804356, 386160 6804355, 386160 6804354, 386160 6804353, 386160 6804352, 386160 6804351, 368140 6699014, 368140 6699013, 363725 6675483, 363725 6675482, 361041 6665071, 361040 6665070, 361040 6665069, 308721 6537573, 308720 6537572, 307187 6534433, 307187 6534432, 307186 6534431, 307185 6534430, 307184 6534429, 307183 6534429, 307182 6534428, 303562 6532881, 300420 6531558, 99437 6459510, 99436 6459510, 67654 6449332, 65417 6448682, 65416 6448682, 65415 6448682, 60673 6448410, 60672 6448410))",
)


def random_points_norway(spark: SparkSession, size: int, *,
                         seed: int = 42) -> DataFrame:
    """`size` random points approximately within mainland Norway,
    EPSG:25833 (reference `random_points_norway`, general.py:474-519):
    rejection-samples `size` points per boundary polygon via
    `random_points_in_polygons`, then keeps exactly `size` rows by a
    deterministic hash order (the reference's uniform .sample(size) over
    the 3x pool, made reproducible).  Output: (row_id, pt_idx, x, y)."""
    polys = wkt_to_wkb_df(
        spark.createDataFrame(
            [(i, w) for i, w in enumerate(_NORWAY_WKT)],
            "row_id int, geometry_wkt string"))
    pts = random_points_in_polygons(polys, int(size), seed=seed)
    return (pts.orderBy(F.xxhash64("row_id", "pt_idx", F.lit(int(seed))))
            .limit(int(size)))
