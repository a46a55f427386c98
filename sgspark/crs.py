"""Frame-level CRS discipline.

Reference: a pyproj.CRS rides on each GeoDataFrame; binary ops demand
equality and raise on mismatch (`overlay.py:109-110`,
`neighbors.py:111-112`); EPSG:25833 is the blessed planar CRS
(`bounds.py:519-523`).

Spark mapping (SURVEY §1.3): the CRS is carried as column METADATA on the
geometry field (plan-level, zero runtime cost).  Metadata survives
selects/joins/filters; Arrow kernels that rebuild the schema must re-tag
(set_crs after mapInPandas) — documented limitation.  `to_4326`/`from_4326`
re-project coordinates with the exact Transverse Mercator kernel
(geom/crs.py) and recompute bbox columns.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .geom.wkb import to_wkb
from .io import BOUNDS_DDL, bounds_cols, map_geoms


def set_crs(df: DataFrame, epsg: int, geometry: str = "geometry"
            ) -> DataFrame:
    return df.withMetadata(geometry, {"crs": f"EPSG:{int(epsg)}"})


def get_crs(df: DataFrame, geometry: str = "geometry") -> str | None:
    for f in df.schema.fields:
        if f.name == geometry:
            return (f.metadata or {}).get("crs")
    return None


def require_same_crs(a: DataFrame, b: DataFrame,
                     geometry: str = "geometry") -> None:
    """Analysis-time CRS equality check (reference overlay.py:109-110).
    Untagged frames pass (opt-in discipline)."""
    ca, cb = get_crs(a, geometry), get_crs(b, geometry)
    if ca is not None and cb is not None and ca != cb:
        raise ValueError(f"CRS mismatch: {ca} vs {cb} — reproject first "
                         "(to_4326/from_4326)")


def _transform_df(df: DataFrame, fwd, geometry: str, epsg_out: int
                  ) -> DataFrame:
    def transform(ga, pdf):
        ga.coords = np.stack(fwd(ga.coords[:, 0], ga.coords[:, 1]), axis=1)
        return None, {geometry: to_wkb(ga), **bounds_cols(ga)}

    return set_crs(map_geoms(df, transform, BOUNDS_DDL, geometry=geometry),
                   epsg_out, geometry)


def to_4326(df: DataFrame, zone: int = 33, geometry: str = "geometry"
            ) -> DataFrame:
    """UTM `zone` (e.g. EPSG:25833) -> EPSG:4326 lon/lat (reference
    conversion.py to_4326)."""
    from .geom.crs import utm_to_wgs84
    return _transform_df(df, lambda x, y: utm_to_wgs84(x, y, zone),
                         geometry, 4326)


def from_4326(df: DataFrame, zone: int = 33, geometry: str = "geometry"
              ) -> DataFrame:
    """EPSG:4326 lon/lat -> UTM `zone` planar meters."""
    from .geom.crs import wgs84_to_utm
    return _transform_df(df, lambda x, y: wgs84_to_utm(x, y, zone),
                         geometry, 25800 + zone)  # ETRS89 UTM zone EPSGs
