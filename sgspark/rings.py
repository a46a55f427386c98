"""PolygonsAsRings — decompose polygons to rings, apply a function, recompose.

Reference: `PolygonsAsRings` (`/root/reference/src/sgis/geopandas_tools/
polygons_as_rings.py:27-439`): exterior/interior LinearRings become rows, an
arbitrary (vectorized) function transforms them, and the polygons are
rebuilt with ring roles preserved.

Spark shape: explode to a rings table keyed by (row id, part_idx, ring_idx)
-> any DataFrame/kernel transforms -> groupBy(row, part) reassemble.  The
apply function receives/returns coordinate arrays inside one Arrow batch —
the same plug-in seam as the reference's `.apply_numpy_func`.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .geom.array import LINESTRING, MULTIPOLYGON, POLYGON, from_rings
from .geom.wkb import from_wkb, to_wkb
from .io import map_geoms


def polygons_to_rings(df: DataFrame, *, id_col: str,
                      geometry: str = "geometry") -> DataFrame:
    """(id, part_idx, ring_idx, ring WKB LineString); ring_idx 0 = exterior
    (reference: interiors get index >= 1)."""
    id_t = [f.dataType.simpleString() for f in df.schema.fields
            if f.name == id_col][0]
    schema = (f"{id_col} {id_t}, part_idx int, ring_idx int, ring binary")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ga = from_wkb(pdf[geometry].tolist())
            rows = []
            for g in range(len(ga)):
                p0, p1 = ga.geom_offsets[g], ga.geom_offsets[g + 1]
                for pi, p in enumerate(range(p0, p1)):
                    r0, r1 = ga.part_offsets[p], ga.part_offsets[p + 1]
                    for rj, r in enumerate(range(r0, r1)):
                        ring = ga.coords[ga.ring_offsets[r]:ga.ring_offsets[r + 1]]
                        wkb = to_wkb(from_rings([[ring]], [LINESTRING]))[0]
                        rows.append((pdf[id_col].iloc[g], pi, rj, wkb))
            if rows:
                yield pd.DataFrame(rows, columns=[id_col, "part_idx",
                                                  "ring_idx", "ring"])

    return df.select(id_col, geometry).mapInPandas(kernel, schema=schema)


def apply_to_rings(rings: DataFrame,
                   fn: Callable[[np.ndarray], np.ndarray]) -> DataFrame:
    """Apply a coords->coords function to every ring (Arrow-batched)."""
    def apply(ga, pdf):
        blobs = []
        for g in range(len(ga)):
            new = np.asarray(fn(ga.rings_of_geom(g)[0]), dtype=np.float64)
            if len(new) and not np.array_equal(new[0], new[-1]):
                new = np.vstack([new, new[:1]])
            blobs.append(to_wkb(from_rings([[new]], [LINESTRING]))[0])
        return None, {"ring": blobs}

    return map_geoms(rings, apply, geometry="ring")


def rings_to_polygons_df(rings: DataFrame, *, id_col: str) -> DataFrame:
    """Reassemble (id, geometry) from the rings table — groupBy(id) with
    ring roles restored from (part_idx, ring_idx)."""
    id_t = [f.dataType.simpleString() for f in rings.schema.fields
            if f.name == id_col][0]
    schema = f"{id_col} {id_t}, geometry binary"

    def assemble(key, pdf):
        pdf = pdf.sort_values(["part_idx", "ring_idx"])
        ga = from_wkb(pdf["ring"].tolist())
        parts: list[list[np.ndarray]] = []
        for i in range(len(pdf)):
            coords = ga.rings_of_geom(i)[0]
            if pdf["ring_idx"].iloc[i] == 0:
                parts.append([coords])
            else:
                parts[-1].append(coords)
        if len(parts) == 1:
            out = from_rings([[parts[0]]], [POLYGON])
        else:
            out = from_rings([parts], [MULTIPOLYGON])
        return pd.DataFrame({id_col: [key[0]], "geometry": [to_wkb(out)[0]]})

    return rings.groupBy(id_col).applyInPandas(assemble, schema=schema)


class PolygonsAsRings:
    """Fluent wrapper mirroring the reference class: decompose -> apply* ->
    to_gdf (polygons_as_rings.py:27-439)."""

    def __init__(self, df: DataFrame, *, id_col: str,
                 geometry: str = "geometry"):
        self.id_col = id_col
        self.rings = polygons_to_rings(df, id_col=id_col, geometry=geometry)

    def apply_numpy_func(self, fn) -> "PolygonsAsRings":
        self.rings = apply_to_rings(self.rings, fn)
        return self

    def to_polygons(self) -> DataFrame:
        return rings_to_polygons_df(self.rings, id_col=self.id_col)
