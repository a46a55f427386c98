"""Ragged geometry arrays in pure numpy — the engine's kernel-side geometry model.

The reference (ssb-sgis) works on shapely 2.x object arrays backed by GEOS
(`/root/reference/src/sgis/geopandas_tools/runners.py:284-305` shows the
vectorized call shapes). This sandbox has no GEOS/shapely and installs are
forbidden, so we re-express the same *array-level* model as a
struct-of-arrays over plain numpy:

    GeomArray
      kinds:        int8[n]        geometry family per geometry (POINT..GEOMCOLL)
      coords:       float64[m, 2]  all vertices, concatenated
      ring_offsets: int64[R+1]     ring r  -> coords[ring_offsets[r]:ring_offsets[r+1]]
      part_offsets: int64[P+1]     part p  -> rings [part_offsets[p]:part_offsets[p+1]]
      geom_offsets: int64[n+1]     geom g  -> parts [geom_offsets[g]:geom_offsets[g+1]]

For points/lines each part has exactly one "ring" (the coord sequence).
For polygons ring 0 of a part is the exterior, the rest are holes.

Everything that matters at scale (bbox, area, length, centroid, predicates)
is computed with `np.add.reduceat`-style vectorized passes — no per-geometry
Python in the hot path.  This module is Spark-agnostic; Spark operators call
it from inside Arrow-batched pandas UDFs only.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# family codes (match WKB geometry type % 1000)
POINT = 1
LINESTRING = 2
POLYGON = 3
MULTIPOINT = 4
MULTILINESTRING = 5
MULTIPOLYGON = 6
GEOMETRYCOLLECTION = 7  # not supported as storage; exploded at ingest

# 3-family classification, mirroring the reference's geom_type system
# (`geometry_types.py:146-186`): point | line | polygon
FAMILY_OF = {
    POINT: "point",
    MULTIPOINT: "point",
    LINESTRING: "line",
    MULTILINESTRING: "line",
    POLYGON: "polygon",
    MULTIPOLYGON: "polygon",
}


@dataclass
class GeomArray:
    kinds: np.ndarray          # int8[n]
    coords: np.ndarray         # float64[m,2]
    ring_offsets: np.ndarray   # int64[R+1]
    part_offsets: np.ndarray   # int64[P+1]
    geom_offsets: np.ndarray   # int64[n+1]

    def __len__(self) -> int:
        return len(self.kinds)

    # ------------------------------------------------------------------ #
    # indexing helpers
    # ------------------------------------------------------------------ #
    def rings_of_geom(self, g: int) -> list[np.ndarray]:
        """Coord blocks of all rings of geometry g (python helper, not hot path)."""
        p0, p1 = self.geom_offsets[g], self.geom_offsets[g + 1]
        out = []
        for p in range(p0, p1):
            r0, r1 = self.part_offsets[p], self.part_offsets[p + 1]
            for r in range(r0, r1):
                out.append(self.coords[self.ring_offsets[r]:self.ring_offsets[r + 1]])
        return out

    def simple_polygon_flags(self) -> np.ndarray:
        """bool[n]: POLYGON with exactly one part and one ring (no holes) —
        eligible for the batched padded-ring kernels.  Vectorized."""
        n_parts = np.diff(self.geom_offsets)
        first_part = np.minimum(self.geom_offsets[:-1],
                                len(self.part_offsets) - 2)
        n_rings = (self.part_offsets[first_part + 1]
                   - self.part_offsets[first_part])
        return (self.kinds == POLYGON) & (n_parts == 1) & (n_rings == 1)

    def padded_first_rings(self, idx: np.ndarray
                           ) -> tuple[np.ndarray, np.ndarray]:
        """(P (k, L, 2), counts (k,)) of the OPEN first rings of geometries
        `idx` (closing duplicate stripped) — vectorized gather for the
        batched clip kernels."""
        idx = np.asarray(idx, dtype=np.int64)
        first_part = self.geom_offsets[idx]
        first_ring = self.part_offsets[first_part]
        s = self.ring_offsets[first_ring]
        ln = self.ring_offsets[first_ring + 1] - s
        cnt = np.maximum(ln - 1, 0)  # drop closing vertex
        L = max(int(cnt.max()) if len(cnt) else 0, 1)
        j = np.arange(L)
        valid = j[None, :] < cnt[:, None]
        gather = np.where(valid, s[:, None] + j[None, :], s[:, None])
        P = self.coords[gather]
        P[~valid] = 0.0
        return P, cnt

    def take(self, idx: np.ndarray) -> "GeomArray":
        """Gather a subset (used by kernels to align pair tables)."""
        idx = np.asarray(idx, dtype=np.int64)
        kinds = self.kinds[idx]
        parts_per = np.diff(self.geom_offsets)
        new_geom_offsets = np.zeros(len(idx) + 1, dtype=np.int64)
        np.cumsum(parts_per[idx], out=new_geom_offsets[1:])
        # expand part indices
        part_idx, _ = expand_ranges(self.geom_offsets[idx], self.geom_offsets[idx + 1])
        rings_per = np.diff(self.part_offsets)
        new_part_offsets = np.zeros(len(part_idx) + 1, dtype=np.int64)
        np.cumsum(rings_per[part_idx], out=new_part_offsets[1:])
        ring_idx, _ = expand_ranges(self.part_offsets[part_idx], self.part_offsets[part_idx + 1])
        pts_per = np.diff(self.ring_offsets)
        new_ring_offsets = np.zeros(len(ring_idx) + 1, dtype=np.int64)
        np.cumsum(pts_per[ring_idx], out=new_ring_offsets[1:])
        coord_idx, _ = expand_ranges(self.ring_offsets[ring_idx], self.ring_offsets[ring_idx + 1])
        return GeomArray(kinds, self.coords[coord_idx], new_ring_offsets,
                         new_part_offsets, new_geom_offsets)

    # ------------------------------------------------------------------ #
    # vectorized measures
    # ------------------------------------------------------------------ #
    def bounds(self) -> np.ndarray:
        """float64[n,4] = (minx, miny, maxx, maxy); NaN rows for empty geoms."""
        n = len(self)
        out = np.full((n, 4), np.nan)
        starts = self.coords_start_per_geom()
        counts = self.coords_count_per_geom()
        nonempty = counts > 0
        if not nonempty.any():
            return out
        s = starts[nonempty]
        # reduceat needs strictly valid starts; segments are contiguous per geom
        out[nonempty, 0] = np.minimum.reduceat(self.coords[:, 0], s)
        out[nonempty, 1] = np.minimum.reduceat(self.coords[:, 1], s)
        out[nonempty, 2] = np.maximum.reduceat(self.coords[:, 0], s)
        out[nonempty, 3] = np.maximum.reduceat(self.coords[:, 1], s)
        # reduceat's segment runs to the next start, so the LAST segment runs to the
        # end of coords — correct because geoms are stored contiguously in order.
        return out

    def coords_start_per_geom(self) -> np.ndarray:
        first_part = self.geom_offsets[:-1]
        # geometry's first ring = part_offsets[first_part]; guard empty tail
        fp = np.minimum(first_part, len(self.part_offsets) - 1)
        first_ring = self.part_offsets[fp]
        fr = np.minimum(first_ring, len(self.ring_offsets) - 1)
        return self.ring_offsets[fr]

    def coords_count_per_geom(self) -> np.ndarray:
        return np.diff(self.coords_start_per_geom(), append=len(self.coords))

    def area(self) -> np.ndarray:
        """Signed-magnitude shoelace area per geometry (holes subtract)."""
        ring_area = self._ring_signed_areas()
        # per-ring sign: exterior rings positive orientation unknown -> use
        # |exterior| - |holes|; we rely on ring role (index within part).
        n_rings = len(self.ring_offsets) - 1
        is_hole = np.zeros(n_rings, dtype=bool)
        for p in range(len(self.part_offsets) - 1):   # parts are few per batch geom
            r0, r1 = self.part_offsets[p], self.part_offsets[p + 1]
            if r1 - r0 > 1:
                is_hole[r0 + 1:r1] = True
        mag = np.abs(ring_area)
        mag[is_hole] *= -1.0
        # sum rings per geometry
        ring_geom = self._ring_to_geom()
        out = np.zeros(len(self), dtype=np.float64)
        np.add.at(out, ring_geom, mag)
        out[~np.isin(self.kinds, (POLYGON, MULTIPOLYGON))] = 0.0
        return out

    def length(self) -> np.ndarray:
        seg = np.diff(self.coords, axis=0)
        seglen = np.hypot(seg[:, 0], seg[:, 1])
        # zero out segments that cross ring boundaries
        ring_ends = self.ring_offsets[1:] - 1
        valid = np.ones(len(seglen), dtype=bool)
        valid[ring_ends[ring_ends < len(seglen)]] = False
        seglen = np.where(valid, seglen, 0.0)
        ring_geom = self._ring_to_geom()
        coord_ring = np.repeat(np.arange(len(self.ring_offsets) - 1),
                               np.diff(self.ring_offsets))
        out = np.zeros(len(self), dtype=np.float64)
        if len(seglen):
            np.add.at(out, ring_geom[coord_ring[:len(seglen)]], seglen)
        out[np.isin(self.kinds, (POINT, MULTIPOINT))] = 0.0
        return out

    def centroid(self) -> np.ndarray:
        """float64[n,2]. Polygon: area-weighted; line: length-weighted midpoints;
        point: mean of points.  Matches GEOS semantics per family."""
        n = len(self)
        out = np.full((n, 2), np.nan)
        fam = np.array([FAMILY_OF.get(int(k), "point") for k in self.kinds])
        for g in range(n):  # centroid is not a hot-path op in the engine
            rings = self.rings_of_geom(g)
            if not rings:
                continue
            if fam[g] == "point":
                pts = np.concatenate(rings)
                out[g] = pts.mean(axis=0)
            elif fam[g] == "line":
                cx = cy = w = 0.0
                for r in rings:
                    seg = np.diff(r, axis=0)
                    ln = np.hypot(seg[:, 0], seg[:, 1])
                    mid = (r[:-1] + r[1:]) / 2.0
                    cx += float((mid[:, 0] * ln).sum())
                    cy += float((mid[:, 1] * ln).sum())
                    w += float(ln.sum())
                out[g] = (cx / w, cy / w) if w > 0 else rings[0][0]
            else:
                cx = cy = A = 0.0
                p0, p1 = self.geom_offsets[g], self.geom_offsets[g + 1]
                for p in range(p0, p1):
                    r0, r1 = self.part_offsets[p], self.part_offsets[p + 1]
                    for ri in range(r0, r1):
                        r = self.coords[self.ring_offsets[ri]:self.ring_offsets[ri + 1]]
                        x, y = r[:-1, 0], r[:-1, 1]
                        x1, y1 = r[1:, 0], r[1:, 1]
                        cross = x * y1 - x1 * y
                        a = cross.sum() / 2.0
                        sgn = 1.0 if ri == r0 else -1.0
                        a = abs(a) * sgn
                        if abs(cross.sum()) > 0:
                            scale = a / (cross.sum() / 2.0)
                            cx += scale * float(((x + x1) * cross).sum()) / 6.0
                            cy += scale * float(((y + y1) * cross).sum()) / 6.0
                        A += a
                if A != 0:
                    out[g] = (cx / A, cy / A)
                else:
                    out[g] = self.coords[self.coords_start_per_geom()[g]]
        return out

    def num_parts(self) -> np.ndarray:
        return np.diff(self.geom_offsets)

    # ------------------------------------------------------------------ #
    def _ring_signed_areas(self) -> np.ndarray:
        x, y = self.coords[:, 0], self.coords[:, 1]
        if len(x) == 0:
            return np.zeros(len(self.ring_offsets) - 1)
        x1 = np.roll(x, -1)
        y1 = np.roll(y, -1)
        cross = x * y1 - x1 * y
        # last vertex of each ring pairs with first vertex of NEXT ring -> but
        # rings are closed (first == last vertex), so the last segment within a
        # ring contributes 0 when first==last; the roll-wraparound term at ring
        # boundaries must be zeroed.
        starts = self.ring_offsets[:-1]
        ends = self.ring_offsets[1:] - 1
        cross_fixed = cross.copy()
        cross_fixed[ends[ends >= 0]] = 0.0  # kill cross-ring wrap terms
        sums = np.add.reduceat(cross_fixed, starts) if len(starts) else np.zeros(0)
        sums = np.where(np.diff(self.ring_offsets) > 0, sums, 0.0)
        return sums / 2.0

    def _ring_to_geom(self) -> np.ndarray:
        part_geom = np.repeat(np.arange(len(self)), np.diff(self.geom_offsets))
        ring_part = np.repeat(np.arange(len(self.part_offsets) - 1),
                              np.diff(self.part_offsets))
        return part_geom[ring_part]


def expand_ranges(starts: np.ndarray, ends: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray]:
    """(flat, owner): the [starts[i], ends[i]) ranges concatenated into one
    index array, and for each entry the i it came from.  Empty ranges
    contribute nothing."""
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(ends, dtype=np.int64) - starts
    owner = np.repeat(np.arange(len(starts), dtype=np.int64), lens)
    first = np.cumsum(lens) - lens  # output position of each range's start
    return np.arange(len(owner), dtype=np.int64) + (starts - first)[owner], owner


# ---------------------------------------------------------------------- #
# constructors
# ---------------------------------------------------------------------- #
def points(xy: np.ndarray) -> GeomArray:
    """GeomArray of POINTs from float64[n,2]."""
    n = len(xy)
    one = np.arange(n + 1, dtype=np.int64)
    return GeomArray(np.full(n, POINT, dtype=np.int8),
                     np.ascontiguousarray(xy, dtype=np.float64),
                     one.copy(), one.copy(), one.copy())


def from_rings(ring_lists: list[list[np.ndarray]], kinds: list[int]) -> GeomArray:
    """Build from python lists: one entry per geometry; each entry a list of
    parts, where a part is (for polygons) a list of rings or (lines/points) a
    single coord array.  Slow path — used by codecs and tests only."""
    coords = []
    ring_offsets = [0]
    part_offsets = [0]
    geom_offsets = [0]
    for parts in ring_lists:
        for part in parts:
            rings = part if isinstance(part, list) else [part]
            for r in rings:
                r = np.asarray(r, dtype=np.float64).reshape(-1, 2)
                coords.append(r)
                ring_offsets.append(ring_offsets[-1] + len(r))
            part_offsets.append(part_offsets[-1] + len(rings))
        geom_offsets.append(geom_offsets[-1] + len(parts))
    all_coords = (np.concatenate(coords) if coords
                  else np.zeros((0, 2), dtype=np.float64))
    return GeomArray(np.asarray(kinds, dtype=np.int8), all_coords,
                     np.asarray(ring_offsets, dtype=np.int64),
                     np.asarray(part_offsets, dtype=np.int64),
                     np.asarray(geom_offsets, dtype=np.int64))
