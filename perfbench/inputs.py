"""Seeded inputs for the benchmark workloads and their reference answers.

Every table is derived from `--seed`: the seed picks which integer keys
exist (90% of a fixed key range) and, for `pip_tile`, which block of
document indices is synthesised.  All geometry then follows from the keys
through the `sgspark.synth` / `__spark_entry__` formulas, so the reference
answers below are computed from the keys alone, without the engine:

  * DuckDB runs the oracle SQL of `__spark_entry__.oracle_sql()` on the
    key tables (square-zone join, tile counts, overlay,
    buffer-dissolve, coverage cleaning, route costs);
  * plain numpy recomputes the star ngon join and the kNN, which have no
    SQL twin at this size.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# doc count, zone key range and supplier count per workload
SIZES = {
    "pip_tile": dict(n_docs=8_000, n_zones=2_000, n_supp=20),
    "op_latency": dict(n_docs=2_000, n_zones=200, n_supp=20),
}
SMOKE_SIZES = {
    "pip_tile": dict(n_docs=1_000, n_zones=200, n_supp=20),
    "op_latency": dict(n_docs=300, n_zones=60, n_supp=20),
}
NGON_EVERY = 20          # ngon layer = zones with zone_id % NGON_EVERY == 0
KNN_K = 3
KEY_MULT = 1_000_003     # pair checksum: bit_xor(left * KEY_MULT + right)
DOC_START_MAX = 1 << 30  # doc key * KEY_MULT or * 104729 stays < 2^51


@dataclass(frozen=True)
class Keys:
    docs: np.ndarray
    zones: np.ndarray
    suppliers: np.ndarray


def seeded_keys(seed: int, n_docs: int, n_zones: int, n_supp: int) -> Keys:
    """Doc indices are a block of n_docs starting at a seed-drawn index
    below DOC_START_MAX, so every seed gives keys whose products in the
    synth formulas and the pair checksum stay inside int64 (DuckDB raises
    on overflow); zone keys are the 90% of range(n_zones) the seed keeps,
    so the seed changes which zones exist but not how many.  Supplier keys
    stay contiguous: the road graph of the route gates is a chain over
    them."""
    rng = np.random.default_rng(seed)
    start = int(rng.integers(0, DOC_START_MAX))
    docs = start + np.arange(n_docs, dtype=np.int64)
    zones = np.sort(rng.permutation(n_zones)[:n_zones * 9 // 10])
    return Keys(docs, zones, np.arange(n_supp, dtype=np.int64))


def write_key_tables(sf_dir: str, keys: Keys) -> None:
    """The key tables the engine and the oracle both read."""
    os.makedirs(sf_dir, exist_ok=True)
    tables = {"documents": {"doc_id": keys.docs},
              "customer": {"c_custkey": keys.zones},
              "supplier": {"s_suppkey": keys.suppliers},
              "nation": {"n_nationkey": np.arange(25, dtype=np.int64)}}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------------------------------ #
# reference answers
# ------------------------------------------------------------------------ #
def duck(sf_dir: str):
    import duckdb
    con = duckdb.connect(config={"threads": 4})
    for t in ("documents", "customer", "supplier", "nation"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _pairs_sql(oracle: str, left: str, right: str) -> str:
    return (f"SELECT count(*), coalesce(bit_xor({left} * {KEY_MULT} + "
            f"{right}), 0) FROM ({oracle})")


def pip_tile_expected(sf_dir: str, keys: Keys) -> dict[str, tuple]:
    from __spark_entry__ import oracle_sql
    from sgspark.synth import first_point_xy
    o = oracle_sql()
    con = duck(sf_dir)
    try:
        px, _ = first_point_xy(keys.docs)
        tiles = con.execute(
            "SELECT count(*), sum(n_points * n_points) FROM ("
            f"{o['tile_assign']})").fetchone()
        square = con.execute(_pairs_sql(o["pip_join"], "doc_id",
                                        "zone_id")).fetchone()
    finally:
        con.close()
    return {"io": (len(keys.docs), int(px.sum())),
            "tiling": tuple(int(v) for v in tiles),
            "joins.square": tuple(int(v) for v in square),
            "joins.ngon": ngon_pairs_expected(keys)}


def op_latency_expected(sf_dir: str, keys: Keys) -> dict[str, object]:
    from __spark_entry__ import oracle_sql
    o = oracle_sql()
    # DuckDB inlines each reference to a CTE, so the seven chained squarings
    # of the route oracle would expand 2^7-fold (seconds at 20 nodes)
    route = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (",
                   o["route_costs"])
    con = duck(sf_dir)
    try:
        def one(sql):
            return tuple(int(v) for v in con.execute(sql).fetchone())

        def rows(sql):
            return con.execute(sql).df()

        return {
            "joins.sjoin": one(_pairs_sql(o["pip_join"], "doc_id", "zone_id")),
            "knn": knn_expected(keys),
            "overlay": rows(o["overlay_concave"]),
            "dissolve": rows(o["buffdiss"]),
            "cleaning": rows(o["coverage_clean"]),
            "network.local": rows(route),
            "network.distributed": rows(route),
        }
    finally:
        con.close()


def knn_expected(keys: Keys, k: int = KNN_K) -> tuple[int, int, int]:
    """Brute-force k nearest zone centres per doc point, ranked by (squared
    integer distance, zone id): count, sum of d2, pair checksum."""
    from sgspark.synth import first_point_xy, zone_params
    px, py = first_point_xy(keys.docs)
    cx, cy, _ = zone_params(keys.zones)
    cx, cy = cx.astype(np.int64), cy.astype(np.int64)
    zk = keys.zones                       # ascending, so rank ties by id
    bits = int(len(zk)).bit_length()
    n, s, x = 0, 0, 0
    for lo in range(0, len(px), 2048):
        dx = px[lo:lo + 2048, None] - cx[None, :]
        dy = py[lo:lo + 2048, None] - cy[None, :]
        d2 = dx * dx + dy * dy
        assert d2.max() < 1 << (62 - bits)
        rank = np.partition((d2 << bits) | np.arange(len(zk)), k - 1,
                            axis=1)[:, :k]
        n += rank.size
        s += int((rank >> bits).sum())
        x ^= int(np.bitwise_xor.reduce(
            (keys.docs[lo:lo + 2048, None] * KEY_MULT
             + zk[rank & ((1 << bits) - 1)]).ravel()))
    return n, s, x


def ngon_vertices(k: int, n: int = 64) -> np.ndarray:
    """Closed vertex ring of `synth.zone_ngon_wkt` for zone key k (the WKT
    prints repr() floats, so parsing it yields exactly these values)."""
    from sgspark.synth import zone_params
    cx, cy, r = (float(v[0]) for v in zone_params(np.array([k])))
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        rr = r if i % 2 == 0 else 0.72 * r
        pts.append((cx + rr * math.cos(a), cy + rr * math.sin(a)))
    pts.append(pts[0])
    return np.array(pts)


def ngon_pairs_expected(keys: Keys) -> tuple[int, int]:
    """Even-odd ray cast of every doc point against every ngon zone."""
    from sgspark.synth import first_point_xy
    px, py = first_point_xy(keys.docs)
    px, py = px.astype(np.float64), py.astype(np.float64)
    n, x = 0, 0
    for k in keys.zones[keys.zones % NGON_EVERY == 0]:
        ring = ngon_vertices(int(k))
        lo, hi = ring.min(axis=0), ring.max(axis=0)
        sel = np.nonzero((px >= lo[0]) & (px <= hi[0]) &
                         (py >= lo[1]) & (py <= hi[1]))[0]
        qx, qy = px[sel, None], py[sel, None]
        x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
        x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]
        straddle = (y1 > qy) != (y2 > qy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = x1 + (qy - y1) * (x2 - x1) / (y2 - y1)
        inside = (np.count_nonzero(straddle & (qx < xc), axis=1) % 2) == 1
        hit = keys.docs[sel[inside]]
        n += len(hit)
        if len(hit):
            x ^= int(np.bitwise_xor.reduce(hit * KEY_MULT + int(k)))
    return n, x
