"""Round-4 ADVICE fixes.

1. LINESTRING buffers nest CW sealed-hole loops as interior rings (a
   near-closed polyline buffers to an annulus, not a filled disk).
2. Exactly-closed polylines (roundabouts) buffer to an annulus instead of
   raising through the doubled-back-ring degeneracy ladder.
3. parts_thin's grid fallback coarsens its pitch for huge-extent slivers
   instead of crashing on the 4M-sample cap.

Oracles are implementation-independent: a dense grid distance-field over
the polyline (fraction of cells within r of the curve), matching GEOS
semantics rather than the kernel's own arithmetic.
"""

import numpy as np
import pytest

from sgspark.geom.array import LINESTRING, from_rings
from sgspark.geom.buffer import buffer

QS = 16


def circle_line(R, n=72, closed=True, cx=0.0, cy=0.0):
    t = np.linspace(0, 2 * np.pi, n + 1)
    pts = np.c_[cx + R * np.cos(t), cy + R * np.sin(t)]
    if closed:
        pts[-1] = pts[0]  # bit-exact closure
        return pts
    return pts[:-1]  # leave the last segment open (tiny gap)


def grid_band_area(line, r, cell=0.02):
    """Grid oracle: area of {x : dist(x, polyline) <= r}."""
    a, b = line[:-1], line[1:]
    minx, miny = line[:, 0].min() - r, line[:, 1].min() - r
    maxx, maxy = line[:, 0].max() + r, line[:, 1].max() + r
    xs = np.arange(minx + cell / 2, maxx, cell)
    ys = np.arange(miny + cell / 2, maxy, cell)
    PX = np.repeat(xs, len(ys))
    PY = np.tile(ys, len(xs))
    P = np.c_[PX, PY]
    d = np.full(len(P), np.inf)
    for i in range(len(a)):
        ab = b[i] - a[i]
        t = np.clip(((P - a[i]) @ ab) / max(ab @ ab, 1e-300), 0.0, 1.0)
        proj = a[i] + t[:, None] * ab
        d = np.minimum(d, np.hypot(P[:, 0] - proj[:, 0],
                                   P[:, 1] - proj[:, 1]))
    return float((d <= r).sum()) * cell * cell


def _buffer_line(pts, r):
    ga = from_rings([[pts]], [LINESTRING])
    return buffer(ga, r, quad_segs=QS)


def n_holes(ga):
    tot = 0
    for g in range(len(ga)):
        for s in range(ga.geom_offsets[g], ga.geom_offsets[g + 1]):
            tot += int(ga.part_offsets[s + 1] - ga.part_offsets[s]) - 1
    return tot


def test_near_closed_line_buffer_is_annulus():
    # polyline tracing a radius-5 circle with a small gap; r=0.5 seals the
    # gap, so the result must carry the interior hole (ADVICE r3, high)
    line = circle_line(5.0, n=72, closed=False)
    out = _buffer_line(line, 0.5)
    got = out.area()[0]
    want = grid_band_area(line, 0.5, cell=0.01)
    assert got == pytest.approx(want, rel=0.02)
    assert got < 40  # NOT the filled disk (~94.7)
    assert n_holes(out) == 1


def test_exactly_closed_line_buffer_is_annulus():
    # roundabout: first vertex == last — previously raised RuntimeError
    line = circle_line(5.0, n=72, closed=True)
    out = _buffer_line(line, 0.5)
    want = grid_band_area(line, 0.5, cell=0.01)
    assert out.area()[0] == pytest.approx(want, rel=0.02)
    assert n_holes(out) == 1


def test_closed_line_thinner_than_radius_fills_in():
    # tiny ring, fat buffer: the hole erodes away -> filled disk, no hole
    line = circle_line(0.3, n=36, closed=True)
    out = _buffer_line(line, 0.5)
    want = grid_band_area(line, 0.5, cell=0.004)
    assert out.area()[0] == pytest.approx(want, rel=0.03)
    assert n_holes(out) == 0


def test_closed_line_buffer_in_spark_buffdiss(spark):
    """End-to-end: a layer containing a closed LineString (roundabout) no
    longer crashes buff/buffdiss (ADVICE r3, medium)."""
    import pandas as pd
    from sgspark.dissolve import buffdissexp
    from sgspark.io import wkt_to_wkb_df

    ring = circle_line(5.0, n=24, closed=True)
    wkt = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in ring) + ")"
    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "pid": [0, 1], "grp": ["a", "a"],
        "wkt": [wkt, "LINESTRING (20 0, 24 0)"]})), "wkt")
    out = buffdissexp(df, 0.5, by=["grp"], quad_segs=QS)
    rows = out.count()
    assert rows == 2  # annulus part + far capsule part


def test_parts_thin_huge_extent_fallback(monkeypatch):
    """Offset-ladder exhaustion on a country-sized sliver falls back to a
    cap-bounded coarser grid instead of raising ValueError (ADVICE r3, low)."""
    import sgspark.geom.measure as M

    def boom(*a, **k):
        raise RuntimeError("ladder exhausted")

    import sgspark.geom.offset as O
    monkeypatch.setattr(O, "buffer_polygon", boom)
    # 1e6 x 2000 rectangle; pitch 1.0 would need 2e9 samples
    ext = np.array([[0, 0], [1e6, 0], [1e6, 2000], [0, 2000], [0, 0]])
    assert M.parts_thin([[ext]], pitch=1.0, thr=10.0) is False  # fat: r=1000


def test_simhash_salted_buckets_exact(spark):
    """VERDICT r3 #3: oversized simhash band buckets are salt-split; the
    pair set must be identical to the unsalted path on a skewed fixture
    (40 near-identical docs -> one band value shared by all)."""
    import pandas as pd
    from sgspark.textops import simhash_near_dups

    texts = [f"the quick brown fox jumps over dog {i % 2}" for i in range(40)]
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i:03d}" for i in range(40)], "text": texts}))
    plain = simhash_near_dups(docs, max_bucket=1_000_000)
    salted = simhash_near_dups(docs, max_bucket=3)
    p = {(r["a"], r["b"], r["hamming"]) for r in plain.collect()}
    s = {(r["a"], r["b"], r["hamming"]) for r in salted.collect()}
    assert p == s and len(p) == 2 * (20 * 19 // 2)  # within-group pairs
    # salted plan really splits: per-(band,salt) build rows are bounded
    from sgspark.textops import simhash
    import pyspark.sql.functions as F
    sh = simhash(docs)
    bands = sh.select("doc_id", F.explode(F.array(*[
        F.concat(F.lit(f"{i}:"),
                 F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF))
                 .cast("string")) for i in range(4)])).alias("band"))
    top = bands.groupBy("band").count().agg(F.max("count")).first()[0]
    assert top >= 20  # the fixture IS skewed


def test_gridloop_hot_cell_salting(spark):
    """VERDICT r3 #5: cells above max_cell_rows split into salted
    sub-invocations for decomposable funcs — same results, bounded group
    sizes, halo context fully replicated into every split."""
    import pandas as pd
    from sgspark.tiling import gridloop

    # one mega-cell (1000 rows near origin) + a few normal cells + a halo
    # contributor right across the cell edge
    n_hot = 1000
    xs = [float(i % 9) + 0.5 for i in range(n_hot)]  # cell (0..9, 0..9)
    ys = [float(i % 7) + 0.5 for i in range(n_hot)]
    xs += [15.5, 25.5]
    ys += [5.5, 5.5]
    xs += [10.2]          # within gridbuffer 0.5 of cell 0's right edge? no
    ys += [5.0]           # -> halo row for cell [10..20)? belongs to cell 1
    pdf = pd.DataFrame({"x": xs, "y": ys,
                        "rid": list(range(len(xs)))})
    df = spark.createDataFrame(pdf)

    def per_row(cell: pd.DataFrame) -> pd.DataFrame:
        own = cell[~cell["__halo"]]
        nh = int(cell["__halo"].sum())
        return pd.DataFrame({"x": own.x, "y": own.y, "rid": own.rid,
                             "nhalo": nh, "gsize": len(own)})

    kw = dict(out_schema="x double, y double, rid long, nhalo int, "
              "gsize long", gridsize=10.0, gridbuffer=0.5)
    plain = gridloop(df, per_row, **kw).toPandas()
    salted = gridloop(df, per_row, max_cell_rows=100, **kw).toPandas()
    cols = ["x", "y", "rid", "nhalo"]
    a = plain[cols].sort_values("rid").reset_index(drop=True)
    b = salted[cols].sort_values("rid").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # the mega-cell really split: no sub-invocation saw the full 1000 rows
    hot = salted[salted.rid < n_hot]
    assert hot.gsize.max() < 500
    assert plain[plain.rid < n_hot].gsize.max() == n_hot


# -------------------------------------------- nested-hole boolean fixes
def _part_area(p):
    from sgspark.geom.clip import ring_area
    return abs(ring_area(p[0])) - sum(abs(ring_area(r)) for r in p[1:])


def test_union_keeps_part_nested_in_hole_separate():
    from sgspark.geom.clip import union_many
    frame = [np.array([[-50., -50.], [555, -50], [555, 555], [-50, 555],
                       [-50, -50]]),
             np.array([[-0.5, -0.5], [504.5, -0.5], [504.5, 504.5],
                       [-0.5, 504.5], [-0.5, -0.5]])]
    t0 = [np.array([[0., 0.], [100, 0], [100, 100], [0, 100], [0, 0]])]
    t1 = [np.array([[101., 0.], [201, 0], [201, 100], [101, 100],
                    [101, 0]])]
    res = union_many([frame, t0, t1])
    assert len(res) == 3
    assert sum(_part_area(p) for p in res) == 111000 + 20000


def test_ring_boolean_nested_fast_paths_exact():
    from sgspark.geom.clip import ring_boolean, ring_area
    outer = np.array([[0., 0.], [10, 0], [10, 10], [0, 10], [0, 0]])
    inner = np.array([[2., 2.], [5, 2], [5, 5], [2, 5], [2, 2]])
    u = ring_boolean(outer, inner, "union")
    assert len(u) == 1 and ring_area(u[0]) == 100
    i = ring_boolean(outer, inner, "intersection")
    assert len(i) == 1 and ring_area(i[0]) == 9
    d = ring_boolean(outer, inner, "difference")
    assert sorted(round(ring_area(r), 12) for r in d) == [-9, 100]
    d2 = ring_boolean(inner, outer, "difference")
    assert d2 == []
