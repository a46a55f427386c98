"""Concave / holed polygon buffers through the trimmed-offset kernel
(geom/offset.py) and the buff -> dissolve -> explode pipeline.

Mirrors the reference's buffer-dissolve-explode test strategy
(`/root/reference/tests/test_xbuffdissexp.py`): analytic area oracles at the
engine's discretization contract (vertices ON the circle, step <=
(pi/2)/quad_segs), plus an implementation-independent grid oracle for the
irregular star fixture.
"""

import numpy as np
import pandas as pd
import pytest

from sgspark.geom.array import POLYGON, from_rings
from sgspark.geom.buffer import buffer, convex_ring_erode
from sgspark.geom.clip import ring_area
from sgspark.geom.offset import (_pts_in_ring, _pts_to_segments_dist,
                                 buffer_polygon, dilate_line, dilate_ring,
                                 erode_ring)

QS = 8


def sector(r, sweep=np.pi / 2, qs=QS):
    """Discretized circular-sector area: `steps` chords, vertices ON the
    circle — the engine's (and GEOS's) quad_segs contract."""
    steps = int(np.ceil(sweep / (np.pi / 2 / qs)))
    return 0.5 * r * r * np.sin(sweep / steps) * steps


L = np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]], float)
# area 12, perimeter 16, 5 convex right angles, 1 reflex right angle


def test_dilate_L_analytic():
    loops = dilate_ring(L, 0.5, QS)
    got = sum(ring_area(l) for l in loops)
    # A + P*r + 5 quarter arcs - reflex overlap r^2
    want = 12 + 16 * 0.5 + 5 * sector(0.5) - 0.25
    assert got == pytest.approx(want, abs=1e-9)


def test_erode_L_analytic():
    loops = erode_ring(L, 0.5, QS)
    got = sum(ring_area(l) for l in loops)
    # inset rects + reflex corner square minus discretized quarter disk
    want = 3.0 + 2.0 + (0.25 - sector(0.5))
    assert got == pytest.approx(want, abs=1e-9)


def test_erosion_splits_dumbbell():
    db = np.array([[0, 0], [4, 0], [4, 1.8], [8, 1.8], [8, 0], [12, 0],
                   [12, 4], [8, 4], [8, 2.2], [4, 2.2], [4, 4], [0, 4],
                   [0, 0]], float)
    loops = erode_ring(db, 0.5, QS)
    assert len(loops) == 2  # thin bar vanishes, two plates remain
    # grid distance-field oracle (the bar-mouth corner arcs carve slivers
    # that have no simple closed form)
    g = 1201
    xs = np.linspace(-1, 13, g)
    ys = np.linspace(-1, 5, g)
    X, Y = np.meshgrid(xs, ys)
    pts = np.stack([X.ravel(), Y.ravel()], 1)
    d = _pts_to_segments_dist(pts, db[:-1], db[1:])
    inside = _pts_in_ring(pts, db)
    cell = (xs[1] - xs[0]) * (ys[1] - ys[0])
    want = (inside & (d >= 0.5)).sum() * cell
    assert sum(ring_area(l) for l in loops) == pytest.approx(want, abs=0.1)
    a0, a1 = (ring_area(l) for l in loops)
    assert a0 == pytest.approx(a1, abs=1e-9)  # symmetric plates


def test_dilation_seals_cavity_into_hole():
    C = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 5.5], [3, 5.5],
                  [3, 7], [7, 7], [7, 3], [3, 3], [3, 4.5], [0, 4.5],
                  [0, 0]], float)
    loops = dilate_ring(C, 0.6, QS)
    assert len(loops) == 2
    areas = sorted(ring_area(l) for l in loops)
    assert areas[0] < 0 < areas[1]  # CW hole + CCW shell


def test_star_vs_grid_oracle():
    """Irregular non-axis-parallel concave star: grid distance-field oracle
    (independent of the offset implementation)."""
    t = np.linspace(0, 2 * np.pi, 11)[:-1]
    rr = np.where(np.arange(10) % 2 == 0, 5.0, 2.0)
    star = np.stack([rr * np.cos(t), rr * np.sin(t)], 1)
    star = np.vstack([star, star[:1]])
    g = 1201
    xs = np.linspace(-7, 7, g)
    X, Y = np.meshgrid(xs, xs)
    pts = np.stack([X.ravel(), Y.ravel()], 1)
    d = _pts_to_segments_dist(pts, star[:-1], star[1:])
    inside = _pts_in_ring(pts, star)
    cell = (xs[1] - xs[0]) ** 2
    for r in (0.4, 1.0):
        dil = sum(ring_area(l) for l in dilate_ring(star, r, QS))
        ero = sum(ring_area(l) for l in erode_ring(star, r, QS))
        assert dil == pytest.approx((inside | (d <= r)).sum() * cell,
                                    abs=0.15)
        assert ero == pytest.approx((inside & (d >= r)).sum() * cell,
                                    abs=0.15)


def test_buffer_polygon_hole_erodes():
    ext = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = np.array([[3, 3], [3, 7], [7, 7], [7, 3], [3, 3]], float)  # CW
    parts = buffer_polygon([[ext, hole]], 1.0, QS)
    tot = sum(sum(ring_area(r) for r in p) for p in parts)
    want = 100 + 40 + 4 * sector(1.0) - (4 - 2 * 0) ** 2 / 4  # 4x4 -> 2x2
    assert tot == pytest.approx(100 + 40 + 4 * sector(1.0) - 4.0, abs=1e-9)


def test_buffer_polygon_negative_with_holes():
    # negative buffer: exterior erodes, hole dilates and is subtracted
    ext = np.array([[0, 0], [20, 0], [20, 20], [0, 20], [0, 0]], float)
    hole = np.array([[8, 8], [8, 12], [12, 12], [12, 8], [8, 8]], float)
    parts = buffer_polygon([[ext, hole]], -1.0, QS)
    tot = sum(sum(ring_area(r) for r in p) for p in parts)
    # shell 18^2; hole grows 4x4 -> rounded 6x6
    want = 18 * 18 - (16 + 16 + 4 * sector(1.0))
    assert tot == pytest.approx(want, abs=1e-9)


def test_line_buffer_round_caps():
    line = np.array([[0, 0], [10, 0]], float)
    loops = dilate_line(line, 1.0, QS)
    got = sum(ring_area(l) for l in loops)
    want = 20 + 2 * sector(1.0, np.pi)  # rect + two half-disk caps
    assert got == pytest.approx(want, abs=1e-9)


def test_geomarray_buffer_dispatch_concave():
    ga = from_rings([[[L]]], [POLYGON])
    out = buffer(ga, 0.5, quad_segs=QS)
    assert out.area()[0] == pytest.approx(12 + 8 + 5 * sector(0.5) - 0.25,
                                          abs=1e-9)
    neg = buffer(ga, -0.5, quad_segs=QS)
    assert neg.area()[0] == pytest.approx(5 + 0.25 - sector(0.5), abs=1e-9)


# ---------------------------------------------------------------- Spark e2e
def test_buffdissexp_concave_spark(spark):
    """buff -> dissolve -> explode on concave L-shapes: two overlapping
    buffered Ls dissolve into one part whose area the grid oracle confirms;
    a far-away L stays its own part with the exact analytic area."""
    from sgspark.dissolve import buffdissexp
    from sgspark.io import wkt_to_wkb_df

    def l_wkt(x0, y0):
        v = [(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4), (0, 0)]
        pts = ", ".join(f"{x0 + a} {y0 + b}" for a, b in v)
        return f"POLYGON (({pts}))"

    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "pid": [0, 1, 2],
        "grp": ["a", "a", "a"],
        # 0 and 1 overlap after buffering (gap 0.6 < 2*0.5); 2 is far away
        "geometry_wkt": [l_wkt(0, 0), l_wkt(4.6, 0), l_wkt(100, 0)]})))
    out = buffdissexp(df, 0.5, by=["grp"], quad_segs=QS).toPandas()
    assert len(out) == 2  # merged pair + the lone L
    from sgspark.geom import from_wkb
    areas = np.sort(from_wkb(list(out.geometry)).area())
    lone = 12 + 8 + 5 * sector(0.5) - 0.25
    assert areas[0] == pytest.approx(lone, abs=1e-9)
    # merged pair: grid oracle over the two-L distance field
    Ls = [np.array([[x0 + a, b] for a, b in
                    [(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4), (0, 0)]],
                   float) for x0 in (0.0, 4.6)]
    g = 1401
    xs = np.linspace(-1, 10, g)
    ys = np.linspace(-1, 5, g)
    X, Y = np.meshgrid(xs, ys)
    pts = np.stack([X.ravel(), Y.ravel()], 1)
    cov = np.zeros(len(pts), dtype=bool)
    for Lr in Ls:
        d = _pts_to_segments_dist(pts, Lr[:-1], Lr[1:])
        cov |= _pts_in_ring(pts, Lr) | (d <= 0.5)
    cell = (xs[1] - xs[0]) * (ys[1] - ys[0])
    assert areas[1] == pytest.approx(cov.sum() * cell, abs=0.05)


def test_buffdissexp_raises_no_user_warning(spark):
    """The grouped-map functions carry no partial type hints, so
    applyInPandas does not warn that it cannot infer their eval type."""
    import warnings

    from sgspark.dissolve import buffdissexp
    from sgspark.io import wkt_to_wkb_df

    df = wkt_to_wkb_df(spark.createDataFrame(pd.DataFrame({
        "pid": [0, 1], "grp": ["a", "a"],
        "geometry_wkt": ["POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
                         "POLYGON ((2.5 0, 4 0, 4 2, 2.5 2, 2.5 0))"]})))
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        out = buffdissexp(df, 0.5, by=["grp"], quad_segs=QS).toPandas()
    assert len(out) == 1


def rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


def test_buffer_handles_holes():
    """Round 2 raised on interior rings; round 3's trimmed-offset kernel
    buffers them: the exterior dilates, the hole erodes independently."""
    sq = rect(0, 0, 10, 10)
    hole = rect(3, 3, 7, 7)[::-1]
    ga = from_rings([[[sq, hole]]], [POLYGON])
    out = buffer(ga, 1.0, quad_segs=8)
    # exterior: 100 + 40 + discretized pi; hole erodes 4x4 -> 2x2
    sector = 0.5 * np.sin((np.pi / 2) / 8) * 8 * 4
    assert out.area()[0] == pytest.approx(100 + 40 + sector - 4.0)


def test_negative_buffer_convex_exact():
    sq = rect(0, 0, 10, 10)
    ga = from_rings([[[sq]]], [POLYGON])
    out = buffer(ga, -2.0)
    assert out.area()[0] == pytest.approx(36.0)
    # thinner than 2*dist -> empty
    assert convex_ring_erode(rect(0, 0, 10, 3), 2.0) is None
