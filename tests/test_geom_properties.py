"""Property-based tests (hypothesis) for the geometry core — the
reference's randomized-loop test style (SURVEY §5.2) upgraded to real
property testing.

Invariants checked on random rectangle / L-shape pairs:
  * area(A ∩ B) + area(A − B) == area(A)            (partition identity)
  * area(A ∪ B) == area(A) + area(B) − area(A ∩ B)  (inclusion–exclusion)
  * intersection is symmetric in area
  * batched Sutherland–Hodgman == per-pair convex clip
  * WKB encode/decode round-trips coordinates exactly
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from sgspark.geom.clip import (clip_ring_convex, clip_rings_by_rects_batch,
                               ensure_closed, pad_rings, padded_ring_areas,
                               polygon_boolean, ring_area)
from sgspark.geom.wkb import from_wkb, to_wkb
from sgspark.geom.array import POLYGON, from_rings

coord = st.integers(min_value=-50, max_value=50)


@st.composite
def rect_poly(draw):
    x0 = draw(coord)
    y0 = draw(coord)
    w = draw(st.integers(min_value=1, max_value=40))
    h = draw(st.integers(min_value=1, max_value=40))
    return np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                     [x0, y0 + h], [x0, y0]], dtype=float)


@st.composite
def lshape_poly(draw):
    """Concave 6-vertex L-shape with even coordinates (degeneracy-free
    against the odd-offset partner below)."""
    x0 = 2 * draw(st.integers(min_value=-25, max_value=20))
    y0 = 2 * draw(st.integers(min_value=-25, max_value=20))
    s = 2 * draw(st.integers(min_value=3, max_value=15))
    a = 2 * draw(st.integers(min_value=1, max_value=s // 2 - 1))
    b = 2 * draw(st.integers(min_value=1, max_value=s // 2 - 1))
    return np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + b],
                     [x0 + a, y0 + b], [x0 + a, y0 + s], [x0, y0 + s],
                     [x0, y0]], dtype=float)


def area_parts(parts):
    return sum(ring_area(r) for p in (parts or []) for r in p)


@settings(max_examples=60, deadline=None)
@given(a=lshape_poly(), b=lshape_poly())
def test_partition_identity_lshapes(a, b):
    b = b + np.array([1.0, 1.0])  # odd offset: no shared lattice lines
    A, B = [[a]], [[b]]
    ia = area_parts(polygon_boolean(A, B, "intersection"))
    da = area_parts(polygon_boolean(A, B, "difference"))
    assert ia + da == pytest.approx(ring_area(a), abs=1e-6)


@settings(max_examples=60, deadline=None)
@given(a=lshape_poly(), b=lshape_poly())
def test_inclusion_exclusion_union(a, b):
    b = b + np.array([1.0, 1.0])
    A, B = [[a]], [[b]]
    ia = area_parts(polygon_boolean(A, B, "intersection"))
    ua = area_parts(polygon_boolean(A, B, "union"))
    assert ua == pytest.approx(ring_area(a) + ring_area(b) - ia, abs=1e-6)


@settings(max_examples=60, deadline=None)
@given(a=lshape_poly(), b=lshape_poly())
def test_intersection_symmetric(a, b):
    b = b + np.array([1.0, 1.0])
    ab = area_parts(polygon_boolean([[a]], [[b]], "intersection"))
    ba = area_parts(polygon_boolean([[b]], [[a]], "intersection"))
    assert ab == pytest.approx(ba, abs=1e-9)


@settings(max_examples=40, deadline=None)
@given(subs=st.lists(lshape_poly(), min_size=1, max_size=8),
       r=rect_poly())
def test_batched_sh_equals_per_pair(subs, r):
    rect = np.array([r[:, 0].min(), r[:, 1].min(),
                     r[:, 0].max(), r[:, 1].max()])
    P, C = pad_rings([s[:-1] for s in subs])
    Po, Co = clip_rings_by_rects_batch(P, C, np.tile(rect, (len(subs), 1)))
    got = padded_ring_areas(Po, Co)
    for i, s in enumerate(subs):
        res = clip_ring_convex(ensure_closed(s), r)
        want = ring_area(res) if res is not None else 0.0
        assert got[i] == pytest.approx(want, abs=1e-9)


@settings(max_examples=40, deadline=None)
@given(a=lshape_poly())
def test_wkb_roundtrip_exact(a):
    ga = from_rings([[[a]]], [POLYGON])
    back = from_wkb(to_wkb(ga))
    assert np.array_equal(back.coords, ga.coords)
    assert back.area()[0] == pytest.approx(ring_area(a), abs=0)


@st.composite
def star_wkt(draw):
    """Star polygon WKT (integer vertices when `snap`), plain, holed or
    a two-part multipolygon; many vertices put many edges in one band."""
    cx = draw(st.integers(-20, 20))
    cy = draw(st.integers(-20, 20))
    radii = draw(st.lists(st.integers(2, 12), min_size=3, max_size=60))
    phase = draw(st.floats(0, 1))
    snap = draw(st.booleans())

    def ring(x0, scale):
        a = phase + 2 * np.pi * np.arange(len(radii)) / len(radii)
        xs = x0 + scale * np.array(radii) * np.cos(a)
        ys = cy + scale * np.array(radii) * np.sin(a)
        if snap:
            xs, ys = np.round(xs), np.round(ys)
        pts = [f"{x!r} {y!r}" for x, y in zip(xs, ys)]
        return "(" + ", ".join(pts + pts[:1]) + ")"

    kind = draw(st.sampled_from(["plain", "hole", "multi"]))
    if kind == "hole":
        return f"POLYGON ({ring(cx, 1.0)}, {ring(cx, 0.3)})"
    if kind == "multi":
        return f"MULTIPOLYGON (({ring(cx, 1.0)}), ({ring(cx + 30, 0.7)}))"
    return f"POLYGON {ring(cx, 1.0)}"


@settings(max_examples=60, deadline=None)
@given(wkts=st.lists(star_wkt(), min_size=1, max_size=5),
       seed=st.integers(0, 2 ** 31))
def test_banded_pip_equals_full_edge_pip(wkts, seed):
    """The banded point-in-polygon expansion (each pair tests its band's
    edges) returns bit-identical parity and on-edge flags to testing
    every edge, on lattice points (on vertices and edges) and random
    ones."""
    from sgspark.geom import predicates as P
    from sgspark.geom.wkb import from_wkt
    rng = np.random.default_rng(seed)
    ra = from_wkt(wkts)
    n = 600
    px = np.r_[rng.integers(-35, 65, n // 2),
               rng.uniform(-35, 65, n - n // 2)].astype(np.float64)
    py = np.r_[rng.integers(-35, 35, n // 2),
               rng.uniform(-35, 35, n - n // 2)].astype(np.float64)
    ri = rng.integers(0, len(wkts), n)
    old = P._BAND_MIN_TESTS
    try:
        P._BAND_MIN_TESTS = float("inf")
        full = P._pip_parity_and_edge(px, py, ra, ri)
        P._BAND_MIN_TESTS = 0
        banded = P._pip_parity_and_edge(px, py, ra, ri)
    finally:
        P._BAND_MIN_TESTS = old
    assert np.array_equal(full[0], banded[0])
    assert np.array_equal(full[1], banded[1])
