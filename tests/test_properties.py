"""Property-based tests (hypothesis) for the pure-numpy kernels.

The vectorized tilemath/cells/geometry kernels are the foundation every
Spark op stands on; these sweep them against the scalar executable spec
(tests/oracle.py) and against algebraic invariants over generated
inputs no hand-written case anticipates. No SparkSession — runs in
milliseconds per example.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mosaic_engine import cells, geometry, tilemath as tm
from tests import oracle

LON = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
LAT = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
ZOOM = st.integers(min_value=0, max_value=18)


@settings(max_examples=200, deadline=None)
@given(LON, LAT, ZOOM)
def test_lonlat_to_tile_matches_scalar_oracle(lon, lat, zoom):
    x, y = tm.lonlat_to_tile([lon], [lat], zoom)
    ex, ey = oracle.tile(lon, lat, zoom)
    assert (int(x[0]), int(y[0])) == (ex, ey)


@settings(max_examples=200, deadline=None)
@given(LON, st.floats(min_value=-85.0, max_value=85.0, allow_nan=False), ZOOM)
def test_tile_bounds_contain_their_point(lon, lat, zoom):
    """A point maps into a tile whose bounds contain it (up to the
    mercantile EPSILON edge-shift, which can push a boundary point one
    tile over — allow that one-ULP-of-a-tile slack)."""
    x, y = tm.lonlat_to_tile([lon], [lat], zoom)
    w, s, e, n = tm.tile_bounds(x, y, zoom)
    pad = 360.0 / (1 << zoom) * 1e-6 + 1e-9
    assert w[0] - pad <= lon <= e[0] + pad
    assert s[0] - pad <= lat <= n[0] + pad


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=20), st.data())
def test_quadkey_roundtrip_and_parent_prefix(zoom, data):
    x = data.draw(st.integers(min_value=0, max_value=(1 << zoom) - 1))
    y = data.draw(st.integers(min_value=0, max_value=(1 << zoom) - 1))
    qk = tm.tile_to_quadkey([x], [y], zoom)[0]
    assert len(qk) == zoom
    assert qk == oracle.quadkey(x, y, zoom)
    rx, ry, rz = tm.quadkey_to_tile([qk])
    assert (int(rx[0]), int(ry[0]), int(rz[0])) == (x, y, zoom)
    if zoom > 1:
        pq = tm.tile_to_quadkey([x >> 1], [y >> 1], zoom - 1)[0]
        assert pq == qk[:-1]  # quadkeys nest by prefix


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=29), st.data())
def test_cell_pack_unpack_roundtrip_and_parent(level, data):
    x = data.draw(st.integers(min_value=0, max_value=(1 << level) - 1)) if level else 0
    y = data.draw(st.integers(min_value=0, max_value=(1 << level) - 1)) if level else 0
    c = cells.pack_cell([x], [y], level)
    ux, uy, ul = cells.unpack_cell(c)
    assert (int(ux[0]), int(uy[0]), int(ul[0])) == (x, y, level)
    if level > 0:
        # ids nest by prefix: the parent's morton code is the child's
        # shifted past one level's two bits
        p = cells.pack_cell([x >> 1], [y >> 1], level - 1)
        assert int(p[0]) >> 6 == (int(c[0]) >> 6 & ((1 << 58) - 1)) >> 2
    # morton packing preserves the z-order locality contract:
    # same-parent siblings pack adjacently in id space
    if 0 < level <= 28:
        sib = cells.pack_cell([x ^ 1], [y], level)
        assert abs(int(sib[0]) - int(c[0])) <= (3 << 6)


@settings(max_examples=200, deadline=None)
@given(LON, LAT, LON, LAT)
def test_haversine_metric_properties(lon1, lat1, lon2, lat2):
    d = float(geometry.haversine_m([lon1], [lat1], [lon2], [lat2])[0])
    dr = float(geometry.haversine_m([lon2], [lat2], [lon1], [lat1])[0])
    assert d == dr  # symmetric
    assert 0.0 <= d <= math.pi * 6371008.8 * (1 + 1e-12)  # ≤ half circumference
    assert float(geometry.haversine_m([lon1], [lat1], [lon1], [lat1])[0]) == 0.0
    # 360-periodic in longitude
    dp = float(geometry.haversine_m([lon1 + 360.0], [lat1], [lon2], [lat2])[0])
    assert abs(dp - d) < 1e-6
    # matches the scalar oracle formula (different operation order →
    # up to ~1 ULP apart; the engine's kNN pruning margins absorb 1e-9)
    assert math.isclose(d, oracle.haversine_m(lon1, lat1, lon2, lat2),
                        rel_tol=1e-12, abs_tol=1e-6)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-170.0, max_value=170.0, allow_nan=False),
            st.floats(min_value=-80.0, max_value=80.0, allow_nan=False),
        ),
        min_size=3,
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.floats(min_value=-175.0, max_value=175.0, allow_nan=False),
            st.floats(min_value=-85.0, max_value=85.0, allow_nan=False),
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_points_in_polys_matches_scalar_ray_cast(ring_pts, probe_pts):
    ring = list(ring_pts) + [ring_pts[0]]  # close it
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    # points_in_polys pairs point i with ring row i → tile the ring
    k = len(probe_pts)
    RX, RY, nvert = geometry.pad_rings([np.array(xs)] * k, [np.array(ys)] * k)
    px = np.array([p[0] for p in probe_pts])
    py = np.array([p[1] for p in probe_pts])
    got = geometry.points_in_polys(px, py, RX, RY)
    for i, (qx, qy) in enumerate(probe_pts):
        exp = oracle.point_in_ring(qx, qy, ring)
        assert bool(got[i]) == bool(exp), (qx, qy, ring)


@settings(max_examples=150, deadline=None)
@given(
    st.floats(min_value=-179.9, max_value=179.0, allow_nan=False),
    st.floats(min_value=-84.0, max_value=83.0, allow_nan=False),
    st.floats(min_value=1e-6, max_value=40.0, allow_nan=False),
    st.floats(min_value=1e-6, max_value=20.0, allow_nan=False),
    st.integers(min_value=0, max_value=10),
)
def test_cover_ranges_matches_scalar_cover(w, s, dw, dh, zoom):
    e = min(w + dw, 180.0)
    n = min(s + dh, 85.05)
    xmin, xmax, ymin, ymax = tm.cover_ranges([w], [s], [e], [n], zoom)
    got = {
        (x, y)
        for x in range(int(xmin[0]), int(xmax[0]) + 1)
        for y in range(int(ymin[0]), int(ymax[0]) + 1)
    }
    exp = set(oracle.tiles_cover(w, s, e, n, zoom))
    assert got == exp


def test_kernel_guards_reject_corrupt_input():
    """(review r3) corrupt/out-of-domain input fails loudly: NaN coords,
    empty rings, out-of-range cell levels."""
    import pytest

    from mosaic_engine import cells, geometry, tilemath as tm

    with pytest.raises(ValueError, match="NaN"):
        tm.lonlat_to_tile([float("nan")], [0.0], 8)
    with pytest.raises(ValueError, match="empty ring"):
        geometry.pad_rings([np.array([])], [np.array([])])
    with pytest.raises(ValueError, match="level"):
        cells.pack_cell([0], [0], 30)
    # level 29 is allowed but documented sign-caveat: still roundtrips
    c29 = cells.pack_cell([0], [2**28], 29)
    x, y, lv = cells.unpack_cell(c29)
    assert (int(x[0]), int(y[0]), int(lv[0])) == (0, 2**28, 29)
