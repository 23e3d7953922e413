"""Property-based tests (hypothesis) for the grid core — beyond the
reference's example-based suite (SURVEY.md §5 notes it has none)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rio_cogeo_spark import grid

lons = st.floats(min_value=-179.999, max_value=179.999, allow_nan=False)
lats = st.floats(min_value=-84.9, max_value=84.9, allow_nan=False)
zooms = st.integers(min_value=0, max_value=20)


@given(lons, lats, zooms)
@settings(max_examples=200, deadline=None)
def test_point_always_inside_its_tile(lon, lat, z):
    tx, ty = grid.tile_index([lon], [lat], z)
    w, s, e, n = grid.tile_bounds_mercator(tx, ty, z)
    mx, my = grid.lonlat_to_mercator([lon], [lat])
    # tolerance: floor-of-product addressing can land a point within a few
    # ulps of the boundary on the wrong side (inherent to every slippy
    # implementation); allow span-relative 1e-12 slack
    eps = (e[0] - w[0]) * 1e-12
    assert w[0] - eps <= mx[0] < e[0] + eps
    assert s[0] - eps <= my[0] <= n[0] + eps


@given(lons, lats, zooms)
@settings(max_examples=200, deadline=None)
def test_parent_tile_is_floor_div(lon, lat, z):
    if z == 0:
        return
    tx, ty = grid.tile_index([lon], [lat], z)
    px, py = grid.tile_index([lon], [lat], z - 1)
    assert px[0] == tx[0] // 2 and py[0] == ty[0] // 2


@given(lons, lats)
@settings(max_examples=200, deadline=None)
def test_mercator_roundtrip_property(lon, lat):
    x, y = grid.lonlat_to_mercator([lon], [lat])
    lon2, lat2 = grid.mercator_to_lonlat(x, y)
    assert abs(lon2[0] - lon) < 1e-7 and abs(lat2[0] - lat) < 1e-7


@given(st.integers(min_value=1, max_value=100000),
       st.integers(min_value=1, max_value=100000),
       st.integers(min_value=16, max_value=1024))
@settings(max_examples=200, deadline=None)
def test_max_overview_level_invariant(w, h, minsize):
    lvl = grid.max_overview_level(w, h, minsize)
    # the smallest overview must stay > minsize at level-1 and <= at level
    if lvl > 0:
        assert min(w // (2 ** (lvl - 1)), h // (2 ** (lvl - 1))) > minsize
    assert min(w // (2**lvl), h // (2**lvl)) <= minsize


@given(st.floats(min_value=0.01, max_value=200000, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_zoom_for_res_ordering(res):
    z_auto = grid.zoom_for_res(res, zoom_level_strategy="auto")
    z_lower = grid.zoom_for_res(res, zoom_level_strategy="lower")
    z_upper = grid.zoom_for_res(res, zoom_level_strategy="upper")
    assert z_lower <= z_auto <= z_upper
    assert z_upper - z_lower <= 1


@given(st.integers(min_value=0, max_value=15),
       st.integers(min_value=0, max_value=1000),
       st.integers(min_value=0, max_value=1000),
       st.integers(min_value=1, max_value=3))
@settings(max_examples=200, deadline=None)
def test_k_ring_contains_center_and_wraps(z, tx, ty, k):
    n = 1 << z
    tx, ty = tx % n, ty % n
    ring = grid.k_ring(tx, ty, z, k)
    assert (tx, ty) in ring
    assert len(set(ring)) == len(ring)
    assert all(0 <= x < n and 0 <= y < n for x, y in ring)
    # ring size bounded by the full square, shrunk only by y-clamping
    assert len(ring) <= (2 * k + 1) ** 2


@given(st.lists(st.tuples(lons, lats), min_size=3, max_size=12))
@settings(max_examples=100, deadline=None)
def test_ray_cast_centroid_of_triangle(pts):
    """For any triangle (first 3 distinct points), its centroid is inside."""
    from rio_cogeo_spark.operators.join import ray_cast

    p = pts[:3]
    (x1, y1), (x2, y2), (x3, y3) = p
    area2 = (x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)
    if abs(area2) < 1e-6:
        return  # degenerate
    cx, cy = (x1 + x2 + x3) / 3, (y1 + y2 + y3) / 3
    ring_x = np.array([x1, x2, x3, x1])
    ring_y = np.array([y1, y2, y3, y1])
    assert ray_cast(np.array([cx]), np.array([cy]), ring_x, ring_y)[0]
