"""GDAL command-line utility analogs: gdalinfo -hist, gdal_translate
-scale, gdallocationinfo, gdal_merge, gdaldem color-relief.

Reference parity frame: rio-cogeo delegates these to GDAL/rasterio
around the COG pipeline; here they run over the tile grid with exact
integer contracts.
"""

import pytest
from pyspark.sql import functions as F

from rio_cogeo_spark.operators import gdalutil


def _tiles(spark, cells, value=None):
    rows = [
        (int(x), int(y), int(value[i] if value is not None else 1))
        for i, (x, y) in enumerate(cells)
    ]
    return spark.createDataFrame(
        rows, "tile_x long, tile_y long, page_count long"
    )


# ---------------------------------------------------------------------------
# raster_hist
# ---------------------------------------------------------------------------


def test_raster_hist_buckets_exact(spark):
    """Values 0..15 into 4 buckets of width 4; zero-count buckets when
    the range has gaps."""
    df = _tiles(spark, [(i, 0) for i in range(16)], value=list(range(16)))
    out = {r.bucket: r for r in gdalutil.raster_hist(df, n_buckets=4).collect()}
    assert len(out) == 4
    for b in range(4):
        assert out[b].n_cells == 4
        assert out[b].lo == b * 4 and out[b].hi == b * 4 + 3


def test_raster_hist_zero_count_buckets_emitted(spark):
    df = _tiles(spark, [(0, 0), (1, 0)], value=[0, 100])
    out = {r.bucket: r.n_cells for r in gdalutil.raster_hist(df, n_buckets=5).collect()}
    assert out[0] == 1 and out[4] == 1
    assert out[1] == out[2] == out[3] == 0


def test_raster_hist_max_lands_in_last_bucket(spark):
    """The +1 width rule: vmax itself must fall in bucket n-1, never
    overflow it."""
    df = _tiles(spark, [(0, 0), (1, 0), (2, 0)], value=[3, 7, 11])
    out = gdalutil.raster_hist(df, n_buckets=3).collect()
    assert sum(r.n_cells for r in out) == 3
    assert max(r.bucket for r in out if r.n_cells > 0) == 2


# ---------------------------------------------------------------------------
# scale_bytes
# ---------------------------------------------------------------------------


def test_scale_bytes_endpoints_and_monotone(spark):
    df = _tiles(spark, [(i, 0) for i in range(5)], value=[10, 20, 30, 40, 50])
    out = {r.v: r.scaled for r in gdalutil.scale_bytes(df).collect()}
    assert out[10] == 0 and out[50] == 255
    assert out[30] == (20 * 255) // 40  # exact integer midpoint
    vals = [out[v] for v in sorted(out)]
    assert vals == sorted(vals)


def test_scale_bytes_constant_input_maps_to_lo(spark):
    df = _tiles(spark, [(0, 0), (1, 1)], value=[7, 7])
    out = gdalutil.scale_bytes(df, lo=10, hi=20).collect()
    assert all(r.scaled == 10 for r in out)


# ---------------------------------------------------------------------------
# locationinfo
# ---------------------------------------------------------------------------


def test_locationinfo_hit_and_miss(spark):
    from rio_cogeo_spark.grid import tile_index

    zoom = 4
    tx, ty = tile_index(10.0, 50.0, zoom)
    tiles = _tiles(spark, [(tx, ty)], value=[42])
    pts = spark.createDataFrame(
        [("hit", 10.0, 50.0), ("miss", -150.0, -40.0)],
        "name string, lon double, lat double",
    )
    out = {r.name: r for r in gdalutil.locationinfo(tiles, pts, zoom).collect()}
    assert out["hit"].value == 42
    assert out["hit"].tile_x == tx and out["hit"].tile_y == ty
    assert out["miss"].value is None


# ---------------------------------------------------------------------------
# mosaic
# ---------------------------------------------------------------------------


def test_mosaic_priority_and_union(spark):
    a = _tiles(spark, [(0, 0), (1, 0)], value=[5, 6])
    b = _tiles(spark, [(1, 0), (2, 0)], value=[99, 7])
    out = {(r.tile_x, r.tile_y): r for r in gdalutil.mosaic(a, b).collect()}
    assert len(out) == 3
    assert out[(0, 0)].value == 5 and out[(0, 0)].src == "a"
    assert out[(1, 0)].value == 6 and out[(1, 0)].src == "a"  # a wins
    assert out[(2, 0)].value == 7 and out[(2, 0)].src == "b"


# ---------------------------------------------------------------------------
# color_relief
# ---------------------------------------------------------------------------


def test_color_relief_classes(spark):
    df = _tiles(spark, [(i, 0) for i in range(5)], value=[0, 1, 9, 10, 500])
    out = {r.v: r.cls for r in gdalutil.color_relief(
        df, [(1, "lo"), (10, "mid"), (100, "hi")]
    ).collect()}
    assert out[0] == "below"
    assert out[1] == "lo" and out[9] == "lo"
    assert out[10] == "mid"
    assert out[500] == "hi"


def test_color_relief_rejects_unsorted_breaks(spark):
    df = _tiles(spark, [(0, 0)])
    with pytest.raises(ValueError):
        gdalutil.color_relief(df, [(10, "a"), (1, "b")])
    with pytest.raises(ValueError):
        gdalutil.color_relief(df, [])


# ---------------------------------------------------------------------------
# equalize
# ---------------------------------------------------------------------------


def test_equalize_textbook_golden(spark):
    """4 cells of value 1, 2 of value 5, 2 of value 9; L=8:
    cdf = {1: 4, 5: 6, 9: 8}, cmin=4, N=8 -> eq = (cum-4)*7 div 4."""
    df = _tiles(
        spark, [(i, 0) for i in range(8)],
        value=[1, 1, 1, 1, 5, 5, 9, 9],
    )
    out = {r.v: r.eq for r in gdalutil.equalize(df, levels=8).collect()}
    assert out == {1: 0, 5: (6 - 4) * 7 // 4, 9: 7}


def test_equalize_constant_and_extremes(spark):
    """Constant grid -> all 0; min value always 0, max always L-1."""
    const = gdalutil.equalize(
        _tiles(spark, [(i, 0) for i in range(5)], value=[7] * 5), levels=256
    )
    assert {r.eq for r in const.collect()} == {0}
    ramp = gdalutil.equalize(
        _tiles(spark, [(i, 0) for i in range(10)], value=list(range(10))),
        levels=256,
    ).collect()
    m = {r.v: r.eq for r in ramp}
    assert m[0] == 0 and m[9] == 255
    assert all(m[i] <= m[i + 1] for i in range(9))  # monotone


def test_equalize_rejects_levels(spark):
    with pytest.raises(ValueError):
        gdalutil.equalize(_tiles(spark, [(0, 0)]), levels=1)


# ---------------------------------------------------------------------------
# clip
# ---------------------------------------------------------------------------


def test_clip_window_matches_tile_math(spark):
    """The clip filter keeps exactly the tiles whose index falls in the
    driver-resolved window, and re-origins offsets at (0, 0)."""
    from rio_cogeo_spark.grid import tile_index

    bbox = (-10.0, 35.0, 30.0, 60.0)
    zoom = 6
    tx0, ty0 = (int(v) for v in tile_index(-10.0, 60.0, zoom))
    tx1, ty1 = (int(v) for v in tile_index(30.0, 35.0, zoom))
    cells = [(tx0 - 1, ty0), (tx0, ty0), (tx1, ty1), (tx1 + 1, ty1),
             (tx0, ty0 - 1), (tx1, ty1 + 1)]
    out = gdalutil.clip(_tiles(spark, cells), zoom, bbox).collect()
    kept = {(r.tile_x, r.tile_y) for r in out}
    assert kept == {(tx0, ty0), (tx1, ty1)}
    offs = {(r.tile_x, r.tile_y): (r.col_off, r.row_off) for r in out}
    assert offs[(tx0, ty0)] == (0, 0)
    assert offs[(tx1, ty1)] == (tx1 - tx0, ty1 - ty0)


def test_clip_rejects_bad_bbox(spark):
    with pytest.raises(ValueError):
        gdalutil.clip(_tiles(spark, [(0, 0)]), 5, (10.0, 0.0, -10.0, 20.0))


# ---------------------------------------------------------------------------
# upsample
# ---------------------------------------------------------------------------


def test_upsample_children_exact(spark):
    """One tile at (2, 3) -> 4 children at (4..5, 6..7), value copied;
    mass quadruples (nearest), cell count x4."""
    out = gdalutil.upsample(
        _tiles(spark, [(2, 3)], value=[9])
    ).collect()
    assert {(r.tile_x, r.tile_y) for r in out} == {
        (4, 6), (4, 7), (5, 6), (5, 7)
    }
    assert all(r.value == 9 for r in out)


def test_upsample_roundtrip_with_overview(spark):
    """Upsample then decimate back (sum/4 = value for nearest): every
    parent's 4 children sum to 4x the parent."""
    df = _tiles(spark, [(0, 0), (1, 0), (3, 2)], value=[5, 7, 11])
    up = gdalutil.upsample(df)
    back = (
        up.groupBy(
            (F.col("tile_x") / 2).cast("long").alias("tile_x"),
            (F.col("tile_y") / 2).cast("long").alias("tile_y"),
        ).agg((F.sum("value") / 4).cast("long").alias("value"))
    )
    got = {(r.tile_x, r.tile_y): r.value for r in back.collect()}
    assert got == {(0, 0): 5, (1, 0): 7, (3, 2): 11}


# ---------------------------------------------------------------------------
# raster_calc / raster_compare
# ---------------------------------------------------------------------------


def test_raster_calc_ops_and_absent_as_zero(spark):
    a = _tiles(spark, [(0, 0), (1, 0)], value=[10, 4])
    b = _tiles(spark, [(1, 0), (2, 0)], value=[3, 5])
    sub = {(r.tile_x, r.tile_y): (r.va, r.vb, r.res)
           for r in gdalutil.raster_calc(a, b, "sub").collect()}
    assert sub == {(0, 0): (10, 0, 10), (1, 0): (4, 3, 1),
                   (2, 0): (0, 5, -5)}
    mx = {(r.tile_x, r.tile_y): r.res
          for r in gdalutil.raster_calc(a, b, "max").collect()}
    assert mx == {(0, 0): 10, (1, 0): 4, (2, 0): 5}
    with pytest.raises(ValueError):
        gdalutil.raster_calc(a, b, "div")


def test_raster_compare_summary(spark):
    a = _tiles(spark, [(0, 0), (1, 0), (2, 0)], value=[1, 2, 3])
    b = _tiles(spark, [(1, 0), (2, 0), (3, 0)], value=[2, 7, 9])
    r = gdalutil.raster_compare(a, b).collect()[0]
    assert (r.n_only_a, r.n_only_b, r.n_both) == (1, 1, 2)
    assert (r.n_same, r.n_diff) == (1, 1)
    assert r.max_abs_diff == 4 and r.sum_abs_diff == 4


def test_raster_compare_identical_grids(spark):
    a = _tiles(spark, [(0, 0), (5, 5)], value=[3, 8])
    r = gdalutil.raster_compare(a, a).collect()[0]
    assert (r.n_only_a, r.n_only_b, r.n_diff) == (0, 0, 0)
    assert r.n_same == 2 and r.max_abs_diff == 0


# ---------------------------------------------------------------------------
# slope_pct
# ---------------------------------------------------------------------------


def test_slope_flat_is_zero(spark):
    """A constant plateau has zero gradient at its interior cell."""
    cells = [(x, y) for x in range(3) for y in range(3)]
    out = gdalutil.slope_pct(
        _tiles(spark, cells, value=[4] * 9), 5
    ).collect()
    m = {(r.tile_x, r.tile_y): r for r in out}
    c = m[(1, 1)]
    assert c.slope_sq == 0 and c.slope_pct_mil == 0


def test_slope_matches_hand_formula(spark):
    """East-ramp v = x on a 3x3: interior gx8 = 8, gy8 = 0 ->
    slope_sq = 64, pct_mil = floor(100000*8/8) = 100000 (100% slope)."""
    import math

    cells = [(x, y) for x in range(3) for y in range(3)]
    vals = [x for x in range(3) for _ in range(3)]
    out = gdalutil.slope_pct(_tiles(spark, cells, value=vals), 5).collect()
    c = {(r.tile_x, r.tile_y): r for r in out}[(1, 1)]
    assert (c.gx8, c.gy8, c.slope_sq) == (8, 0, 64)
    assert c.slope_pct_mil == 100000
    for r in out:  # pinned-sqrt formula holds everywhere
        assert r.slope_pct_mil == math.floor(
            math.sqrt(r.slope_sq) * 100000.0 / 8.0
        )


# ---------------------------------------------------------------------------
# footprint / idw / tindex
# ---------------------------------------------------------------------------


def test_footprint_two_regions(spark):
    """An L-shaped region (3 cells) and an isolated cell: bboxes and
    exact fill ratios."""
    out = {r.label: r for r in gdalutil.footprint(
        _tiles(spark, [(0, 0), (1, 0), (1, 1), (5, 5)]), 5, rounds=4
    ).collect()}
    assert len(out) == 2
    big = next(r for r in out.values() if r.n_cells == 3)
    assert (big.min_x, big.min_y, big.max_x, big.max_y) == (0, 0, 1, 1)
    assert big.fill_ppm == 3 * 1_000_000 // 4
    lone = next(r for r in out.values() if r.n_cells == 1)
    assert (lone.min_x, lone.min_y) == (5, 5) and lone.fill_ppm == 1_000_000


def test_footprint_value_agnostic(spark):
    """Footprint merges on ADJACENCY only — differing values in the
    same rook component still form one region."""
    out = gdalutil.footprint(
        _tiles(spark, [(0, 0), (1, 0)], value=[3, 99]), 5
    ).collect()
    assert len(out) == 1 and out[0].n_cells == 2


def test_idw_weights_and_values(spark):
    """Radius 2: w(1)=4, w(2)=1. One sample v=8 at (2,2): node (3,2)
    gets 8000 (d=1), node (4,2) gets 8000 (d=2, single vote), the
    sample itself reports exactly 8000 as 'data'."""
    out = {(r.tile_x, r.tile_y): r for r in gdalutil.idw(
        _tiles(spark, [(2, 2)], value=[8]), 5
    ).collect()}
    assert len(out) == 25  # full 5x5 neighborhood in-bounds
    assert out[(2, 2)].src == "data" and out[(2, 2)].value_mil == 8000
    assert out[(3, 2)].src == "interp" and out[(3, 2)].value_mil == 8000
    assert out[(4, 4)].value_mil == 8000  # any single-donor node


def test_idw_two_donors_weighted_mean(spark):
    """Node (1,0) between v=10 at d=1 (w=4) and v=40 at d=2 (w=1):
    floor(1000·(4·10 + 1·40)/5) = 16000."""
    out = {(r.tile_x, r.tile_y): r for r in gdalutil.idw(
        _tiles(spark, [(0, 0), (3, 0)], value=[10, 40]), 5
    ).collect()}
    n = out[(1, 0)]
    assert n.src == "interp" and n.n_votes == 2
    assert n.value_mil == (4 * 10 + 1 * 40) * 1000 // 5


def test_tindex_golden_bounds(spark):
    """z1 tile (0,0) spans the NW mercator quadrant: west = -OS,
    east = 0, north = OS, south = 0 (in mm, floored)."""
    import math

    from rio_cogeo_spark.grid import ORIGIN_SHIFT

    out = gdalutil.tindex(_tiles(spark, [(0, 0)]), 1).collect()[0]
    assert out.west_mm == math.floor(-ORIGIN_SHIFT * 1000)
    assert out.east_mm == 0
    assert out.north_mm == math.floor(ORIGIN_SHIFT * 1000)
    assert out.south_mm == 0


def test_tindex_tiles_abut(spark):
    """Adjacent tiles share an edge: east of (0,0) == west of (1,0)."""
    out = {(r.tile_x, r.tile_y): r for r in gdalutil.tindex(
        _tiles(spark, [(0, 0), (1, 0)]), 8
    ).collect()}
    assert out[(0, 0)].east_mm == out[(1, 0)].west_mm
