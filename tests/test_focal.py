"""Focal/neighborhood raster suite: dilation, focal stats, Gi*
hotspots, quadtree compaction, Z-order range decomposition.

Reference frame: rio-cogeo's block grid (utils.py:125-140) — these are
the horizontal-window analogs of the vertical overview decimation
(cogeo.py:259-276); compaction mirrors the sparse-COG "store the parent
block" overview structure, morton ranges the clustered-read payoff of
the Z-order layout variant.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_plan_shapes import plan_of

from rio_cogeo_spark.functions.tile import (
    _morton_scalar,
    coarsen_ranges,
    morton_bbox_ranges,
    morton_key,
    morton_range_filter,
)
from rio_cogeo_spark.operators import focal


def _tiles(spark, cells, zoom=None, value=None):
    rows = [
        (int(x), int(y), int(value[i] if value is not None else 1))
        for i, (x, y) in enumerate(cells)
    ]
    return spark.createDataFrame(rows, "tile_x long, tile_y long, page_count long")


# ---------------------------------------------------------------------------
# dilation
# ---------------------------------------------------------------------------


def test_dilate_interior_and_corner(spark):
    df = _tiles(spark, [(1, 1)])
    got = {tuple(r) for r in focal.dilate_tiles(df, 2).collect()}
    assert got == {(x, y) for x in (0, 1, 2) for y in (0, 1, 2)}

    corner = _tiles(spark, [(0, 0)])
    got = {tuple(r) for r in focal.dilate_tiles(corner, 2).collect()}
    assert got == {(0, 0), (0, 1), (1, 0), (1, 1)}


def test_dilate_radius_2_and_validation(spark):
    df = _tiles(spark, [(4, 4)])
    got = focal.dilate_tiles(df, 4, radius=2).count()
    assert got == 25
    with pytest.raises(ValueError):
        focal.dilate_tiles(df, 4, radius=0)


# ---------------------------------------------------------------------------
# focal stats vs a dense numpy convolution
# ---------------------------------------------------------------------------


def _dense_focal(grid: np.ndarray, radius: int = 1):
    n = grid.shape[0]
    s = np.zeros_like(grid)
    c = np.zeros_like(grid)
    for x in range(n):
        for y in range(n):
            xs = slice(max(0, x - radius), min(n, x + radius + 1))
            ys = slice(max(0, y - radius), min(n, y + radius + 1))
            s[x, y] = grid[xs, ys].sum()
            c[x, y] = (xs.stop - xs.start) * (ys.stop - ys.start)
    return s, c


def test_focal_stats_matches_dense_convolution(spark):
    zoom = 3
    n = 2 ** zoom
    rng = np.random.RandomState(7)
    grid = np.zeros((n, n), dtype=np.int64)
    occupied = [(int(x), int(y)) for x, y in rng.randint(0, n, size=(20, 2))]
    vals = rng.randint(1, 50, size=len(occupied))
    for (x, y), v in zip(occupied, vals):
        grid[x, y] += int(v)
    cells = sorted({(x, y) for x, y in occupied})
    df = _tiles(spark, cells, value=[grid[x, y] for x, y in cells])

    s, c = _dense_focal(grid)
    out = {
        (r.tile_x, r.tile_y): (r.focal_sum, r.n_cells, r.focal_mean)
        for r in focal.focal_stats(df, zoom).collect()
    }
    for x in range(n):
        for y in range(n):
            if s[x, y] == 0:
                assert (x, y) not in out  # sparse: zero windows not emitted
            else:
                fs, nc, fm = out[(x, y)]
                assert fs == s[x, y]
                assert nc == c[x, y]
                assert fm == pytest.approx(s[x, y] / c[x, y])


def test_hotspots_matches_dense_gi_star(spark):
    zoom = 3
    n = 2 ** zoom
    grid = np.zeros((n, n), dtype=np.int64)
    cells = [(2, 2), (2, 3), (3, 2), (3, 3), (6, 6)]
    for i, (x, y) in enumerate(cells):
        grid[x, y] = 10 * (i + 1)
    df = _tiles(spark, cells, value=[grid[x, y] for x, y in cells])

    N = float(n * n)
    mean = grid.sum() / N
    std = np.sqrt((grid.astype(float) ** 2).sum() / N - mean ** 2)
    s, c = _dense_focal(grid)
    got = {
        (r.tile_x, r.tile_y): r.gi_star for r in focal.hotspots(df, zoom).collect()
    }
    for (x, y), gi in got.items():
        w = float(c[x, y])
        want = (s[x, y] - mean * w) / (std * np.sqrt((N * w - w * w) / (N - 1)))
        assert gi == pytest.approx(want, rel=1e-12)
    # the dense 2x2 cluster's center windows dominate
    top = max(got, key=got.get)
    assert top in {(2, 2), (2, 3), (3, 2), (3, 3)}


# ---------------------------------------------------------------------------
# quadtree compaction
# ---------------------------------------------------------------------------


def test_compact_full_grid_collapses_to_root(spark):
    zoom = 2
    cells = [(x, y) for x in range(4) for y in range(4)]
    out = focal.compact_tiles(_tiles(spark, cells), zoom, min_zoom=0).collect()
    assert [(r.zoom, r.tile_x, r.tile_y) for r in out] == [(0, 0, 0)]


def test_compact_partial_quads_stay_put(spark):
    # one full quad (parent (0,0)) + one incomplete quad at parent (1,1)
    cells = [(0, 0), (0, 1), (1, 0), (1, 1), (2, 2), (3, 2), (2, 3)]
    out = {
        (r.zoom, r.tile_x, r.tile_y)
        for r in focal.compact_tiles(_tiles(spark, cells), 2, min_zoom=0).collect()
    }
    assert out == {(1, 0, 0), (2, 2, 2), (2, 3, 2), (2, 2, 3)}


def test_compact_uncompact_roundtrip_random(spark):
    zoom = 4
    rng = np.random.RandomState(11)
    cells = sorted({
        (int(x), int(y)) for x, y in rng.randint(0, 2 ** zoom, size=(120, 2))
    })
    df = _tiles(spark, cells)
    comp = focal.compact_tiles(df, zoom, min_zoom=0)
    back = {
        tuple(r) for r in focal.uncompact_tiles(comp, zoom).collect()
    }
    assert back == set(cells)
    # compaction never inflates the cover
    assert comp.count() <= len(cells)


def test_compact_validation(spark):
    df = _tiles(spark, [(0, 0)])
    with pytest.raises(ValueError):
        focal.compact_tiles(df, 3, min_zoom=4)


# ---------------------------------------------------------------------------
# morton bbox decomposition
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_morton_ranges_exact_cover(seed):
    zoom = 4
    n = 2 ** zoom
    rng = np.random.RandomState(seed)
    x0, x1 = sorted(rng.randint(0, n, 2))
    y0, y1 = sorted(rng.randint(0, n, 2))
    ranges = morton_bbox_ranges(int(x0), int(y0), int(x1), int(y1), zoom)
    # sorted, disjoint, merged
    assert all(ranges[i][1] + 1 < ranges[i + 1][0] for i in range(len(ranges) - 1))
    want = {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
    got = {
        (x, y)
        for x in range(n)
        for y in range(n)
        if any(lo <= _morton_scalar(x, y) <= hi for lo, hi in ranges)
    }
    assert got == want


def test_morton_ranges_validation():
    with pytest.raises(ValueError):
        morton_bbox_ranges(0, 0, 16, 3, 4)  # x1 out of grid


def test_morton_filter_both_paths_agree(spark):
    zoom = 4
    cells = [(x, y) for x in range(16) for y in range(16)]
    df = _tiles(spark, cells).withColumn(
        "m", morton_key(F.col("tile_x"), F.col("tile_y"))
    )
    ranges = morton_bbox_ranges(3, 2, 12, 11, zoom)
    assert len(ranges) > 1
    via_or = df.filter(
        morton_range_filter(F.col("m"), ranges, or_chain_max=10_000)
    )
    via_exists = df.filter(morton_range_filter(F.col("m"), ranges, or_chain_max=0))
    a = {(r.tile_x, r.tile_y) for r in via_or.collect()}
    b = {(r.tile_x, r.tile_y) for r in via_exists.collect()}
    assert a == b == {(x, y) for x in range(3, 13) for y in range(2, 12)}
    with pytest.raises(ValueError):
        morton_range_filter(F.col("m"), [])


def test_coarsen_ranges_superset():
    ranges = morton_bbox_ranges(2, 3, 10, 12, 4)
    coarse = coarsen_ranges(ranges, 4)
    assert len(coarse) <= 4
    assert coarse[0][0] == ranges[0][0] and coarse[-1][1] == ranges[-1][1]
    # superset: every original key interval is inside some coarse range
    for lo, hi in ranges:
        assert any(clo <= lo and hi <= chi for clo, chi in coarse)
    with pytest.raises(ValueError):
        coarsen_ranges(ranges, 0)


# ---------------------------------------------------------------------------
# LOD viewport assembly
# ---------------------------------------------------------------------------


def _mixed(spark, rows):
    return spark.createDataFrame(
        [(int(z), int(x), int(y)) for z, x, y in rows],
        "zoom int, tile_x long, tile_y long",
    )


def test_viewport_identity_on_full_level(spark):
    # every requested tile present at the requested zoom → src == req
    avail = _mixed(spark, [(2, x, y) for x in range(4) for y in range(4)])
    out = focal.assemble_viewport(avail, 2, (1, 1, 2, 2), min_zoom=0)
    got = {(r.req_x, r.req_y): (r.src_zoom, r.src_x, r.src_y)
           for r in out.collect()}
    assert got == {(x, y): (2, x, y) for x in (1, 2) for y in (1, 2)}


def test_viewport_deepest_ancestor_wins(spark):
    # z2 child exists for (2,2) only; z1 parent (1,1) covers its 3
    # siblings; z0 root covers everything else
    avail = _mixed(spark, [(2, 2, 2), (1, 1, 1), (0, 0, 0)])
    out = focal.assemble_viewport(avail, 2, (0, 0, 3, 3), min_zoom=0)
    got = {(r.req_x, r.req_y): (r.src_zoom, r.src_x, r.src_y)
           for r in out.collect()}
    assert got[(2, 2)] == (2, 2, 2)              # exact tile
    assert got[(3, 2)] == (1, 1, 1)              # sibling → parent
    assert got[(2, 3)] == (1, 1, 1)
    assert got[(0, 0)] == (0, 0, 0)              # far tile → root
    assert len(got) == 16


def test_viewport_uncovered_tiles_absent(spark):
    avail = _mixed(spark, [(2, 0, 0)])
    out = focal.assemble_viewport(avail, 2, (0, 0, 3, 3), min_zoom=1)
    got = {(r.req_x, r.req_y) for r in out.collect()}
    assert got == {(0, 0)}  # min_zoom=1 excludes any z0 fallback


def test_viewport_validation(spark):
    avail = _mixed(spark, [(2, 0, 0)])
    with pytest.raises(ValueError):
        focal.assemble_viewport(avail, 2, (0, 0, 4, 3), min_zoom=0)
    with pytest.raises(ValueError):
        focal.assemble_viewport(avail, 2, (0, 0, 1, 1), min_zoom=3)
    with pytest.raises(ValueError):
        focal.viewport_cells(2, 2, 1, 3, 2)  # x0 > x1


# ---------------------------------------------------------------------------
# quadkey codec
# ---------------------------------------------------------------------------


def test_quadkey_roundtrip_and_prefix(spark):
    from rio_cogeo_spark.functions.quadkey import (
        quadkey, quadkey_decode, quadkey_sql,
    )

    zoom = 5
    cells = [(x, y) for x in range(0, 32, 3) for y in range(0, 32, 5)]
    df = _tiles(spark, cells).select(
        "tile_x", "tile_y",
        quadkey(F.col("tile_x"), F.col("tile_y"), zoom).alias("qk"),
        quadkey(
            F.shiftright(F.col("tile_x"), 2),
            F.shiftright(F.col("tile_y"), 2),
            zoom - 2,
        ).alias("anc"),
    )
    for r in df.collect():
        assert quadkey_decode(r.qk) == (r.tile_x, r.tile_y, zoom)
        assert len(r.qk) == zoom
        # prefix-ancestor property: the zoom-2 ancestor's key is the
        # child key's first zoom-2 digits
        assert r.anc == r.qk[: zoom - 2]
        px, py, pz = quadkey_decode(r.qk[: zoom - 1])
        assert (px, py, pz) == (r.tile_x >> 1, r.tile_y >> 1, zoom - 1)
    # known Bing example: (x=3, y=5, z=3) -> "213"
    import pandas as pd  # noqa: F401
    row = _tiles(spark, [(3, 5)]).select(
        quadkey(F.col("tile_x"), F.col("tile_y"), 3).alias("qk")
    ).collect()[0]
    assert row.qk == "213"
    # SQL twin byte-identical via duckdb
    import duckdb
    got = duckdb.sql(
        f"SELECT {quadkey_sql('3', '5', 3)} AS qk"
    ).fetchone()[0]
    assert got == "213"


def test_quadkey_validation():
    from rio_cogeo_spark.functions.quadkey import quadkey_decode, quadkey_sql
    import pytest as _pytest

    with _pytest.raises(ValueError):
        quadkey_decode("012x")
    with _pytest.raises(ValueError):
        quadkey_sql("a", "b", -1)
    assert quadkey_sql("a", "b", 0) == "''"


# ---------------------------------------------------------------------------
# Focal majority filter
# ---------------------------------------------------------------------------

def test_focal_mode_golden_and_tiebreak(spark):
    from rio_cogeo_spark.operators.focal import focal_mode

    # 3 classified tiles in a row at z4: (0,0)=A, (1,0)=B, (2,0)=B
    tiles = spark.createDataFrame(
        [(0, 0, "A"), (1, 0, "B"), (2, 0, "B")],
        "tile_x long, tile_y long, cls string",
    )
    out = {(r.tile_x, r.tile_y): (r.mode_class, r.mode_count, r.window_count)
           for r in focal_mode(tiles, 4).collect()}
    # only the 3 input cells are emitted (no halo growth)
    assert set(out) == {(0, 0), (1, 0), (2, 0)}
    # cell (0,0): window sees A,B -> tie 1-1 -> smallest class A wins
    assert out[(0, 0)] == ("A", 1, 2)
    # cell (1,0): sees A,B,B -> B
    assert out[(1, 0)] == ("B", 2, 3)
    # cell (2,0): sees B,B -> B (A out of radius)
    assert out[(2, 0)] == ("B", 2, 2)


def test_focal_mode_ignores_absent_cells_and_validates(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.focal import focal_mode

    # an isolated tile: window_count = 1 (absent neighbors carry no
    # class — categorical semantics, not zero-fill)
    tiles = spark.createDataFrame(
        [(5, 5, "X")], "tile_x long, tile_y long, cls string"
    )
    out = focal_mode(tiles, 4).collect()
    assert [(r.mode_class, r.mode_count, r.window_count) for r in out] == [
        ("X", 1, 1)
    ]
    with _pytest.raises(ValueError):
        focal_mode(tiles, 4, radius=0)


def test_focal_mode_no_window_no_join(spark):
    from rio_cogeo_spark.operators.focal import focal_mode

    tiles = spark.createDataFrame(
        [(0, 0, 1)], "tile_x long, tile_y long, cls long"
    )
    plan = plan_of(focal_mode(tiles, 4))
    assert "Window" not in plan
    assert "Join" not in plan  # occupancy rides the vote rows


def test_class_crosstab_golden_with_margins(spark):
    from rio_cogeo_spark.operators.focal import class_crosstab

    a = spark.createDataFrame(
        [(0, 0, "w"), (1, 0, "w"), (2, 0, "f")],
        "tile_x long, tile_y long, cls string",
    )
    b = spark.createDataFrame(
        [(0, 0, "w"), (1, 0, "f"), (3, 0, "f")],
        "tile_x long, tile_y long, cls string",
    )
    out = {(r.cls_a, r.cls_b): (r.n_tiles, r.share_ppm)
           for r in class_crosstab(a, b).collect()}
    # 4 distinct tiles total: stable w->w, change w->f, lost f->absent,
    # gained absent->f — each 1 tile = 250000 ppm
    assert out == {
        ("w", "w"): (1, 250000),
        ("w", "f"): (1, 250000),
        ("f", "(absent)"): (1, 250000),
        ("(absent)", "f"): (1, 250000),
    }


def test_class_crosstab_self_is_diagonal(spark):
    from rio_cogeo_spark.operators.focal import class_crosstab

    a = spark.createDataFrame(
        [(x, y, (x + y) % 3) for x in range(5) for y in range(5)],
        "tile_x long, tile_y long, cls long",
    )
    out = class_crosstab(a, a).collect()
    assert all(r.cls_a == r.cls_b for r in out)
    assert sum(r.n_tiles for r in out) == 25
    assert sum(r.share_ppm for r in out) <= 1_000_000  # div truncation


def test_area_weighted_density_distortion_and_total(spark):
    import math

    from rio_cogeo_spark.operators.focal import area_weighted_density

    # full z4 grid with value 1 everywhere
    n = 16
    tiles = spark.createDataFrame(
        [(x, y, 1) for x in range(n) for y in range(n)],
        "tile_x long, tile_y long, page_count long",
    )
    out = area_weighted_density(tiles, 4).collect()
    # total area share = tanh(pi): the band web mercator covers
    total = sum(r.area_pptr for r in out) / 1e12
    assert abs(total - math.tanh(math.pi)) < 1e-6
    by_row = {}
    for r in out:
        by_row.setdefault(r.tile_y, r.area_pptr)
    # equatorial rows (7, 8) are the largest; polar rows the smallest
    assert by_row[7] == by_row[8] == max(by_row.values())
    assert by_row[0] == by_row[15] == min(by_row.values())
    assert by_row[7] > 3 * by_row[0]
    # equal value -> density inversely ordered with area
    dens = {r.tile_y: r.density_ppm for r in out}
    assert dens[0] > dens[7]


def test_area_weighted_density_is_pure_projection(spark):
    from rio_cogeo_spark.operators.focal import area_weighted_density

    tiles = spark.createDataFrame(
        [(0, 0, 5)], "tile_x long, tile_y long, page_count long"
    )
    plan = plan_of(area_weighted_density(tiles, 8))
    assert "Exchange" not in plan and "Join" not in plan


# ---------------------------------------------------------------------------
# Hillshade
# ---------------------------------------------------------------------------

def test_hillshade_flat_surface_is_ambient(spark):
    import math

    from rio_cogeo_spark.operators.focal import hillshade

    # a flat interior plateau: gradients 0 -> shade = 255*sin(alt)
    n = 6
    tiles = spark.createDataFrame(
        [(x, y, 100) for x in range(n) for y in range(n)],
        "tile_x long, tile_y long, page_count long",
    )
    out = {(r.tile_x, r.tile_y): r.shade_mil
           for r in hillshade(tiles, 4).collect()}
    want = int(math.floor(255.0 * math.sin(math.radians(45.0)) * 1000 + 0.5))
    # interior cells (all 8 neighbors at the same height) are exactly flat
    assert out[(2, 2)] == want and out[(3, 3)] == want
    # edge cells see the 0-elevation halo -> a slope -> different shade
    assert out[(0, 0)] != want


def test_hillshade_slope_facing_light_brighter(spark):
    from rio_cogeo_spark.operators.focal import hillshade

    # a west-to-east ramp lit from the WEST (az=270): west-facing slope
    # (uphill to the east) must be brighter than lit from the EAST
    tiles = spark.createDataFrame(
        [(x, y, x * 50) for x in range(8) for y in range(8)],
        "tile_x long, tile_y long, page_count long",
    )
    west = {(r.tile_x, r.tile_y): r.shade_mil
            for r in hillshade(tiles, 4, azimuth_deg=270.0).collect()}
    east = {(r.tile_x, r.tile_y): r.shade_mil
            for r in hillshade(tiles, 4, azimuth_deg=90.0).collect()}
    assert west[(4, 4)] > east[(4, 4)]


def test_hillshade_no_window_no_join(spark):
    from rio_cogeo_spark.operators.focal import hillshade

    tiles = spark.createDataFrame(
        [(0, 0, 1)], "tile_x long, tile_y long, page_count long"
    )
    plan = plan_of(hillshade(tiles, 4))
    assert "Window" not in plan and "Join" not in plan
    assert "partial_sum" in plan  # slot folds map-side-combine


def test_morans_i_checkerboard_vs_block(spark):
    """Perfect dispersion (checkerboard) must give strongly negative I;
    a solid block (clustered) strongly positive; both pinned against
    the DuckDB twin."""
    import duckdb

    from rio_cogeo_spark.operators.focal import morans_i, morans_i_sql

    zoom = 2  # 4x4 grid, small enough to reason about
    checker = [
        (x, y, 10) for x in range(4) for y in range(4) if (x + y) % 2 == 0
    ]
    block = [(x, y, 10) for x in range(2) for y in range(2)]

    for name, cells in (("checker", checker), ("block", block)):
        df = spark.createDataFrame(
            cells, "tile_x long, tile_y long, page_count long"
        )
        got = morans_i(df, zoom).collect()[0]
        vals = ", ".join(f"({x}, {y}, {v})" for x, y, v in cells)
        sql = morans_i_sql(
            f"WITH base AS (SELECT * FROM (VALUES {vals})"
            " AS t(tile_x, tile_y, page_count))",
            zoom,
        )
        want = duckdb.sql(sql).fetchone()
        assert tuple(got) == tuple(
            int(v) if v is not None else None for v in want
        ), name
        if name == "checker":
            # queen weights soften checkerboard dispersion (diagonal
            # neighbors are same-colored): mildly negative, not -1
            assert got.i_mil < 0
        else:
            assert got.i_mil > 300    # clustered

    # empty grid: den = 0 -> NULL by stated convention
    empty = spark.createDataFrame(
        [], "tile_x long, tile_y long, page_count long"
    )
    assert morans_i(empty, zoom).collect()[0].i_mil is None


def test_aspect8_octant_exhaustive_vs_atan2(spark):
    """The pure-comparison octant CASE must equal int(atan2//45)+1 for
    every integer gradient on a lattice (boundaries included) — run
    through the ENGINE, not a python re-implementation."""
    import math

    from rio_cogeo_spark.operators.focal import ASPECT_OCTANT_CASE

    grads = [
        (gx, gy) for gx in range(-6, 7) for gy in range(-6, 7)
    ]
    df = spark.createDataFrame(grads, "gx8 long, gy8 long")
    got = {
        (r.gx8, r.gy8): r.oct
        for r in df.selectExpr(
            "gx8", "gy8", f"cast({ASPECT_OCTANT_CASE} as int) AS oct"
        ).collect()
    }
    for gx, gy in grads:
        if gx == 0 and gy == 0:
            assert got[(gx, gy)] == 0
            continue
        theta = math.degrees(math.atan2(-gy, -gx)) % 360.0
        assert got[(gx, gy)] == int(theta // 45) + 1, (gx, gy, theta)


def test_aspect8_single_peak_faces_outward(spark):
    """A single occupied tile is a peak: every surrounding cell's
    downslope octant must point AWAY from it."""
    from rio_cogeo_spark.operators.focal import aspect8

    # a tall peak with a low occupied shoulder due east (only occupied
    # cells are emitted, as hillshade)
    peak = spark.createDataFrame(
        [(4, 4, 100), (5, 4, 1)],
        "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in aspect8(peak, 4).collect()}
    assert set(rows) == {(4, 4), (5, 4)}
    # the shoulder slopes down AWAY from the peak: to the east, octant 1
    # (gx8 at (5,4) = 0 - (a + 2d + g) = -200 -> vx = +200, vy = 0)
    assert rows[(5, 4)].gx8 == -200 and rows[(5, 4)].octant == 1
    # the peak itself slopes down toward the shoulder... its east slots
    # hold the shoulder value, west slots empty: gx8 = (0+2*1+0) = 2 > 0
    # -> downslope WEST (octant 5 boundary [W,SW) at vy=0)
    assert rows[(4, 4)].gx8 == 2 and rows[(4, 4)].octant == 5


def test_contour_cells_square_island(spark):
    """A filled 2x2 island at threshold 1: the marching squares around
    it must produce the full closed-ring case set (corners 1/2/4/8,
    edges 3/6/9/12), and the interior block (all four corners >= T)
    must NOT be emitted."""
    from rio_cogeo_spark.operators.focal import contour_cells

    island = spark.createDataFrame(
        [(4, 4, 5), (5, 4, 5), (4, 5, 5), (5, 5, 5)],
        "tile_x long, tile_y long, page_count long",
    )
    got = {(r.bx, r.by): r.mcase for r in
           contour_cells(island, 4, threshold=1).collect()}
    # interior block (4,4) has TL TR BR BL all set -> case 15, dropped
    assert (4, 4) not in got
    # TL corner block (3,3): only BR=(4,4) set -> case 4
    assert got[(3, 3)] == 4
    # top edge block (4,3): BR+BL set -> 4+8 = 12
    assert got[(4, 3)] == 12
    # left edge block (3,4): TR+BR -> 2+4 = 6
    assert got[(3, 4)] == 6
    # bottom edge block (4,5): TL+TR -> 3
    assert got[(4, 5)] == 3
    # 8 blocks ring the island (4 corners + 4 edges)
    assert len(got) == 8
    import pytest as _pt
    with _pt.raises(ValueError):
        contour_cells(island, 4, threshold=0)


def test_d8_flow_slope_and_pit(spark):
    from rio_cogeo_spark.operators.focal import d8_flow

    # an unwalled ridge cell drains OFF the ridge onto the 0-plain
    # (absent = elevation 0), ties between the N and S plain resolve
    # to the smaller direction index (N = 3)
    ridge = spark.createDataFrame(
        [(x, 4, 50 - 10 * x) for x in range(3)],
        "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in d8_flow(ridge, 4).collect()}
    assert rows[(0, 4)].d8 == 3 and (rows[(0, 4)].rcv_x,
                                     rows[(0, 4)].rcv_y) == (0, 3)

    # a WALLED descending channel drains along itself: walls are
    # higher (ineligible), so the only descent is east
    chan = [(x, 4, 90 - 10 * (x - 3)) for x in range(3, 8)]
    walls = [(x, y, 200) for x in range(2, 9) for y in (3, 5)]
    walls += [(2, 4, 200)]
    channel = spark.createDataFrame(
        chan + walls, "tile_x long, tile_y long, page_count long"
    )
    rows1 = {(r.tile_x, r.tile_y): r for r in d8_flow(channel, 4).collect()}
    for x in range(3, 7):
        assert rows1[(x, 4)].d8 == 1 and rows1[(x, 4)].rcv_x == x + 1
    # the mouth opens east onto the plain
    assert rows1[(7, 4)].d8 == 1 and rows1[(7, 4)].rcv_x == 8

    # a 1-cell basin walled by taller neighbors is a PIT (d8=0)...
    # note: it must not see the zero plain, so wall in ALL 8 neighbors
    cells = [(x, y, 90) for x in range(3, 6) for y in range(3, 6)
             if (x, y) != (4, 4)] + [(4, 4, 5)]
    basin = spark.createDataFrame(
        cells, "tile_x long, tile_y long, page_count long"
    )
    rows2 = {(r.tile_x, r.tile_y): r for r in d8_flow(basin, 4).collect()}
    assert rows2[(4, 4)].d8 == 0 and rows2[(4, 4)].rcv_x is None

    # corner cell on a flat occupied grid: out-of-bounds neighbors are
    # INELIGIBLE (water can't leave the grid), equal neighbors too ->
    # pit, NOT an off-grid receiver
    flat = spark.createDataFrame(
        [(0, 0, 7), (1, 0, 7), (0, 1, 7), (1, 1, 7)],
        "tile_x long, tile_y long, page_count long",
    )
    rows3 = {(r.tile_x, r.tile_y): r.d8 for r in d8_flow(flat, 1).collect()}
    assert rows3 == {(0, 0): 0, (1, 0): 0, (0, 1): 0, (1, 1): 0}


def test_flow_accumulation_chain(spark):
    from rio_cogeo_spark.operators.focal import flow_accumulation

    # walled descending channel of 5: accumulation at the mouth counts
    # the whole channel once rounds >= length-1; wall cells drain onto
    # the plain individually (acc 1 each)
    chan = [(x, 4, 90 - 10 * (x - 3)) for x in range(3, 8)]
    walls = [(x, y, 200) for x in range(2, 9) for y in (3, 5)]
    walls += [(2, 4, 200)]
    channel = spark.createDataFrame(
        chan + walls, "tile_x long, tile_y long, page_count long"
    )
    acc = {(r.tile_x, r.tile_y): r.acc
           for r in flow_accumulation(channel, 4, rounds=4).collect()}
    assert [acc[(x, 4)] for x in range(3, 8)] == [1, 2, 3, 4, 5]
    assert acc[(2, 3)] == 1  # walls drain straight to the plain

    # truncated rounds: within-k upstream counts only
    acc2 = {(r.tile_x, r.tile_y): r.acc
            for r in flow_accumulation(channel, 4, rounds=2).collect()}
    assert acc2[(7, 4)] == 3  # self + 2 steps upstream


def test_terrain_rugged_spike_and_flat(spark):
    """A lone spike: TRI = 8v (every neighbor slot is 0), TPI = 8v,
    rough = v. Interior of a flat block: all three are 0."""
    from rio_cogeo_spark.operators.focal import terrain_rugged

    spike = spark.createDataFrame(
        [(4, 4, 7)], "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in
            terrain_rugged(spike, 4).collect()}
    assert set(rows) == {(4, 4)}
    r = rows[(4, 4)]
    assert r.tri8 == 56 and r.tpi8 == 56 and r.rough == 7

    # 3x3 flat block of value 5: the CENTER cell sees a uniform window
    flat = spark.createDataFrame(
        [(x, y, 5) for x in (3, 4, 5) for y in (3, 4, 5)],
        "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in
            terrain_rugged(flat, 4).collect()}
    c = rows[(4, 4)]
    assert c.tri8 == 0 and c.tpi8 == 0 and c.rough == 0
    # a corner of the block borders zeros: 3 neighbors set (5 absent)
    k = rows[(3, 3)]
    # neighbors of (3,3): (4,3)=5, (3,4)=5, (4,4)=5, rest 0
    assert k.tri8 == 5 * 5        # five absent slots each |0-5|
    assert k.tpi8 == 8 * 5 - 15   # 25
    assert k.rough == 5


def test_terrain_rugged_ridge_vs_pit_sign(spark):
    """TPI is positive on a local ridge, negative in a local pit."""
    from rio_cogeo_spark.operators.focal import terrain_rugged

    # pit: low center surrounded by a high ring
    cells = [(x, y, 9) for x in (3, 4, 5) for y in (3, 4, 5)
             if (x, y) != (4, 4)] + [(4, 4, 1)]
    pit = spark.createDataFrame(
        cells, "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in
            terrain_rugged(pit, 4).collect()}
    c = rows[(4, 4)]
    assert c.tpi8 == 8 * 1 - 8 * 9      # -64
    assert c.tri8 == 8 * 8              # |9-1| x 8
    assert c.rough == 8


def test_viewshed_rows_blocking(spark):
    """West-edge line of sight: a cell is visible iff it strictly
    exceeds the running max of the cells west of it in its row."""
    from rio_cogeo_spark.operators.focal import viewshed_rows

    row = spark.createDataFrame(
        [(0, 2, 3), (2, 2, 3), (3, 2, 5), (6, 2, 4), (7, 2, 9),
         (1, 5, 1)],
        "tile_x long, tile_y long, page_count long",
    )
    got = {(r.tile_x, r.tile_y): r for r in viewshed_rows(row).collect()}
    # first occupied cell in a row: west_max 0, always visible
    assert got[(0, 2)].west_max == 0 and got[(0, 2)].visible == 1
    # equal height does NOT clear the horizon (strict >)
    assert got[(2, 2)].west_max == 3 and got[(2, 2)].visible == 0
    assert got[(3, 2)].west_max == 3 and got[(3, 2)].visible == 1
    # 4 < max(3,3,5): blocked
    assert got[(6, 2)].west_max == 5 and got[(6, 2)].visible == 0
    assert got[(7, 2)].west_max == 5 and got[(7, 2)].visible == 1
    # rows are independent
    assert got[(1, 5)].west_max == 0 and got[(1, 5)].visible == 1


def test_proximity_chebyshev_exact(spark):
    """BFS over the 8-neighborhood IS the Chebyshev metric: a single
    source at (4,4) with 2 rounds yields dist = max(|dx|,|dy|) on the
    full 5x5 block and nothing beyond."""
    from rio_cogeo_spark.operators.focal import proximity

    src = spark.createDataFrame(
        [(4, 4, 9)], "tile_x long, tile_y long, page_count long",
    )
    got = {(r.tile_x, r.tile_y): r.dist for r in
           proximity(src, 4, rounds=2).collect()}
    assert len(got) == 25
    for (x, y), d in got.items():
        assert d == max(abs(x - 4), abs(y - 4))

    # two sources: every cell takes the NEARER one
    two = spark.createDataFrame(
        [(2, 2, 1), (6, 2, 1)], "tile_x long, tile_y long, page_count long",
    )
    got2 = {(r.tile_x, r.tile_y): r.dist for r in
            proximity(two, 4, rounds=2).collect()}
    assert got2[(4, 2)] == 2            # equidistant middle
    assert got2[(3, 2)] == 1 and got2[(5, 2)] == 1

    # grid clipping: a corner source never dilates off-grid
    corner = spark.createDataFrame(
        [(0, 0, 1)], "tile_x long, tile_y long, page_count long",
    )
    got3 = {(r.tile_x, r.tile_y): r.dist for r in
            proximity(corner, 4, rounds=1).collect()}
    assert set(got3) == {(0, 0), (1, 0), (0, 1), (1, 1)}

    import pytest as _pt
    with _pt.raises(ValueError):
        proximity(src, 4, rounds=0)


def test_sieve_components_labels_and_keep(spark):
    """An L-tromino (3 cells, rook-connected) and a diagonal singleton:
    the tromino keeps (min_size=3) under the min-cell-key label, the
    singleton is flagged for removal; diagonal contact does NOT merge
    (rook connectivity)."""
    from rio_cogeo_spark.operators.focal import sieve_components

    cells = spark.createDataFrame(
        [(2, 2, 5), (3, 2, 7), (3, 3, 1),   # L-tromino
         (5, 5, 9)],                         # singleton
        "tile_x long, tile_y long, page_count long",
    )
    got = {(r.tile_x, r.tile_y): r for r in
           sieve_components(cells, 4, rounds=4, min_size=3).collect()}
    assert len(got) == 4
    lbl = 2 * 16 + 2  # min key of the tromino: (x=2, y=2) at zoom 4
    for c in [(2, 2), (3, 2), (3, 3)]:
        assert got[c].label == lbl
        assert got[c].comp_cells == 3 and got[c].comp_mass == 13
        assert got[c].keep == 1
    s = got[(5, 5)]
    assert s.label == 5 * 16 + 5 and s.comp_cells == 1
    assert s.comp_mass == 9 and s.keep == 0

    # (4,4) touches (3,3) and (5,5) only diagonally: three components
    diag = spark.createDataFrame(
        [(3, 3, 1), (4, 4, 1), (5, 5, 1)],
        "tile_x long, tile_y long, page_count long",
    )
    labels = {r.label for r in
              sieve_components(diag, 4, rounds=4, min_size=1).collect()}
    assert len(labels) == 3

    # a path of length 3 needs >= 3 rounds to converge; at rounds=4 the
    # far end carries the min key
    path = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 1), (3, 1, 1), (4, 1, 1)],
        "tile_x long, tile_y long, page_count long",
    )
    got4 = {(r.tile_x, r.tile_y): r.label for r in
            sieve_components(path, 4, rounds=4, min_size=1).collect()}
    assert set(got4.values()) == {1 * 16 + 1}


# ---------------------------------------------------------------------------
# Geary's C
# ---------------------------------------------------------------------------


def test_geary_c_checkerboard_vs_block(spark):
    """Checkerboard (max local contrast) must read dispersed
    (c_mil > 1000); a solid block (low contrast) clustered
    (c_mil < 1000) — the mirror image of the Moran's I golden."""
    z = 2  # 4x4 grid
    checker = [(x, y) for x in range(4) for y in range(4) if (x + y) % 2 == 0]
    block = [(x, y) for x in range(2) for y in range(2)]
    c_chk = focal.geary_c(_tiles(spark, checker), z).collect()[0]
    c_blk = focal.geary_c(_tiles(spark, block), z).collect()[0]
    assert c_chk.c_mil > 1000, c_chk
    assert c_blk.c_mil < 1000, c_blk
    # closed-form queen weight total of a 4x4 grid
    assert c_chk.w_total == 4 * 3 * 7


def test_geary_c_identity_e_minus_c(spark):
    """E − C = half the queen-pair squared-difference sum: verify on a
    hand grid. Cells (0,0)=3, (1,0)=1 on a 2x2 grid: pairs (both
    directions) between the two cells differ by 2 -> D = 2·(2²)·... —
    compute brute force and compare."""
    z = 1
    cells, vals = [(0, 0), (1, 0)], [3, 1]
    row = focal.geary_c(_tiles(spark, cells, value=vals), z).collect()[0]
    # brute force over the full 2x2 grid with queen adjacency
    grid = {(0, 0): 3, (1, 0): 1, (0, 1): 0, (1, 1): 0}
    d = 0
    for (x1, y1), v1 in grid.items():
        for (x2, y2), v2 in grid.items():
            if (x1, y1) != (x2, y2) and abs(x1 - x2) <= 1 and abs(y1 - y2) <= 1:
                d += (v1 - v2) ** 2
    assert 2 * (row.e - row.c) == d


# ---------------------------------------------------------------------------
# local Moran (LISA)
# ---------------------------------------------------------------------------


def test_local_moran_quadrants(spark):
    """A dense 2x2 block in an empty corner: interior block cells see
    high neighbors (HH, positive LISA); use zoom 3 so the global mean
    is far below the block values."""
    z = 3
    block = [(0, 0), (1, 0), (0, 1), (1, 1)]
    out = {(r.tile_x, r.tile_y): r
           for r in focal.local_moran(
               _tiles(spark, block, value=[100, 100, 100, 100]), z
           ).collect()}
    assert len(out) == 4
    for r in out.values():
        assert r.quad == "HH" and r.li_mil > 0, r


def test_local_moran_outlier_is_hl(spark):
    """One hot cell whose neighbors are all far below the mean set by a
    large remote mass: the hot cell's neighbor deviation is negative ->
    HL with negative LISA."""
    z = 3
    cells = [(0, 0), (7, 7)]
    vals = [50, 1000]  # (0,0) hot-ish but neighbors empty
    out = {(r.tile_x, r.tile_y): r
           for r in focal.local_moran(_tiles(spark, cells, value=vals), z).collect()}
    r = out[(0, 0)]
    assert r.quad == "HL" and r.li_mil < 0, r


def test_local_moran_sums_match_global(spark):
    """Σ_i I_i over ALL grid cells = N·I_global (Anselin's identity).
    Present-cell LISA emits only occupied cells, so verify the exact
    rational identity via the integer pieces instead: Σ over present
    cells of dx·dn must equal C·N² − 2·S·B·N + S²·W ... restricted
    form — here just assert agreement of the shared denominator with
    morans_i's q/s staging."""
    z = 2
    cells = [(0, 0), (1, 2), (3, 3)]
    vals = [5, 2, 9]
    g = focal.morans_i(_tiles(spark, cells, value=vals), z).collect()[0]
    li = focal.local_moran(_tiles(spark, cells, value=vals), z).collect()
    n_grid = 4 ** z
    den = g.q * n_grid - g.s * g.s
    for r in li:
        # reconstruct: li_mil = trunc(dx*dn*1000 / den) with
        # dx = N·x − S, dn = N·nbrsum − W_i·S
        dx = n_grid * r.x - g.s
        dn = n_grid * r.nbrsum - r.w_i * g.s
        num = dx * dn * 1000
        want = -((-num) // den) if num <= 0 else num // den
        assert r.li_mil == want, (r, want)


# ---------------------------------------------------------------------------
# fillnodata
# ---------------------------------------------------------------------------


def test_fillnodata_nearest_and_tie_rule(spark):
    """A gap cell equidistant from two sources takes the SMALLER source
    cell key (tile_y·2^z + tile_x), not the smaller value."""
    z = 3
    # sources at (0,0) v=9 (key 0) and (2,0) v=1 (key 2); gap (1,0) is
    # distance 1 from both -> key 0 wins -> fill_v = 9
    df = _tiles(spark, [(0, 0), (2, 0)], value=[9, 1])
    out = {(r.tile_x, r.tile_y): r for r in focal.fillnodata(df, z, rounds=1).collect()}
    gap = out[(1, 0)]
    assert gap.dist == 1 and gap.src == 0 and gap.fill_v == 9, gap
    # occupied cells keep their own value at dist 0
    assert out[(0, 0)].dist == 0 and out[(0, 0)].fill_v == 9
    assert out[(2, 0)].dist == 0 and out[(2, 0)].fill_v == 1


def test_fillnodata_distance_is_chebyshev(spark):
    """fill distance equals the proximity operator's Chebyshev
    distance for every emitted cell."""
    z = 4
    cells = [(2, 2), (9, 9), (9, 2)]
    df = _tiles(spark, cells, value=[7, 8, 9])
    fill = {(r.tile_x, r.tile_y): r.dist
            for r in focal.fillnodata(df, z, rounds=3).collect()}
    prox = {(r.tile_x, r.tile_y): r.dist
            for r in focal.proximity(df, z, rounds=3).collect()}
    assert fill == prox


# ---------------------------------------------------------------------------
# polygonize
# ---------------------------------------------------------------------------


def test_polygonize_equal_value_rook_regions(spark):
    """Same-value rook neighbors merge; different values never do;
    diagonal same-value cells stay separate (rook, not queen)."""
    z = 3
    cells = [(0, 0), (1, 0), (2, 0), (4, 0), (5, 1)]
    vals = [5, 5, 7, 5, 5]
    out = {(r.tile_x, r.tile_y): r
           for r in focal.polygonize(
               _tiles(spark, cells, value=vals), z, rounds=4
           ).collect()}
    # (0,0)+(1,0) merge (same v, adjacent); (2,0) v=7 separate even
    # though adjacent; (4,0) isolated; (5,1) diagonal from (4,0) -> own
    assert out[(0, 0)].label == out[(1, 0)].label
    assert out[(0, 0)].region_cells == 2
    assert out[(2, 0)].label != out[(0, 0)].label
    assert out[(2, 0)].region_cells == 1
    assert out[(4, 0)].region_cells == 1
    assert out[(5, 1)].region_cells == 1
    assert out[(4, 0)].label != out[(5, 1)].label


def test_polygonize_labels_are_min_cell_key(spark):
    z = 3
    cells = [(3, 2), (3, 3), (4, 3)]  # L-shaped region, all v=1
    out = focal.polygonize(_tiles(spark, cells), z, rounds=4).collect()
    labels = {r.label for r in out}
    assert labels == {2 * 8 + 3}  # min key: (3,2) -> y*8+x = 19
    assert all(r.region_cells == 3 for r in out)


def test_terrain_indices_interior_and_corner(spark):
    """terrain_indices (clipped-window gdaldem variant): an interior
    lone spike has n_nb=8 and mean-TRI == v; a lone CORNER cell has
    n_nb=3 (edge-clipped positions excluded from every reduction)."""
    from rio_cogeo_spark.operators.focal import terrain_indices

    spike = spark.createDataFrame(
        [(4, 4, 7)], "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in
            terrain_indices(spike, 4).collect()}
    assert set(rows) == {(4, 4)}
    r = rows[(4, 4)]
    assert r.n_nb == 8 and r.tri_sum == 56 and r.tri_mil == 7_000_000
    assert r.tpi_num == 56 and r.tpi_mil == 7_000_000 and r.rough == 7

    corner = spark.createDataFrame(
        [(0, 0, 5)], "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in
            terrain_indices(corner, 4).collect()}
    c = rows[(0, 0)]
    assert c.n_nb == 3 and c.tri_sum == 15 and c.tri_mil == 5_000_000
    assert c.tpi_num == 15 and c.tpi_mil == 5_000_000 and c.rough == 5


def test_terrain_indices_negative_tpi_floor(spark):
    """TPI mil uses a true FLOOR (not truncate-toward-zero) on the one
    negative-capable quotient: corner z=1 with in-bounds neighbor sum
    10 gives tpi_num=-7, tpi_mil=floor(-7e6/3)=-2333334."""
    from rio_cogeo_spark.operators.focal import terrain_indices

    cells = [(0, 0, 1), (1, 0, 9), (0, 1, 1)]
    df = spark.createDataFrame(
        cells, "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in
            terrain_indices(df, 4).collect()}
    c = rows[(0, 0)]
    assert c.n_nb == 3
    assert c.tpi_num == -7  # 1*3 - (9 + 1 + 0)
    assert c.tpi_mil == -2_333_334
    # pit: TPI negative, divisible case stays exact
    ring = [(x, y, 9) for x in (3, 4, 5) for y in (3, 4, 5)
            if (x, y) != (4, 4)] + [(4, 4, 1)]
    pit = spark.createDataFrame(
        ring, "tile_x long, tile_y long, page_count long",
    )
    rows = {(r.tile_x, r.tile_y): r for r in
            terrain_indices(pit, 4).collect()}
    p = rows[(4, 4)]
    assert p.tpi_num == -64 and p.tpi_mil == -8_000_000
    assert p.tri_sum == 64 and p.tri_mil == 8_000_000 and p.rough == 8


def test_terrain_indices_only_occupied_cells(spark):
    """Cells that receive neighbor votes but have no own row are NOT
    emitted (occupied-cell contract, same as terrain_rugged)."""
    from rio_cogeo_spark.operators.focal import terrain_indices

    df = spark.createDataFrame(
        [(4, 4, 7)], "tile_x long, tile_y long, page_count long",
    )
    out = terrain_indices(df, 4).collect()
    assert {(r.tile_x, r.tile_y) for r in out} == {(4, 4)}


def test_knox_stat_brute_force(spark):
    """Knox space-time interaction vs an exhaustive O(n²) pair count —
    exact S/T/X and the pinned-double mil ratio."""
    import itertools
    import math

    from rio_cogeo_spark.operators.focal import knox_stat

    pts = [(i % 7, (i * 3) % 7, (i * 5) % 9) for i in range(40)]
    pts += [(2, 3, 4)] * 10  # hot space-time cluster

    N = len(pts)
    S = T = X = 0
    for a, b in itertools.combinations(pts, 2):
        sc = max(abs(a[0] - b[0]), abs(a[1] - b[1])) <= 1
        tc = abs(a[2] - b[2]) <= 1
        S += sc
        T += tc
        X += sc and tc
    km = math.floor(
        X * (float(N) * float(N - 1) / 2.0) * 1e6 / (float(S) * float(T))
    )

    df = spark.createDataFrame(pts, "tile_x long, tile_y long, t_bucket long")
    r = knox_stat(df).collect()[0]
    assert (r.n_pages, r.pairs_space, r.pairs_time, r.pairs_st) == (N, S, T, X)
    assert r.knox_mil == km
    assert r.knox_mil > 1_000_000  # the injected cluster IS interaction


def test_knox_stat_degenerate_and_null(spark):
    """Single time bucket ⇒ T = P and X = S ⇒ ratio exactly 1e6; a
    lone point has no pairs ⇒ knox_mil NULL with zero counts."""
    from rio_cogeo_spark.operators.focal import knox_stat

    pts = [(i % 5, (i * 3) % 5, 0) for i in range(20)]
    r = knox_stat(
        spark.createDataFrame(pts, "tile_x long, tile_y long, t_bucket long")
    ).collect()[0]
    assert r.pairs_time == 20 * 19 // 2
    assert r.pairs_st == r.pairs_space
    assert r.knox_mil == 1_000_000

    lone = spark.createDataFrame(
        [(3, 3, 7)], "tile_x long, tile_y long, t_bucket long"
    )
    r = knox_stat(lone).collect()[0]
    assert (r.pairs_space, r.pairs_time, r.pairs_st) == (0, 0, 0)
    assert r.knox_mil is None


def test_centrography_exact_moments(spark):
    """Weighted mean center exact in mil; standard distance matches
    the closed-form float computation."""
    import math

    from rio_cogeo_spark.operators.focal import centrography

    cells = [(x, (x * 7) % 13, (x % 5) + 1) for x in range(13)]
    cells.append((200, 200, 50))
    W = sum(c for _, _, c in cells)
    SX = sum(c * a for a, _, c in cells)
    SY = sum(c * b for _, b, c in cells)
    SXX = sum(c * a * a for a, _, c in cells)
    SYY = sum(c * b * b for _, b, c in cells)
    std = math.floor(
        math.sqrt(
            (float(SXX) + float(SYY)) / float(W)
            - (float(SX) / float(W)) ** 2
            - (float(SY) / float(W)) ** 2
        ) * 1e6
    )
    df = spark.createDataFrame(
        cells, "tile_x long, tile_y long, page_count long"
    )
    r = centrography(df).collect()[0]
    assert (r.n_cells, r.w_total) == (len(cells), W)
    assert r.mean_x_mil == SX * 1_000_000 // W
    assert r.mean_y_mil == SY * 1_000_000 // W
    assert r.std_dist_mil == std

    # single cell: zero dispersion, mean center == the cell
    one = spark.createDataFrame(
        [(5, 9, 3)], "tile_x long, tile_y long, page_count long"
    )
    r = centrography(one).collect()[0]
    assert (r.mean_x_mil, r.mean_y_mil, r.std_dist_mil) == (
        5_000_000, 9_000_000, 0,
    )


def test_nn_index_brute_force_and_isolated(spark):
    """Chebyshev NN distances vs exhaustive pairwise search; isolated
    points beyond the ring bound are excluded with NULL summary."""
    import math

    from rio_cogeo_spark.operators.focal import nn_index

    cells = [(x, (x * 7) % 13) for x in range(13)] + [(200, 200)]
    nns = [
        min(
            max(abs(p[0] - q[0]), abs(p[1] - q[1]))
            for q in cells if q != p
        )
        for p in cells
    ]
    within = [d for d in nns if d <= 3]
    df = spark.createDataFrame(cells, "tile_x long, tile_y long")
    r = nn_index(df, 8).collect()[0]
    assert (r.n_cells, r.n_within, r.sum_nn) == (
        len(cells), len(within), sum(within),
    )
    assert r.mean_nn_mil == sum(within) * 1_000_000 // len(within)
    assert r.ce_mil == math.floor(
        float(sum(within)) / float(len(within)) * 2.0
        * math.sqrt(float(len(cells))) / 256.0 * 1e6
    )

    iso = spark.createDataFrame(
        [(0, 0), (100, 100), (200, 0)], "tile_x long, tile_y long"
    )
    r = nn_index(iso, 8).collect()[0]
    assert (r.n_cells, r.n_within, r.sum_nn) == (3, 0, 0)
    assert r.mean_nn_mil is None and r.ce_mil is None


def test_ripley_k_brute_force(spark):
    """Ripley pair counts within each Chebyshev radius vs exhaustive
    pairwise search; injected hot cell clusters at every radius."""
    import itertools
    import math

    from rio_cogeo_spark.operators.focal import ripley_k

    pts = [(i % 9, (i * 5) % 11) for i in range(30)] + [(4, 4)] * 6
    N = len(pts)
    G = 16
    df = spark.createDataFrame(pts, "tile_x long, tile_y long")
    got = {
        r.radius: (r.n_pts, r.pairs_within, r.k_ratio_mil)
        for r in ripley_k(df, 4).collect()
    }
    for r in range(1, 5):
        X = sum(
            1 for a, b in itertools.combinations(pts, 2)
            if max(abs(a[0] - b[0]), abs(a[1] - b[1])) <= r
        )
        km = math.floor(
            X * float(G * G) / (N * (N - 1) / 2.0)
            / float((2 * r + 1) ** 2 - 1) * 1e6
        )
        assert got[r] == (N, X, km)
    # pair counts are cumulative in radius; the clustered pattern is
    # super-CSR at radius 1
    assert got[1][1] <= got[2][1] <= got[3][1] <= got[4][1]
    assert got[1][2] > 1_000_000


def test_quadrat_test_exact_vmr(spark):
    """Quadrat VMR over the full grid (absent quadrats zero) matches
    closed-form integers; a uniform full grid is exactly Poisson-flat
    ... i.e. zero variance -> vmr 0."""
    from rio_cogeo_spark.operators.focal import quadrat_test

    cells = [(0, 0, 8), (1, 1, 4), (5, 5, 4)]
    C = 4 ** 3
    S = 16
    Q = 64 + 16 + 16
    df = spark.createDataFrame(
        cells, "tile_x long, tile_y long, page_count long"
    )
    r = quadrat_test(df, 3).collect()[0]
    assert (r.n_quadrats, r.n_occupied, r.n_points, r.sum_sq) == (
        C, 3, S, Q,
    )
    assert r.vmr_mil == ((C * Q - S * S) * 1_000_000) // (C * S)
    assert r.vmr_mil > 1_000_000  # 3 occupied cells of 64: clustered

    full = spark.createDataFrame(
        [(x, y, 7) for x in range(4) for y in range(4)],
        "tile_x long, tile_y long, page_count long",
    )
    r = quadrat_test(full, 2).collect()[0]
    assert r.vmr_mil == 0  # constant counts: zero variance


def test_general_g_brute_force(spark):
    """General G numerator vs exhaustive queen-adjacent pair sum; the
    closed-form denominator S²−Q; clustered highs raise G."""
    from rio_cogeo_spark.operators.focal import general_g

    cells = {(2, 2): 9, (2, 3): 8, (3, 2): 7, (6, 6): 1, (0, 6): 2}
    num = 0
    w = 0
    for (ax, ay), av in cells.items():
        for (bx, by), bv in cells.items():
            if (ax, ay) != (bx, by) and max(abs(ax - bx), abs(ay - by)) <= 1:
                num += av * bv
                w += 1
    S = sum(cells.values())
    Q = sum(v * v for v in cells.values())
    df = spark.createDataFrame(
        [(x, y, v) for (x, y), v in cells.items()],
        "tile_x long, tile_y long, page_count long",
    )
    r = general_g(df, 3).collect()[0]
    assert (r.n_cells, r.w_pairs, r.num, r.den) == (
        len(cells), w, num, S * S - Q,
    )
    assert r.g_mil == num * 1_000_000 // (S * S - Q)
    # isolated single cell: no pairs at all, den 0 -> NULL
    one = spark.createDataFrame(
        [(1, 1, 5)], "tile_x long, tile_y long, page_count long"
    )
    r = general_g(one, 3).collect()[0]
    assert (r.w_pairs, r.num, r.den) == (0, 0, 0)
    assert r.g_mil is None


def test_gini_concentration_closed_form(spark):
    """Gini over known vectors: constant -> 0, two-point 1/9 split,
    single unit -> 0."""
    from rio_cogeo_spark.operators.focal import gini_concentration

    def gini(vals):
        df = spark.createDataFrame(
            [(i, 0, v) for i, v in enumerate(vals)],
            "tile_x long, tile_y long, page_count long",
        )
        return gini_concentration(df).collect()[0]

    r = gini([7, 7, 7, 7])
    assert (r.n_units, r.total, r.gini_mil) == (4, 28, 0)
    r = gini([1, 9])
    # ranks asc: 1*1 + 2*9 = 19; (2*19 - 3*10)*1e6 // (2*10) = 400000
    assert r.gini_mil == 400_000
    r = gini([5])
    assert r.gini_mil == 0


def test_scan_stat_relative_risk(spark):
    """Exact relative risk of each 3x3 window vs the global rate; the
    hot cluster tops the shortlist; edge windows use clipped areas."""
    from rio_cogeo_spark.operators.focal import scan_stat

    cells = [(4, 4, 80), (4, 5, 40), (0, 0, 8), (7, 7, 8)]
    C = 4 ** 3
    S = 136
    df = spark.createDataFrame(
        cells, "tile_x long, tile_y long, page_count long"
    )
    out = scan_stat(df, 3, top_k=5).collect()
    # several interior windows cover the whole 120-mass cluster and tie
    # on (rr, focal_sum); the ascending tile tie-break picks (3,4)
    assert out[0].focal_sum == 120 and out[0].win_area == 9
    assert (out[0].tile_x, out[0].tile_y) == (3, 4)
    got = {(r.tile_x, r.tile_y): r for r in out}
    r = got[(4, 4)]
    assert r.focal_sum == 120 and r.win_area == 9
    assert r.rr_mil == (120 * C * 1_000_000) // (9 * S)
    # corner window area is 4, not 9
    if (0, 0) in got:
        k = got[(0, 0)]
        assert k.win_area == 4
        assert k.rr_mil == (8 * C * 1_000_000) // (4 * S)


def test_g_function_cdf(spark):
    """NN-distance histogram + CDF vs exhaustive search; beyond-bound
    cells stay in the denominator."""
    from collections import Counter

    from rio_cogeo_spark.operators.focal import g_function

    cells = [(0, 0), (0, 1), (5, 5), (5, 7), (40, 40)]
    nn = Counter()
    for p in cells:
        d = min(
            max(abs(p[0] - q[0]), abs(p[1] - q[1]))
            for q in cells if q != p
        )
        if d <= 3:
            nn[d] += 1
    df = spark.createDataFrame(cells, "tile_x long, tile_y long")
    rows = {r.k: r for r in g_function(df, 8).collect()}
    assert set(rows) == set(nn)
    cum = 0
    for k in sorted(nn):
        cum += nn[k]
        assert rows[k].n_at_k == nn[k]
        assert rows[k].n_within_k == cum
        assert rows[k].g_mil == cum * 1_000_000 // len(cells)
    # the isolated (40,40) cell never reaches g_mil's numerator
    assert max(r.n_within_k for r in rows.values()) == 4


def test_lang_adjacency_pairs(spark):
    """Queen-adjacent label pairs vs exhaustive enumeration; unordered
    keys; no double counting."""
    import itertools

    from rio_cogeo_spark.operators.focal import lang_adjacency

    cells = [
        (0, 0, "en"), (0, 1, "en"), (1, 0, "fr"), (1, 1, "fr"),
        (5, 5, "de"),
    ]
    want = {}
    for (ax, ay, al), (bx, by, bl) in itertools.combinations(cells, 2):
        if max(abs(ax - bx), abs(ay - by)) == 1:
            k = tuple(sorted((al, bl)))
            want[k] = want.get(k, 0) + 1
    df = spark.createDataFrame(
        cells, "tile_x long, tile_y long, lang string"
    )
    got = {
        (r.lang_a, r.lang_b): r.n_pairs for r in lang_adjacency(df).collect()
    }
    assert got == want
    # the 2x2 block: en-en 1, fr-fr 1, en-fr 4 (two rook + two diagonal)
    assert got[("en", "fr")] == 4


def test_sd_ellipse_closed_form(spark):
    """Axis-aligned, isotropic, and diagonal patterns vs closed-form
    eigen pairs; NULL orientation when vxx == vyy."""
    import math

    from rio_cogeo_spark.operators.focal import sd_ellipse

    def run(cells):
        df = spark.createDataFrame(
            cells, "tile_x long, tile_y long, page_count long"
        )
        return sd_ellipse(df).collect()[0]

    # horizontal line: all variance on x, orientation tan(2θ)=0
    r = run([(0, 0, 1), (2, 0, 1), (4, 0, 1)])
    assert (r.mean_x_mil, r.mean_y_mil) == (2_000_000, 0)
    assert r.tan2theta_mil == 0
    assert r.sigma_major_mil == math.floor(math.sqrt(24 / 9) * 1e6)
    assert r.sigma_minor_mil == 0
    # unit square: isotropic -> orientation undefined (NULL), equal axes
    r = run([(0, 0, 1), (1, 0, 1), (0, 1, 1), (1, 1, 1)])
    assert r.tan2theta_mil is None
    assert r.sigma_major_mil == r.sigma_minor_mil == 500_000
    # diagonal line: vxx == vyy (NULL tan2theta), minor axis collapses
    r = run([(0, 0, 1), (1, 1, 1), (2, 2, 1)])
    assert r.tan2theta_mil is None
    assert r.sigma_major_mil == math.floor(math.sqrt(12 / 9) * 1e6)
    assert r.sigma_minor_mil == 0
    # weights shift the mean center exactly
    r = run([(0, 0, 3), (4, 0, 1)])
    assert r.mean_x_mil == 1_000_000 and r.w_total == 4


def test_f_function_empty_space(spark):
    """Empty-space CDF vs exhaustive nearest-occupied search on a tiny
    8x8 grid; closed-form n_empty keeps far cells in the denominator."""
    from collections import Counter

    from rio_cogeo_spark.operators.focal import f_function

    zoom, occ = 3, [(0, 0), (5, 5)]
    n = 1 << zoom
    hist = Counter()
    for x in range(n):
        for y in range(n):
            if (x, y) in occ:
                continue
            d = min(max(abs(x - a), abs(y - b)) for a, b in occ)
            if d <= 3:
                hist[d] += 1
    n_empty = n * n - len(occ)
    df = spark.createDataFrame(occ, "tile_x long, tile_y long")
    rows = {r.k: r for r in f_function(df, zoom).collect()}
    assert set(rows) == set(hist)
    cum = 0
    for k in sorted(hist):
        cum += hist[k]
        assert rows[k].n_at_k == hist[k]
        assert rows[k].n_within_k == cum
        assert rows[k].f_mil == cum * 1_000_000 // n_empty


def test_j_function_csr_diagnostic(spark):
    """J = (1-G)/(1-F) per distance vs exhaustive CDFs; spine carries
    zero-event distances forward; NULL when F saturates."""
    from rio_cogeo_spark.operators.focal import j_function

    zoom, occ = 3, [(0, 0), (0, 1), (5, 5)]
    n = 1 << zoom
    # exhaustive G (NN among occupied) and F (empty -> nearest occupied)
    g_cum, f_cum = {}, {}
    for k in range(1, 4):
        g_cum[k] = sum(
            1 for p in occ
            if min(max(abs(p[0] - q[0]), abs(p[1] - q[1]))
                   for q in occ if q != p) <= k
        )
        f_cum[k] = sum(
            1 for x in range(n) for y in range(n)
            if (x, y) not in occ
            and min(max(abs(x - a), abs(y - b)) for a, b in occ) <= k
        )
    n_cells, n_empty = len(occ), n * n - len(occ)
    rows = {r.k: r for r in j_function(
        spark.createDataFrame(occ, "tile_x long, tile_y long"), zoom
    ).collect()}
    assert set(rows) == {1, 2, 3}
    for k in range(1, 4):
        r = rows[k]
        assert (r.g_cum, r.f_cum) == (g_cum[k], f_cum[k])
        g_mil = g_cum[k] * 1_000_000 // n_cells
        f_mil = f_cum[k] * 1_000_000 // n_empty
        assert (r.g_mil, r.f_mil) == (g_mil, f_mil)
        want_j = (
            None if f_mil == 1_000_000
            else (1_000_000 - g_mil) * 1_000_000 // (1_000_000 - f_mil)
        )
        assert r.j_mil == want_j
    # the (0,0)/(0,1) pair is clustered: G(1)=2/3 while F(1) is small
    assert rows[1].j_mil < 1_000_000


def test_correlogram_vs_brute(spark):
    """I(k) vs a brute-force full-grid Moran at each lag; k=1 row
    equals morans_i."""
    from rio_cogeo_spark.operators.focal import correlogram, morans_i

    zoom = 3
    n = 1 << zoom
    cells = {(0, 0): 5, (0, 1): 4, (1, 1): 3, (6, 6): 9, (3, 2): 1}
    df = spark.createDataFrame(
        [(x, y, v) for (x, y), v in cells.items()],
        "tile_x long, tile_y long, page_count long",
    )

    def brute(k):
        xs = {(x, y): cells.get((x, y), 0)
              for x in range(n) for y in range(n)}
        N = n * n
        S = sum(xs.values())
        Q = sum(v * v for v in xs.values())
        W = C = B = 0
        for (x, y), v in xs.items():
            for dx in range(-k, k + 1):
                for dy in range(-k, k + 1):
                    if max(abs(dx), abs(dy)) != k:
                        continue
                    qx, qy = x + dx, y + dy
                    if 0 <= qx < n and 0 <= qy < n:
                        W += 1
                        C += v * xs[(qx, qy)]
                        B += v
        num = C * N * N - 2 * S * B * N + S * S * W
        den = W * (Q * N - S * S)
        mil = (-((-num * 1000) // den) if num <= 0
               else (num * 1000) // den)
        return W, C, B, mil

    rows = {r.k: r for r in correlogram(df, zoom).collect()}
    assert set(rows) == {1, 2, 3}
    for k in (1, 2, 3):
        W, C, B, mil = brute(k)
        r = rows[k]
        assert (r.w_total, r.c, r.b) == (W, C, B)
        assert r.i_mil == mil
    assert rows[1].i_mil == morans_i(df, zoom).collect()[0].i_mil


def test_emerging_hotspots_mk(spark):
    """Per-cell Mann-Kendall S over observed buckets; min_buckets
    filter; |S| ordering."""
    from rio_cogeo_spark.operators.focal import emerging_hotspots

    h = 3600
    rows = []
    # cell (0,0): counts 1,2,3 per bucket -> S = +3 (rising)
    for b, c in [(0, 1), (1, 2), (2, 3)]:
        rows += [(0, 0, b * h + i) for i in range(c)]
    # cell (1,1): counts 3,1,2 -> pairs: (3,1)-1 (3,2)-1 (1,2)+1 = -1
    for b, c in [(0, 3), (1, 1), (2, 2)]:
        rows += [(1, 1, b * h + i) for i in range(c)]
    # cell (2,2): only 2 buckets -> filtered at min_buckets=3
    rows += [(2, 2, 0), (2, 2, h)]
    df = spark.createDataFrame(rows, "tile_x long, tile_y long, ts_sec long")
    got = emerging_hotspots(df).collect()
    assert [(r.tile_x, r.tile_y, r.s_stat, r.trend) for r in got] == [
        (0, 0, 3, "rising"), (1, 1, -1, "falling"),
    ]


def test_rank_size_zipf(spark):
    """Rank, Zipf product, top-share arithmetic and ordering."""
    from rio_cogeo_spark.operators.focal import rank_size

    df = spark.createDataFrame(
        [(0, 0, 100), (1, 1, 50), (2, 2, 50), (3, 3, 10)],
        "tile_x long, tile_y long, page_count long",
    )
    rows = rank_size(df, top_k=3).collect()
    assert [(r.rank, r.tile_x, r.cnt) for r in rows] == [
        (1, 0, 100), (2, 1, 50), (3, 2, 50),
    ]
    assert [r.zipf_product for r in rows] == [100, 100, 150]
    assert [r.ratio_mil for r in rows] == [1_000_000, 500_000, 500_000]


def test_colocation_quotient_exact(spark):
    """CLQ vs exhaustive NN-set arithmetic; ties included; diagonal
    uses N_a - 1."""
    from rio_cogeo_spark.operators.focal import colocation_quotient

    cells = [
        (0, 0, "en"), (0, 1, "fr"), (1, 0, "fr"), (5, 5, "en"),
        (5, 6, "en"),
    ]
    df = spark.createDataFrame(
        cells, "tile_x long, tile_y long, lang string"
    )
    got = {
        (r.lang_a, r.lang_b): r
        for r in colocation_quotient(df, 8).collect()
    }
    # exhaustive: per cell the NN set at min Chebyshev ring <= 3
    occ = {(x, y): l for x, y, l in cells}
    s = {}
    for (x, y), l in occ.items():
        dists = {
            q: max(abs(x - q[0]), abs(y - q[1]))
            for q in occ if q != (x, y)
        }
        dmin = min(dists.values())
        if dmin > 3:
            continue
        nn = [q for q, dv in dists.items() if dv == dmin]
        for q in nn:
            key = (l, occ[q])
            s[key] = s.get(key, 0) + 10**9 // len(nn)
    n = len(cells)
    from collections import Counter
    nl = Counter(l for _, _, l in cells)
    for (a, b), nano in s.items():
        nb_eff = nl[a] - 1 if a == b else nl[b]
        want = (nano * (n - 1) * 10**6) // (nl[a] * nb_eff * 10**9)
        assert got[(a, b)].s_nano == nano
        assert got[(a, b)].clq_mil == want
    assert set(got) == set(s)
    # en cluster at (5,5)/(5,6): en->en strongly colocated
    assert got[("en", "en")].clq_mil > 1_000_000


def test_cross_moran_brute(spark):
    """Bivariate Moran vs brute-force full-grid computation; NULL on
    zero variance."""
    import math

    from rio_cogeo_spark.operators.focal import cross_moran

    zoom = 3
    n = 1 << zoom
    xs = {(0, 0): 3, (0, 1): 2, (5, 5): 4}
    ys = {(1, 0): 5, (0, 0): 1, (6, 6): 2}
    cells = sorted(set(xs) | set(ys))
    df = spark.createDataFrame(
        [(x, y, xs.get((x, y), 0), ys.get((x, y), 0)) for x, y in cells],
        "tile_x long, tile_y long, x_count long, y_count long",
    )
    r = cross_moran(df, zoom).collect()[0]
    N = n * n
    fx = {(a, b): xs.get((a, b), 0) for a in range(n) for b in range(n)}
    fy = {(a, b): ys.get((a, b), 0) for a in range(n) for b in range(n)}
    W = 4 * (n - 1) * (2 * n - 1)
    Sx, Sy = sum(fx.values()), sum(fy.values())
    Qx = sum(v * v for v in fx.values())
    Qy = sum(v * v for v in fy.values())
    C = B_x = B_y = 0
    for (a, b) in fx:
        nb = [
            (a + dx, b + dy)
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
            and 0 <= a + dx < n and 0 <= b + dy < n
        ]
        C += fx[(a, b)] * sum(fy[q] for q in nb)
        B_x += fx[(a, b)] * len(nb)
        B_y += fy[(a, b)] * len(nb)
    assert (r.s_x, r.s_y, r.q_x, r.q_y) == (Sx, Sy, Qx, Qy)
    assert (r.c_xy, r.b_x, r.b_y) == (C, B_x, B_y)
    num = C * N * N - N * (Sx * B_y + Sy * B_x) + Sx * Sy * W
    d1 = Qx * N - Sx * Sx
    d2 = Qy * N - Sy * Sy
    want = math.floor(num / (W * math.sqrt(d1 * d2)) * 1e6)
    assert r.i_mil == want
    # zero-variance side -> NULL
    df0 = spark.createDataFrame(
        [(0, 0, 1, 0), (1, 1, 2, 0)],
        "tile_x long, tile_y long, x_count long, y_count long",
    )
    assert cross_moran(df0, zoom).collect()[0].i_mil is None


def test_cell_transitions_markov(spark):
    """Transition counts vs hand enumeration incl. the closed-form
    empty->empty row."""
    from rio_cogeo_spark.operators.focal import cell_transitions

    h = 3600
    rows = []
    # cell A: bkt0 cnt1 (low), bkt1 cnt2 (mid) -> low->mid
    rows += [(0, 0, 0)] + [(0, 0, h), (0, 0, h + 1)]
    # cell B: bkt0 cnt4 (high), bkt2 cnt1 (low) ->
    #   high->empty (p=0), empty->low (p=1)
    rows += [(1, 1, i) for i in range(4)] + [(1, 1, 2 * h)]
    df = spark.createDataFrame(rows, "tile_x long, tile_y long, ts_sec long")
    got = {
        (r.cls_from, r.cls_to): r.n_trans
        for r in cell_transitions(df).collect()
    }
    # span buckets 0..2 -> 2 pair slots per cell, 2 cells = 4 pairs
    assert got == {
        ("low", "mid"): 1, ("mid", "empty"): 1,
        ("high", "empty"): 1, ("empty", "low"): 1,
    }


def test_moran_quadrants_census(spark):
    """Quadrant membership vs exhaustive integer comparisons; spine
    keeps zero-count quadrants."""
    from rio_cogeo_spark.operators.focal import moran_quadrants

    zoom = 3
    n = 1 << zoom
    cells = {(0, 0): 9, (0, 1): 8, (1, 0): 7, (7, 7): 1, (4, 4): 2}
    df = spark.createDataFrame(
        [(x, y, v) for (x, y), v in cells.items()],
        "tile_x long, tile_y long, page_count long",
    )
    got = {r.quadrant: r for r in moran_quadrants(df, zoom).collect()}
    N, S = n * n, sum(cells.values())
    want = {"HH": [0, 0], "HL": [0, 0], "LH": [0, 0], "LL": [0, 0]}
    for (x, y), v in cells.items():
        nbr = [
            (x + dx, y + dy)
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
            and 0 <= x + dx < n and 0 <= y + dy < n
        ]
        nbrsum = sum(cells.get(q, 0) for q in nbr)
        q = ("H" if v * N > S else "L") + (
            "H" if nbrsum * N > S * len(nbr) else "L"
        )
        want[q][0] += 1
        want[q][1] += v
    assert {k: [r.n_cells, r.sum_x] for k, r in got.items()} == want
    assert set(got) == {"HH", "HL", "LH", "LL"}


def test_compactness_shapes(spark):
    """Perimeter and isoperimetric quotient: 2x2 block vs a 4-cell
    diagonal filament."""
    import math

    from rio_cogeo_spark.operators.focal import compactness

    def run(cells):
        df = spark.createDataFrame(cells, "tile_x long, tile_y long")
        return compactness(df).collect()[0]

    # 2x2 block: 4 rook pairs -> perimeter 8
    r = run([(0, 0), (0, 1), (1, 0), (1, 1)])
    assert (r.n_cells, r.rook_pairs, r.perimeter) == (4, 4, 8)
    assert r.iso_mil == math.floor(4 * math.pi * 4 / 64 * 1e6)
    # diagonal filament: zero rook pairs -> perimeter 16
    r = run([(0, 0), (1, 1), (2, 2), (3, 3)])
    assert (r.rook_pairs, r.perimeter) == (0, 16)
    assert r.iso_mil == math.floor(4 * math.pi * 4 / 256 * 1e6)


def test_diurnal_chi_square(spark):
    """Exact chi-square vs hand arithmetic; absent hours closed-form;
    uniform profile scores low, single-hour burst high."""
    from rio_cogeo_spark.operators.focal import diurnal

    rows = []
    # cell (0,0): all 12 pages in one hour -> maximal chi2
    rows += [(0, 0, 5 * 3600 + i) for i in range(12)]
    # cell (1,1): 12 pages spread over 12 hours -> lower chi2
    rows += [(1, 1, h * 3600) for h in range(12)]
    df = spark.createDataFrame(rows, "tile_x long, tile_y long, ts_sec long")
    got = {(r.tile_x, r.tile_y): r for r in diurnal(df, min_pages=8).collect()}

    def chi2(obs, t):
        num = sum((o * 24 - t) ** 2 for o in obs) + (24 - len(obs)) * t * t
        return num * 1_000_000 // (576 * t)

    assert got[(0, 0)].chi2_mil == chi2([12], 12)
    assert got[(1, 1)].chi2_mil == chi2([1] * 12, 12)
    assert got[(0, 0)].chi2_mil > got[(1, 1)].chi2_mil
    assert (got[(0, 0)].n_hours, got[(1, 1)].n_hours) == (1, 12)


def test_flow_dir_census(spark):
    """D8 steepest descent vs exhaustive enumeration; absent neighbors
    are value 0; E->NE priority tie-break; sinks."""
    from rio_cogeo_spark.operators.focal import _D8, flow_dir

    zoom = 3
    n = 1 << zoom
    cells = {(1, 1): 9, (2, 1): 5, (1, 2): 5, (4, 4): 1, (0, 0): 2}
    df = spark.createDataFrame(
        [(x, y, v) for (x, y), v in cells.items()],
        "tile_x long, tile_y long, page_count long",
    )
    want = {}
    for (x, y), v in cells.items():
        best = None
        for i, dx, dy, c in _D8:
            qx, qy = x + dx, y + dy
            if not (0 <= qx < n and 0 <= qy < n):
                continue
            nv = cells.get((qx, qy), 0)
            if nv < v and (best is None or (nv - v, i) < best[:2]):
                best = (nv - v, i, c)
        key = "sink" if best is None else best[2]
        drop = 0 if best is None else -best[0]
        wc, ws = want.get(key, (0, 0))
        want[key] = (wc + 1, ws + drop)
    got = {
        r.dir: (r.n_cells, r.sum_drop) for r in flow_dir(df, zoom).collect()
    }
    assert got == want


def test_lacunarity_profile(spark):
    """Exact lacunarity vs hand moments; clumped pattern scores higher
    than spread at every r; divisibility guard."""
    import pytest as _pytest

    from rio_cogeo_spark.operators.focal import lacunarity

    zoom = 3  # 8x8
    def run(cells):
        df = spark.createDataFrame(
            cells, "tile_x long, tile_y long, page_count long"
        )
        return {r.r: r for r in lacunarity(df, zoom).collect()}

    clumped = run([(0, 0, 4), (0, 1, 4)])
    spread = run([(0, 0, 1)] * 1 + [(3, 3, 1), (5, 1, 1), (1, 5, 1),
                                    (7, 7, 1), (2, 6, 1), (6, 2, 1),
                                    (4, 4, 1)])
    for r, nb in ((1, 64), (2, 16), (4, 4)):
        c = clumped[r]
        assert c.n_boxes == nb and c.s == 8
        assert c.lac_mil == (c.q * nb * 1_000_000) // (8 * 8)
        assert clumped[r].lac_mil >= spread[r].lac_mil
    # r=4: both cells in one box -> q = 64, lac = 64*4e6/64 = 4e6
    assert clumped[4].lac_mil == 4_000_000
    with _pytest.raises(ValueError):
        lacunarity(spark.createDataFrame(
            [(0, 0, 1)], "tile_x long, tile_y long, page_count long"
        ), zoom, box_sizes=(3,))


def test_pair_correlation_csr_ratio(spark):
    """g(k) vs exhaustive ordered-pair counts and closed-form CSR
    denominators; spine keeps empty distances; NULL for n < 2."""
    from rio_cogeo_spark.operators.focal import (
        _ring_w_total,
        pair_correlation,
    )

    zoom = 3
    n = 1 << zoom
    cells = [(0, 0), (0, 1), (5, 5)]
    df = spark.createDataFrame(cells, "tile_x long, tile_y long")
    rows = {r.k: r for r in pair_correlation(df, zoom).collect()}
    N, nc = n * n, len(cells)
    for k in (1, 2, 3):
        pairs = sum(
            1 for a in cells for b in cells
            if a != b and max(abs(a[0] - b[0]), abs(a[1] - b[1])) == k
        )
        wk = _ring_w_total(n, k)
        r = rows[k]
        assert (r.n_pairs, r.w_k) == (pairs, wk)
        assert r.g_mil == (pairs * N * (N - 1) * 10**6) // (
            nc * (nc - 1) * wk
        )
    assert rows[1].n_pairs == 2  # the adjacent (0,0)/(0,1) ordered pair
    solo = spark.createDataFrame([(0, 0)], "tile_x long, tile_y long")
    assert all(
        r.g_mil is None for r in pair_correlation(solo, zoom).collect()
    )
