

def test_curvature_peak_pit_flat(spark):
    """Isolated peak (no neighbors): lap = -4v, convex. A pit
    surrounded by taller rooks: lap > 0, concave. Constant plateau
    interior: flat."""
    from rio_cogeo_spark.operators.focal import curvature

    # isolated peak at (10, 10), v = 5 -> lap = -20
    peak = spark.createDataFrame(
        [(10, 10, 5)], "tile_x long, tile_y long, page_count long"
    )
    r = curvature(peak, 5).collect()[0]
    assert (r.lap, r.cls) == (-20, "convex")

    # pit v=1 with four rook neighbors v=10 -> lap = 40 - 4 = 36
    rows = [(5, 5, 1), (4, 5, 10), (6, 5, 10), (5, 4, 10), (5, 6, 10)]
    pit = spark.createDataFrame(
        rows, "tile_x long, tile_y long, page_count long"
    )
    out = {(r.tile_x, r.tile_y): r for r in curvature(pit, 5).collect()}
    assert out[(5, 5)].lap == 36 and out[(5, 5)].cls == "concave"

    # 3x3 constant plateau: interior cell flat
    plat = spark.createDataFrame(
        [(x, y, 7) for x in range(3) for y in range(3)],
        "tile_x long, tile_y long, page_count long",
    )
    o = {(r.tile_x, r.tile_y): r for r in curvature(plat, 5).collect()}
    assert o[(1, 1)].lap == 0 and o[(1, 1)].cls == "flat"


def test_curvature_laplacian_sums_to_edge_flux(spark):
    """Over a closed region the Laplacian telescopes: sum of lap over
    ALL cells of an isolated blob = -(boundary flux) = -(sum over
    cells of v x missing-neighbor count)."""
    from rio_cogeo_spark.operators.focal import curvature

    rows = [(2, 2, 3), (3, 2, 5), (2, 3, 7)]
    df = spark.createDataFrame(
        rows, "tile_x long, tile_y long, page_count long"
    )
    out = curvature(df, 5).collect()
    total = sum(r.lap for r in out)
    # missing-neighbor counts: (2,2) has 2 present -> 2 missing of 4? no:
    # (2,2) neighbors present: (3,2), (2,3) -> 2 missing = 2; v=3
    # (3,2) neighbors present: (2,2) -> 3 missing; v=5
    # (2,3) neighbors present: (2,2) -> 3 missing; v=7
    assert total == -(3 * 2 + 5 * 3 + 7 * 3)


def test_semivariogram_two_cell_goldens(spark):
    """Two occupied cells at x-distance 2, values 3 and 7: exactly one
    pair at lag 2 (d² = 16, γ = 8), no pairs at other lags."""
    from rio_cogeo_spark.operators.focal import semivariogram

    df = spark.createDataFrame(
        [(4, 4, 3), (6, 4, 7)], "tile_x long, tile_y long, page_count long"
    )
    out = {r.lag: r for r in semivariogram(df, 5, max_lag=4).collect()}
    assert set(out) == {2}
    assert out[2].n_pairs == 1
    assert out[2].sum_d2 == 16
    assert out[2].gamma_mil == 8_000_000


def test_semivariogram_constant_line_zero_gamma(spark):
    """A constant-valued row of 6 cells: lag h has 6−h x-pairs, all
    with d = 0 → γ = 0 exactly at every lag."""
    from rio_cogeo_spark.operators.focal import semivariogram

    df = spark.createDataFrame(
        [(x, 9, 5) for x in range(6)],
        "tile_x long, tile_y long, page_count long",
    )
    out = {r.lag: r for r in semivariogram(df, 5, max_lag=3).collect()}
    for h in (1, 2, 3):
        assert out[h].n_pairs == 6 - h
        assert out[h].sum_d2 == 0
        assert out[h].gamma_mil == 0


def test_semivariogram_linear_ramp_quadratic_growth(spark):
    """v = x on a line: d² = h² per pair, so γ(h) = h²/2 — the
    textbook unbounded (trend) variogram shape."""
    from rio_cogeo_spark.operators.focal import semivariogram

    df = spark.createDataFrame(
        [(x, 0, x) for x in range(8)],
        "tile_x long, tile_y long, page_count long",
    )
    out = {r.lag: r for r in semivariogram(df, 5, max_lag=4).collect()}
    for h in (1, 2, 3, 4):
        assert out[h].n_pairs == 8 - h
        assert out[h].sum_d2 == (8 - h) * h * h
        assert out[h].gamma_mil == h * h * 1_000_000 // 2


def test_join_counts_checkerboard_and_blob(spark):
    """2×2 all-black blob on an otherwise empty z2 grid (n = 4):
    j_bb = 4 (the blob's internal rook pairs), j_bw = the blob's
    8 boundary pairs, j_ww = the rest; totals close exactly."""
    from rio_cogeo_spark.operators.focal import join_counts

    rows = [(1, 1, 5), (2, 1, 5), (1, 2, 5), (2, 2, 5)]
    df = spark.createDataFrame(
        rows, "tile_x long, tile_y long, page_count long"
    )
    r = join_counts(df, 2).collect()[0]
    n = 4
    j_total = 2 * n * (n - 1)  # 24
    assert r.j_total == j_total
    assert r.n_black == 4 and r.n_white == 12
    assert r.j_bb == 4
    assert r.j_bw == 8
    assert r.j_ww == j_total - 4 - 8
    # CSR expectation: J * nb(nb-1) / (N(N-1)) = 24*12/240 = 1.2
    assert r.exp_bb_mil == 1_200_000


def test_join_counts_below_threshold_all_white(spark):
    """Occupied cells under the threshold are white: zero BB/BW, all
    pairs WW."""
    from rio_cogeo_spark.operators.focal import join_counts

    df = spark.createDataFrame(
        [(0, 0, 1), (1, 0, 1)], "tile_x long, tile_y long, page_count long"
    )
    r = join_counts(df, 2).collect()[0]
    assert r.n_black == 0 and r.j_bb == 0 and r.j_bw == 0
    assert r.j_ww == r.j_total
    assert r.exp_bb_mil == 0
