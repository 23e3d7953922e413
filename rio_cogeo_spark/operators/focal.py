"""Neighborhood (focal) raster operators over the tile grid.

rio-cogeo's raster model treats a dataset as a dense grid of fixed-size
blocks (reference ``utils.py:125-140`` block tiling); overview resampling
(reference ``cogeo.py:259-276``) is the *vertical* neighborhood operation
(4 children → 1 parent).  This module adds the *horizontal* neighborhood
family over the same tile grid — the moving-window operations a density
raster built from web pages needs before thresholding or publication:

* :func:`dilate_tiles` — morphological dilation (the crawl-coverage
  buffer: every tile within ``radius`` of an occupied tile).
* :func:`focal_stats` — 3x3 focal sum / mean smoothing,
  edge-clipped like GDAL's ``-of`` focal tools (absent tiles are ZERO,
  not NULL: density semantics).
* :func:`hotspots` — Getis-Ord Gi* z-scores over the FULL grid
  (empty cells count as 0 in the global mean/std), the standard
  hotspot-detection statistic for point-density rasters.
* :func:`compact_tiles` — quadtree compaction (H3 ``compact`` analog /
  sparse-COG overview structure): replace 4 complete sibling tiles by
  their parent, recursively, yielding the minimal mixed-zoom cover.

Scale design (100 TB): every operator here consumes the *tile table*,
whose row count is bounded by the grid size ``4^zoom`` — independent of
corpus size — and emits thin ``(x, y, value)`` rows.  Dilation/focal are
one explode (a fixed (2r+1)^2-row literal array, no UDF) plus ONE
hash-aggregate shuffle on the neighbor key; the compaction loop runs at
most ``zoom`` rounds, each ONE window shuffle over a set that shrinks 4x
per round, with no joins (full quads are detected by a sibling count
over the parent key and the parent set is re-derived from the same
frame, so no driver collect and no broadcast).

Column names are fixed: tiles key on ``tile_x``/``tile_y`` and carry
``page_count`` (some operators also read ``lang``, ``ts_sec``, ``cls``
or ``t_bucket``). Only :func:`focal_stats` and :func:`morans_i` take
the value column as a parameter.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _offsets(radius: int):
    return [(dx, dy) for dx in range(-radius, radius + 1)
            for dy in range(-radius, radius + 1)]


def _neighbor_rows(
    tiles: DataFrame, zoom: int, radius: int, extra=(),
) -> DataFrame:
    """Explode each tile row into its (2r+1)^2 in-bounds neighbor keys.

    Pure literal-array explode — whole-stage codegen, no UDF; the grid
    bound ``0..2^zoom-1`` clips edge windows (no wrap: the reference's
    grids do not wrap either — mercator tile (0, y) and (2^z-1, y) are
    distinct blocks, utils.py block layout).
    """
    n = F.lit(2 ** zoom)
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _offsets(radius)
        ])
    ).alias("off")
    rows = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        *[F.col(c) for c in extra],
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("nx"),
        (F.col("_sy") + F.col("off.dy")).alias("ny"),
        *extra,
    )
    return rows.filter(
        (F.col("nx") >= 0) & (F.col("nx") < n)
        & (F.col("ny") >= 0) & (F.col("ny") < n)
    )


def dilate_tiles(tiles: DataFrame, zoom: int, radius: int = 1) -> DataFrame:
    """Morphological dilation of the occupied-tile set.

    Output ``(tile_x, tile_y)`` distinct — every grid cell within
    Chebyshev distance ``radius`` of an occupied tile (clipped to the
    grid).  The crawl-coverage buffer: "tiles we must render because a
    neighbor has pages" (halo tiles get nonzero smoothed density from
    :func:`focal_stats`).  One explode + one aggregate shuffle.
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    return (
        _neighbor_rows(tiles, zoom, radius)
        .groupBy(F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )


def focal_stats(
    tiles: DataFrame,
    zoom: int,
    value_col: str = "page_count",
) -> DataFrame:
    """Edge-clipped focal (moving-window) sum and mean over the grid.

    Output ``(tile_x, tile_y, focal_sum, n_cells, focal_mean)`` for
    every cell whose window contains at least one occupied tile (the
    dilated set — sparse-raster semantics: cells outside it have
    focal_sum 0 by definition and are not materialized).  Absent tiles
    inside a window count as value 0 (density semantics), so
    ``focal_mean = focal_sum / n_cells`` where ``n_cells`` is the
    IN-BOUNDS window size, computed in closed form from the cell
    coordinates — no second pass:

        n_cells = (1 + min(x, r) + min(2^z-1-x, r))
                * (1 + min(y, r) + min(2^z-1-y, r))
    """
    contrib = _neighbor_rows(
        tiles.select(
            F.col("tile_x"), F.col("tile_y"),
            F.col(value_col).cast("long").alias("_v"),
        ),
        zoom, 1, extra=("_v",),
    )
    edge = F.lit(2 ** zoom - 1)
    r = F.lit(1)
    n_cells = (
        (F.lit(1) + F.least(F.col("tile_x"), r)
         + F.least(edge - F.col("tile_x"), r))
        * (F.lit(1) + F.least(F.col("tile_y"), r)
           + F.least(edge - F.col("tile_y"), r))
    )
    return (
        contrib.groupBy(F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"))
        .agg(F.sum("_v").alias("focal_sum"))
        .withColumn("n_cells", n_cells.cast("long"))
        .withColumn(
            "focal_mean",
            F.col("focal_sum").cast("double") / F.col("n_cells"),
        )
    )


def hotspots(tiles: DataFrame, zoom: int) -> DataFrame:
    """Getis-Ord Gi* hotspot z-scores over the FULL grid.

    The standard local spatial statistic for density hotspots: for each
    cell, how far the window sum deviates from what a random scatter of
    the corpus's total mass would put there,

        Gi* = (S_i - mean * W_i)
            / (std * sqrt((N*W_i - W_i^2) / (N - 1)))

    with binary weights over the in-bounds (2r+1)^2 window:
    ``S_i`` the focal sum, ``W_i`` the in-bounds window size, and
    ``N = 4^zoom`` the FULL grid size — empty cells are value 0 and
    participate in ``mean``/``std`` (density raster, not sample-of-
    present-tiles), so both moments come from one global aggregate over
    the present rows plus the grid constant.  Emitted rows: the dilated
    set (every cell with S_i > 0); all other cells share the constant
    ``Gi* = -mean*W_i / (...)`` per W_i class and are not materialized.

    Cost: :func:`focal_stats` (one shuffle) + one scalar global
    aggregate broadcast back as a literal cross-join (AQE folds it into
    a BroadcastNestedLoopJoin of one row).

    The input is materialized once (r06): the moments branch and the
    focal branch both consume ``tiles``; column pruning specializes each
    branch's aggregate, so exchange reuse never fires and the input
    lineage (a full base-tile build when fed from ``base_tiles``) would
    run TWICE. So the pruned tile projection is localCheckpointed once
    per call — an eager, call-scoped materialization (no
    cross-invocation cache; the tile table is 4^zoom-bounded, never
    corpus-sized, so the checkpoint is safe at any corpus scale).
    """
    n_grid = float(4 ** zoom)
    tiles = tiles.select("tile_x", "tile_y", "page_count").localCheckpoint(
        eager=True
    )
    vals = tiles.select(F.col("page_count").cast("double").alias("_v"))
    # two exact moments (integer-valued doubles: sums are order-independent),
    # std derived afterwards with plain * and sqrt so the DuckDB oracle twin
    # reproduces the identical IEEE expression tree bit-for-bit
    moments = vals.agg(
        (F.sum("_v") / F.lit(n_grid)).alias("g_mean"),
        (F.sum(F.col("_v") * F.col("_v")) / F.lit(n_grid)).alias("g_ex2"),
    )
    foc = focal_stats(tiles, zoom, "page_count")
    w = F.col("n_cells").cast("double")
    g_std = F.sqrt(F.col("g_ex2") - F.col("g_mean") * F.col("g_mean"))
    denom = g_std * F.sqrt(
        (F.lit(n_grid) * w - w * w) / F.lit(n_grid - 1.0)
    )
    return (
        foc.crossJoin(F.broadcast(moments))
        .select(
            "tile_x", "tile_y", "focal_sum", "n_cells",
            ((F.col("focal_sum") - F.col("g_mean") * w) / denom).alias("gi_star"),
        )
    )


def compact_tiles(tiles: DataFrame, zoom: int, min_zoom: int = 0) -> DataFrame:
    """Quadtree compaction: the minimal mixed-zoom cover of a tile set.

    H3 ``compact`` semantics on the quad grid (and the sparse-COG
    overview structure: "store the parent block instead of 4 fully-
    covered children"): a parent at zoom z-1 replaces its 4 children
    iff ALL FOUR are (recursively) fully covered.  Input: occupied
    tiles at ``zoom`` (duplicates tolerated); output
    ``(zoom, tile_x, tile_y)`` — the union over levels of cells kept at
    that level; reconstructing each output cell's descendants at
    ``zoom`` reproduces the input set exactly (pytest-asserted).

    Plan (r06, one pass): a cell at relative depth ``k`` (level
    ``zoom - k``) is *fully covered* iff the count of distinct input
    tiles under it equals ``4^k`` — by induction, the sum over its 4
    children is ``4^k`` iff every child is itself full at ``k-1``.  The
    whole compaction therefore reads off ONE ancestor-counts table:
    explode each distinct tile into its ``K+1`` ancestors, ONE
    map-side-combinable groupBy over ``(k, ax, ay)``, and emit the full
    cells whose parent is not full (cells at ``min_zoom`` emit
    unconditionally — no deeper promotion exists).  This replaces the
    former per-level window loop, whose union branches re-derived every
    preceding level's window per branch (O(levels²) recompute, 48
    Exchanges at 4 levels in the r06 before-plan) with 3 Exchanges
    total; output is row-identical (pytest + oracle `compact`).
    Exploded rows are ``N x (K+1)`` with K <= ~23 on web grids, and the
    counts table is input-bounded, so no new memory class at 100 TB.
    """
    if not 0 <= min_zoom <= zoom:
        raise ValueError(f"need 0 <= min_zoom <= zoom, got {min_zoom}..{zoom}")
    K = zoom - min_zoom
    cur = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
    ).distinct()
    anc = cur.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).cast("int").alias("k"),
                    F.shiftright(F.col("tile_x"), k).alias("ax"),
                    F.shiftright(F.col("tile_y"), k).alias("ay"),
                )
                for k in range(K + 1)
            ])
        ).alias("a")
    ).select("a.k", "a.ax", "a.ay")
    counts = anc.groupBy("k", "ax", "ay").agg(F.count(F.lit(1)).alias("_n"))
    # the parent's leaf count is the sum over its (present) children —
    # one window over the computed parent key, join-free
    parent = Window.partitionBy(
        "k", F.shiftright(F.col("ax"), 1), F.shiftright(F.col("ay"), 1)
    )
    flagged = counts.withColumn("_pn", F.sum("_n").over(parent))
    full_here = F.col("_n") == F.expr("shiftleft(CAST(1 AS BIGINT), 2 * k)")
    parent_full = F.col("_pn") == F.expr(
        "shiftleft(CAST(1 AS BIGINT), 2 * k + 2)"
    )
    emit = flagged.filter(
        full_here & ((F.col("k") == K) | ~parent_full)
    )
    return emit.select(
        (F.lit(zoom) - F.col("k")).cast("int").alias("zoom"),
        F.col("ax").alias("tile_x"),
        F.col("ay").alias("tile_y"),
    )


def uncompact_tiles(compacted: DataFrame, zoom: int) -> DataFrame:
    """Inverse of :func:`compact_tiles`: expand a mixed-zoom cover back
    to the uniform ``zoom`` grid (each cell at z' → its 4^(zoom-z')
    descendants).  One sequence explode per zoom delta — a projection,
    no shuffle; row inflation equals the true descendant count, which
    compaction already bounded by the original input size.
    """
    d = f"(CAST({zoom} AS INT) - CAST(zoom AS INT))"
    return (
        compacted.select(
            F.expr(f"shiftleft(CAST(tile_x AS BIGINT), {d})").alias("_bx"),
            F.expr(f"shiftleft(CAST(tile_y AS BIGINT), {d})").alias("_by"),
            F.expr(f"CAST(shiftleft(1, {d}) AS BIGINT)").alias("_k"),
        )
        .select(
            "_bx", "_by",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_k") - 1)).alias("_i"),
            "_k",
        )
        .select(
            "_bx", "_by", "_i", "_k",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_k") - 1)).alias("_j"),
        )
        .select(
            (F.col("_bx") + F.col("_i")).alias("tile_x"),
            (F.col("_by") + F.col("_j")).alias("tile_y"),
        )
    )


def viewport_cells(x0: int, y0: int, x1: int, y1: int, zoom: int):
    """Driver-side enumeration of the tiles a viewport needs at
    ``zoom`` (inclusive tile-coord bbox). Bounded by the viewport size
    (a few hundred cells for any real screen), never the corpus."""
    if not (0 <= x0 <= x1 < 2 ** zoom and 0 <= y0 <= y1 < 2 ** zoom):
        raise ValueError(
            f"viewport ({x0},{y0})..({x1},{y1}) out of zoom-{zoom} grid"
        )
    return [(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]


def assemble_viewport(
    available: DataFrame,
    zoom: int,
    bbox,
    min_zoom: int = 0,
) -> DataFrame:
    """LOD viewport assembly over a mixed-zoom cover.

    The serving-path dual of :func:`compact_tiles`: a renderer asks for
    the ``bbox`` tiles at ``zoom``; the store holds a compacted
    mixed-zoom cover (or any partial pyramid). For each requested tile
    emit the DEEPEST available cell among itself and its ancestors down
    to ``min_zoom`` — rio-cogeo's overview-selection semantics (read
    the overview nearest the requested resolution, utils.py overview
    factors) restated for a sparse tile table. Requested tiles no
    ancestor covers emit nothing (render transparent).

    Plan shape: the (viewport x levels) ancestor-key table is built on
    the driver (bounded by screen size) and BROADCAST onto the
    available-tiles table — the big side never shuffles; the
    deepest-match pick is ``max(struct(zoom, x, y))`` grouped by the
    requested tile, whose input is at most (levels+1) rows per
    requested tile.

    Output: ``(req_x, req_y, src_zoom, src_x, src_y)``.
    """
    if not 0 <= min_zoom <= zoom:
        raise ValueError(f"need 0 <= min_zoom <= zoom, got {min_zoom}..{zoom}")
    x0, y0, x1, y1 = bbox
    cells = viewport_cells(x0, y0, x1, y1, zoom)
    anc_rows = [
        (x, y, z, x >> (zoom - z), y >> (zoom - z))
        for x, y in cells
        for z in range(min_zoom, zoom + 1)
    ]
    spark = available.sparkSession
    # from pandas: a JVM local relation, so no Python worker scans it
    anc = spark.createDataFrame(
        pd.DataFrame(anc_rows, columns=["req_x", "req_y", "anc_zoom", "anc_x", "anc_y"]),
        "req_x long, req_y long, anc_zoom int, anc_x long, anc_y long",
    )
    hits = available.select(
        F.col("zoom").cast("int").alias("anc_zoom"),
        F.col("tile_x").cast("long").alias("anc_x"),
        F.col("tile_y").cast("long").alias("anc_y"),
    ).join(F.broadcast(anc), ["anc_zoom", "anc_x", "anc_y"])
    deepest = (
        hits.groupBy("req_x", "req_y")
        .agg(F.max(F.struct("anc_zoom", "anc_x", "anc_y")).alias("src"))
    )
    return deepest.select(
        "req_x", "req_y",
        F.col("src.anc_zoom").alias("src_zoom"),
        F.col("src.anc_x").alias("src_x"),
        F.col("src.anc_y").alias("src_y"),
    )


def focal_mode(tiles: DataFrame, zoom: int, radius: int = 1) -> DataFrame:
    """Focal MAJORITY filter — the categorical companion to
    :func:`focal_stats` (GDAL/ArcGIS majority filter: smooth a
    classified raster by assigning each cell the modal class of its
    (2r+1)^2 neighborhood). Unlike the density operators, absent tiles
    carry NO class and are ignored (categorical semantics, not
    zero-fill), and output rows are emitted only for cells that are
    themselves classified — the filter re-labels the input cells, it
    does not grow the set.

    Output ``(tile_x, tile_y, mode_class, mode_count, window_count)``;
    ties break to the smallest class (total-ordered, hash-identical
    cross-engine).

    Scale design: one literal-offset explode (rows = tiles x (2r+1)^2,
    grid-bounded) + TWO combinable aggregates — the majority pick is
    ``MIN(struct(-n, class))``, never a per-cell window; occupancy of
    the center cell rides the vote rows as a dx=dy=0 flag, so no join
    back to the input.
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    n = F.lit(2 ** zoom)
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _offsets(radius)
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("cls").alias("_cls"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("nx"),
        (F.col("_sy") + F.col("off.dy")).alias("ny"),
        F.col("_cls"),
        ((F.col("off.dx") == 0) & (F.col("off.dy") == 0))
        .cast("int").alias("_is_center"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < n)
        & (F.col("ny") >= 0) & (F.col("ny") < n)
    )
    counts = votes.groupBy("nx", "ny", "_cls").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("_is_center").alias("_ctr"),
    )
    return (
        counts.groupBy("nx", "ny")
        .agg(
            F.min(
                F.struct((-F.col("_n")).alias("neg_n"),
                         F.col("_cls").alias("cls"))
            ).alias("m"),
            F.sum("_n").alias("window_count"),
            F.max("_ctr").alias("_occ"),
        )
        .filter(F.col("_occ") == 1)
        .select(
            F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"),
            F.col("m.cls").alias("mode_class"),
            (-F.col("m.neg_n")).cast("long").alias("mode_count"),
            F.col("window_count").cast("long").alias("window_count"),
        )
    )


def class_crosstab(a: DataFrame, b: DataFrame) -> DataFrame:
    """Classification CONFUSION MATRIX between two tile classifications
    of the same grid — the categorical change-detection companion to
    the numeric ``incremental.pyramid_subtract`` (GDAL/remote-sensing
    land-cover change matrix): for every (class-in-A, class-in-B)
    combination, the tile count and its exact-ppm share of all tiles
    classified by either side. Tiles present in only one side cross
    with ``"(absent)"`` (coverage gained/lost rows), so the matrix margins
    ARE the coverage report.

    Output ``(cls_a, cls_b, n_tiles, share_ppm)`` — classes carried as
    strings so heterogeneous class columns cross-tab cleanly and
    hash-identically.

    Scale design: ONE co-partitioned full-outer join on the tile key
    (both sides grid-bounded, 4^zoom rows max) + a combinable count;
    the share join is a 1-row broadcast total, never a window.
    """
    sa = a.select(
        F.col("tile_x").alias("_x"), F.col("tile_y").alias("_y"),
        F.col("cls").cast("string").alias("cls_a"),
    )
    sb = b.select(
        F.col("tile_x").alias("_x"), F.col("tile_y").alias("_y"),
        F.col("cls").cast("string").alias("cls_b"),
    )
    both = sa.join(sb, ["_x", "_y"], "full_outer").select(
        F.coalesce("cls_a", F.lit("(absent)")).alias("cls_a"),
        F.coalesce("cls_b", F.lit("(absent)")).alias("cls_b"),
    )
    ct = both.groupBy("cls_a", "cls_b").agg(F.count(F.lit(1)).alias("n_tiles"))
    total = ct.agg(F.sum("n_tiles").alias("_total"))
    return ct.crossJoin(F.broadcast(total)).select(
        "cls_a", "cls_b", F.col("n_tiles").cast("long").alias("n_tiles"),
        F.expr("(n_tiles * 1000000) div _total").alias("share_ppm"),
    )


def _tanh_sqlish(u: str) -> str:
    """tanh via exp, textually identical on Spark and DuckDB (tanh
    itself is not guaranteed across libm builds; exp/ln already anchor
    every certified mercator twin)."""
    return f"((exp(2.0 * ({u})) - 1.0) / (exp(2.0 * ({u})) + 1.0))"


def area_weighted_density(tiles: DataFrame, zoom: int) -> DataFrame:
    """TRUE-AREA density correction for mercator tile grids — the
    cartographic fix every tile-density choropleth needs: a z8 tile at
    60°N covers ~1/4 the ground area of an equatorial one, so raw
    per-tile counts overstate polar density 4x. Uses the closed form
    ``sin(gd(y)) = tanh(y/R)``: the true-area share of mercator row y
    is ``(tanh(y_top/R) - tanh(y_bot/R)) / 2`` (of the web-mercator
    world band), and columns within a row split it equally.

    Output ``(tile_x, tile_y, page_count, area_pptr, density_ppm)``:
    ``area_pptr`` = the tile's world-area share in parts-per-trillion
    (floor(x+0.5) — the engine-independent rounding over a textually
    identical exp pipeline), ``density_ppm`` = value per ppm of world
    area, exact BIGINT division on top of the pinned int.

    Scale design: a pure projection — the row share is a per-row
    closed-form expression, no lookup table, no join, no shuffle.
    """
    from rio_cogeo_spark import grid

    n = 1 << zoom
    origin = grid.ORIGIN_SHIFT
    r = grid.EARTH_RADIUS
    span = 2.0 * origin
    y_top = (
        f"(CAST({origin!r} AS DOUBLE) - CAST(tile_y AS DOUBLE) * "
        f"CAST({span!r} AS DOUBLE) / CAST({n} AS DOUBLE))"
    )
    y_bot = (
        f"(CAST({origin!r} AS DOUBLE) - (CAST(tile_y AS DOUBLE) + 1.0) * "
        f"CAST({span!r} AS DOUBLE) / CAST({n} AS DOUBLE))"
    )
    share = (
        f"(({_tanh_sqlish(f'{y_top} / CAST({r!r} AS DOUBLE)')}"
        f" - {_tanh_sqlish(f'{y_bot} / CAST({r!r} AS DOUBLE)')})"
        f" / 2.0 / CAST({n} AS DOUBLE))"
    )
    area = f"CAST(floor({share} * 1000000000000.0 + 0.5) AS BIGINT)"
    return tiles.select(
        F.col("tile_x"), F.col("tile_y"), F.col("page_count"),
        F.expr(area).alias("area_pptr"),
        F.expr(
            "(page_count * 1000000) div "
            f"greatest({area} div 1000000, 1)"
        ).alias("density_ppm"),
    )


def area_weighted_density_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`area_weighted_density` — the identical
    exp pipeline and floor(x+0.5) pin."""
    from rio_cogeo_spark import grid

    n = 1 << zoom
    origin = grid.ORIGIN_SHIFT
    r = grid.EARTH_RADIUS
    span = 2.0 * origin
    y_top = (
        f"(CAST({origin!r} AS DOUBLE) - CAST(tile_y AS DOUBLE) * "
        f"CAST({span!r} AS DOUBLE) / CAST({n} AS DOUBLE))"
    )
    y_bot = (
        f"(CAST({origin!r} AS DOUBLE) - (CAST(tile_y AS DOUBLE) + 1.0) * "
        f"CAST({span!r} AS DOUBLE) / CAST({n} AS DOUBLE))"
    )
    share = (
        f"(({_tanh_sqlish(f'{y_top} / CAST({r!r} AS DOUBLE)')}"
        f" - {_tanh_sqlish(f'{y_bot} / CAST({r!r} AS DOUBLE)')})"
        f" / 2.0 / CAST({n} AS DOUBLE))"
    )
    area = f"CAST(floor({share} * 1000000000000.0 + 0.5) AS BIGINT)"
    return f"""
WITH awd AS ({tiles_cte})
SELECT tile_x, tile_y, page_count,
       {area} AS area_pptr,
       CAST((page_count * 1000000) //
            greatest({area} // 1000000, 1) AS BIGINT) AS density_ppm
FROM awd"""


_HILLSHADE_ALTITUDE_DEG = 45.0


def hillshade(
    tiles: DataFrame,
    zoom: int,
    azimuth_deg: float = 315.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """Analytical hillshading of the density grid (GDAL ``gdaldem
    hillshade`` semantics, Horn '81 gradients) — the cartographic
    relief render of a page-density "elevation" surface; absent
    neighbors are elevation 0 (density semantics, as
    :func:`focal_stats`), output rows are the OCCUPIED cells.

    Determinism: the light vector is computed DRIVER-side (its
    trigonometry never crosses an engine boundary) and the per-cell
    shade uses the Lambertian normal-dot-light closed form::

        shade = 255 * max(0, (sinA - z*dzdx*Lx - z*dzdy*Ly)
                              / sqrt(1 + z^2*(dzdx^2 + dzdy^2)))

    — only +,*,/ and sqrt in-engine (IEEE-exact everywhere), pinned to
    an exact int by ``floor(shade * 1000 + 0.5)`` (``shade_mil``,
    0..255000). No atan/cos/sin evaluates inside either engine.

    Scale design: one literal-offset vote explode + ONE combinable
    aggregate (the 9 Horn slots are conditional sums — each slot has at
    most one contributor per cell); then a pure projection. No window,
    no join.
    """
    import math

    n = F.lit(2 ** zoom)
    az = math.radians(azimuth_deg)
    alt = math.radians(_HILLSHADE_ALTITUDE_DEG)
    # light vector (x east, y north, z up); repr() keeps full precision
    lx = repr(math.cos(alt) * math.sin(az))
    ly = repr(math.cos(alt) * math.cos(az))
    sin_alt = repr(math.sin(alt))
    zf = repr(float(z_factor))

    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _offsets(1)
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("page_count").cast("double").alias("_v"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("nx"),
        (F.col("_sy") + F.col("off.dy")).alias("ny"),
        # slot as seen FROM the receiving cell: the contributor sits at
        # offset (-dx, -dy) relative to it
        (-F.col("off.dx")).alias("rx"),
        (-F.col("off.dy")).alias("ry"),
        F.col("_v"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < n)
        & (F.col("ny") >= 0) & (F.col("ny") < n)
    )

    def slot(rx, ry):
        return F.sum(
            F.when((F.col("rx") == rx) & (F.col("ry") == ry), F.col("_v"))
            .otherwise(F.lit(0.0))
        )

    # Horn letters over screen offsets (x east, y SOUTH in tile coords):
    # a=(-1,-1) b=(0,-1) c=(1,-1) / d=(-1,0) e f=(1,0) / g=(-1,1) h=(0,1) i=(1,1)
    g9 = votes.groupBy("nx", "ny").agg(
        slot(-1, -1).alias("a"), slot(0, -1).alias("b"), slot(1, -1).alias("c"),
        slot(-1, 0).alias("d"), slot(0, 0).alias("e"), slot(1, 0).alias("f"),
        slot(-1, 1).alias("g"), slot(0, 1).alias("h"), slot(1, 1).alias("i"),
        F.max(
            F.when((F.col("rx") == 0) & (F.col("ry") == 0), F.lit(1))
            .otherwise(F.lit(0))
        ).alias("_occ"),
    )
    # tile_y grows SOUTH, so dzdy(north) = ((a+2b+c)-(g+2h+i))/8
    expr = (
        f"floor(greatest(CAST(0 AS DOUBLE), "
        f"255.0 * (CAST({sin_alt} AS DOUBLE) "
        f"- CAST({zf} AS DOUBLE) * (((c + 2*f + i) - (a + 2*d + g)) / 8.0)"
        f" * CAST({lx} AS DOUBLE) "
        f"- CAST({zf} AS DOUBLE) * (((a + 2*b + c) - (g + 2*h + i)) / 8.0)"
        f" * CAST({ly} AS DOUBLE)) "
        f"/ sqrt(1.0 + CAST({zf} AS DOUBLE) * CAST({zf} AS DOUBLE) * "
        f"((((c + 2*f + i) - (a + 2*d + g)) / 8.0) * "
        f"(((c + 2*f + i) - (a + 2*d + g)) / 8.0) + "
        f"(((a + 2*b + c) - (g + 2*h + i)) / 8.0) * "
        f"(((a + 2*b + c) - (g + 2*h + i)) / 8.0)))"
        f") * 1000.0 + 0.5)"
    )
    return (
        g9.filter(F.col("_occ") == 1)
        .select(
            F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"),
            F.expr(expr).cast("long").alias("shade_mil"),
        )
    )


def hillshade_sql(tiles_cte: str, zoom: int, z_factor: float = 1.0) -> str:
    """DuckDB twin of :func:`hillshade` — identical slot folds and the
    textually identical shade expression (same driver-side light
    constants)."""
    import math

    edge = 2 ** zoom - 1
    az = math.radians(315.0)
    alt = math.radians(_HILLSHADE_ALTITUDE_DEG)
    lx = repr(math.cos(alt) * math.sin(az))
    ly = repr(math.cos(alt) * math.cos(az))
    sin_alt = repr(math.sin(alt))
    zf = repr(float(z_factor))

    slots = []
    for name, rx, ry in (
        ("a", -1, -1), ("b", 0, -1), ("c", 1, -1),
        ("d", -1, 0), ("e", 0, 0), ("f", 1, 0),
        ("g", -1, 1), ("h", 0, 1), ("i", 1, 1),
    ):
        slots.append(
            f"SUM(CASE WHEN rx = {rx} AND ry = {ry} THEN v "
            f"ELSE CAST(0 AS DOUBLE) END) AS {name}"
        )
    shade = (
        f"floor(greatest(CAST(0 AS DOUBLE), "
        f"255.0 * (CAST({sin_alt} AS DOUBLE) "
        f"- CAST({zf} AS DOUBLE) * (((c + 2*f + i) - (a + 2*d + g)) / 8.0)"
        f" * CAST({lx} AS DOUBLE) "
        f"- CAST({zf} AS DOUBLE) * (((a + 2*b + c) - (g + 2*h + i)) / 8.0)"
        f" * CAST({ly} AS DOUBLE)) "
        f"/ sqrt(1.0 + CAST({zf} AS DOUBLE) * CAST({zf} AS DOUBLE) * "
        f"((((c + 2*f + i) - (a + 2*d + g)) / 8.0) * "
        f"(((c + 2*f + i) - (a + 2*d + g)) / 8.0) + "
        f"(((a + 2*b + c) - (g + 2*h + i)) / 8.0) * "
        f"(((a + 2*b + c) - (g + 2*h + i)) / 8.0)))"
        f") * 1000.0 + 0.5)"
    )
    return f"""
WITH hs_t AS ({tiles_cte}),
hs_v AS (SELECT t.tile_x + o1.dx AS nx, t.tile_y + o2.dy AS ny,
                -o1.dx AS rx, -o2.dy AS ry,
                CAST(page_count AS DOUBLE) AS v
         FROM hs_t t,
              (VALUES (-1), (0), (1)) o1(dx),
              (VALUES (-1), (0), (1)) o2(dy)
         WHERE t.tile_x + o1.dx BETWEEN 0 AND {edge}
           AND t.tile_y + o2.dy BETWEEN 0 AND {edge}),
hs_g AS (SELECT nx, ny, {', '.join(slots)},
                MAX(CASE WHEN rx = 0 AND ry = 0 THEN 1 ELSE 0 END) AS occ
         FROM hs_v GROUP BY 1, 2)
SELECT nx AS tile_x, ny AS tile_y,
       CAST({shade} AS BIGINT) AS shade_mil
FROM hs_g WHERE occ = 1"""


def morans_i(
    tiles: DataFrame,
    zoom: int,
    value_col: str = "page_count",
) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the FULL ``4^zoom``
    grid with binary queen (8-neighbor, edge-clipped) weights — one row
    ``(n_grid, w_total, s, q, c, b, i_mil)``. The companion global
    statistic to :func:`hotspots` (Gi* localizes, Moran's I summarizes):
    I → +1 for clustered density, ~0 for random scatter, < 0 for
    dispersion.

    Exact-integer contract: absent cells are value 0 and participate.
    With ``N = 4^zoom``, ``S = Σx``, ``Q = Σx²``, ``C = Σ_i x_i ·
    nbrsum_i``, ``B = Σ_i x_i · W_i`` (``W_i`` = in-bounds neighbor
    count, ``nbrsum_i = focal_sum_i − x_i``) and the closed-form total
    weight ``W = 4(n−1)(2n−1)``, ``n = 2^zoom`` (ordered queen pairs of
    an n×n grid), the rational Moran's I reduces to pure integers::

        I = (C·N² − 2·S·B·N + S²·W) / (W · (Q·N − S²))

    emitted as ``i_mil`` via the sign-split trunc-division contract,
    staged in DECIMAL(38,0)/HUGEINT (envelope: ``C·N²`` must fit 38
    digits — holds through zoom ≤ 12 with per-cell counts ≤ 2^31;
    beyond that, shard the grid or rescale counts, documented as for
    bm25/kappa).

    Scale design: one grid fold for (S, Q), one :func:`focal_stats`
    pass (its single contribution shuffle), ONE grid-key join of the
    present tiles to their focal row (both sides tile-bounded), then a
    1-row combine. ``W_i`` is closed-form from coordinates — no second
    neighbor pass. Nothing collects.
    """
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    w_total = 4 * (n_side - 1) * (2 * n_side - 1)
    base = tiles.select(
        F.col("tile_x"), F.col("tile_y"),
        F.col(value_col).cast("long").alias("_x"),
    )
    foc = focal_stats(base, zoom, "_x")
    edge = F.lit(n_side - 1)
    w_i = (
        (F.lit(1) + F.least(F.col("tile_x"), F.lit(1))
         + F.least(edge - F.col("tile_x"), F.lit(1)))
        * (F.lit(1) + F.least(F.col("tile_y"), F.lit(1))
           + F.least(edge - F.col("tile_y"), F.lit(1)))
        - F.lit(1)
    )
    joined = base.join(foc, ["tile_x", "tile_y"]).select(
        F.col("_x"),
        (F.col("focal_sum") - F.col("_x")).alias("nbrsum"),
        w_i.cast("long").alias("w_i"),
    )
    agg = joined.agg(
        F.sum(F.col("_x").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_x")).alias("q"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("nbrsum")).alias("c"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("w_i")).alias("b"),
    )
    return agg.select(
        F.lit(n_grid).cast("long").alias("n_grid"),
        F.lit(w_total).cast("long").alias("w_total"),
        F.col("s").cast("long").alias("s"),
        F.col("q").cast("long").alias("q"),
        F.col("c").cast("long").alias("c"),
        F.col("b").cast("long").alias("b"),
        F.expr(
            f"cast(c * {n_grid} as decimal(38,0)) * {n_grid}"
            f" - 2 * s * b * {n_grid} + s * s * {w_total}"
        ).alias("_num"),
        F.expr(
            f"cast({w_total} as decimal(38,0)) * (q * {n_grid} - s * s)"
        ).alias("_den"),
    ).select(
        "n_grid", "w_total", "s", "q", "c", "b",
        F.expr(
            "case when _den = 0 then cast(null as bigint) "
            "when _num <= 0 then cast(-((-_num * 1000) div _den) as bigint) "
            "else cast((_num * 1000) div _den as bigint) end"
        ).alias("i_mil"),
    )


def morans_i_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`morans_i` — ``base_cte`` must expose
    relation ``base(tile_x, tile_y, page_count)`` (WITH included)."""
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    w_total = 4 * (n_side - 1) * (2 * n_side - 1)
    edge = n_side - 1
    return f"""{base_cte}
, mi_contrib AS (SELECT b.tile_x + o1.dx AS nx, b.tile_y + o2.dy AS ny,
                        b.page_count AS v
                 FROM base b,
                      (VALUES (-1), (0), (1)) o1(dx),
                      (VALUES (-1), (0), (1)) o2(dy)
                 WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
                   AND b.tile_y + o2.dy BETWEEN 0 AND {edge})
, mi_foc AS (SELECT nx AS tile_x, ny AS tile_y,
                    CAST(SUM(v) AS BIGINT) AS focal_sum
             FROM mi_contrib GROUP BY 1, 2)
, mi_j AS (SELECT b.page_count AS x,
                  f.focal_sum - b.page_count AS nbrsum,
                  (1 + least(b.tile_x, 1) + least({edge} - b.tile_x, 1))
                * (1 + least(b.tile_y, 1) + least({edge} - b.tile_y, 1))
                  - 1 AS w_i
           FROM base b JOIN mi_foc f USING (tile_x, tile_y))
, mi_a AS (SELECT SUM(CAST(x AS HUGEINT)) AS s,
                  SUM(CAST(x AS HUGEINT) * x) AS q,
                  SUM(CAST(x AS HUGEINT) * nbrsum) AS c,
                  SUM(CAST(x AS HUGEINT) * w_i) AS b
           FROM mi_j)
, mi_f AS (SELECT s, q, c, b,
                  CAST(c AS HUGEINT) * {n_grid} * {n_grid}
                  - 2 * s * b * {n_grid} + s * s * {w_total} AS num,
                  CAST({w_total} AS HUGEINT) * (q * {n_grid} - s * s) AS den
           FROM mi_a)
SELECT CAST({n_grid} AS BIGINT) AS n_grid,
       CAST({w_total} AS BIGINT) AS w_total,
       CAST(s AS BIGINT) AS s, CAST(q AS BIGINT) AS q,
       CAST(c AS BIGINT) AS c, CAST(b AS BIGINT) AS b,
       CASE WHEN den = 0 THEN NULL
            WHEN num <= 0 THEN CAST(-((-num * 1000) // den) AS BIGINT)
            ELSE CAST((num * 1000) // den AS BIGINT) END AS i_mil
FROM mi_f"""


def aspect8(tiles: DataFrame, zoom: int) -> DataFrame:
    """8-way aspect classification of the density surface (the
    ``gdaldem aspect`` sibling of :func:`hillshade`, reference CLI
    surface rio_cogeo exposes via GDAL): per occupied cell, the compass
    octant its slope FACES (downhill direction), plus the exact squared
    gradient magnitude — ``(tile_x, tile_y, gx8, gy8, slope_sq,
    octant)``.

    Fully integer-exact (no trig in either engine): Horn '81 gradients
    scaled by 8 stay BIGINT (``gx8`` east, ``gy8`` north — tile_y grows
    south, so the north gradient negates the row difference), the
    downslope vector is ``(vx, vy) = (−gx8, −gy8)``, and the octant is
    a pure comparison CASE over half-open 45° wedges anchored on the
    axes/diagonals::

        0 = flat (vx = vy = 0)
        1 = [E, NE)    vx > 0  and  0 <= vy < vx
        2 = [NE, N)    vy > 0  and  0 <  vx <= vy
        3 = [N, NW)    vy > 0  and  −vy < vx <= 0
        4 = [NW, W)    vx < 0  and  0 < vy <= −vx
        5 = [W, SW)    vx < 0  and  vx < vy <= 0
        6 = [SW, S)    vy < 0  and  vy <= vx < 0
        7 = [S, SE)    vy < 0  and  0 <= vx < −vy
        8 = [SE, E)    vx > 0  and  −vx <= vy < 0

    ``slope_sq = gx8² + gy8²`` (DECIMAL-safe at any count scale).

    Scale design: identical to :func:`hillshade` — one literal-offset
    vote explode + ONE combinable 9-slot aggregate, then a pure
    projection. No window, no join, no trig.
    """
    n = F.lit(2 ** zoom)
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _offsets(1)
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("page_count").cast("long").alias("_v"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("nx"),
        (F.col("_sy") + F.col("off.dy")).alias("ny"),
        (-F.col("off.dx")).alias("rx"),
        (-F.col("off.dy")).alias("ry"),
        F.col("_v"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < n)
        & (F.col("ny") >= 0) & (F.col("ny") < n)
    )

    def slot(rx, ry):
        return F.sum(
            F.when((F.col("rx") == rx) & (F.col("ry") == ry), F.col("_v"))
            .otherwise(F.lit(0))
        )

    g9 = votes.groupBy("nx", "ny").agg(
        slot(-1, -1).alias("a"), slot(0, -1).alias("b"), slot(1, -1).alias("c"),
        slot(-1, 0).alias("d"), slot(1, 0).alias("f"),
        slot(-1, 1).alias("g"), slot(0, 1).alias("h"), slot(1, 1).alias("i"),
        F.max(
            F.when((F.col("rx") == 0) & (F.col("ry") == 0), F.lit(1))
            .otherwise(F.lit(0))
        ).alias("_occ"),
    )
    return (
        g9.filter(F.col("_occ") == 1)
        .select(
            F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"),
            F.expr("(c + 2*f + i) - (a + 2*d + g)").alias("gx8"),
            F.expr("(a + 2*b + c) - (g + 2*h + i)").alias("gy8"),
        )
        .select(
            "tile_x", "tile_y", "gx8", "gy8",
            F.expr(
                "cast(cast(gx8 as decimal(38,0)) * gx8"
                " + cast(gy8 as decimal(38,0)) * gy8 as decimal(38,0))"
            ).cast("long").alias("slope_sq"),
            F.expr(ASPECT_OCTANT_CASE).cast("int").alias("octant"),
        )
    )


# the shared octant CASE over vx = -gx8, vy = -gy8 (identical text in
# both engines: pure BIGINT comparisons)
ASPECT_OCTANT_CASE = """CASE
 WHEN gx8 = 0 AND gy8 = 0 THEN 0
 WHEN -gx8 > 0 AND -gy8 >= 0 AND -gy8 < -gx8 THEN 1
 WHEN -gy8 > 0 AND -gx8 > 0 AND -gy8 >= -gx8 THEN 2
 WHEN -gy8 > 0 AND -gx8 <= 0 AND gx8 < -gy8 THEN 3
 WHEN -gx8 < 0 AND -gy8 > 0 AND -gy8 <= gx8 THEN 4
 WHEN -gx8 < 0 AND -gy8 <= 0 AND -gy8 > -gx8 THEN 5
 WHEN -gy8 < 0 AND -gx8 < 0 AND -gy8 <= -gx8 THEN 6
 WHEN -gy8 < 0 AND -gx8 >= 0 AND -gx8 < gy8 THEN 7
 ELSE 8 END"""


def aspect8_sql(
    base_cte: str,
    zoom: int,
) -> str:
    """DuckDB twin of :func:`aspect8` — ``base_cte`` exposes relation
    ``base(tile_x, tile_y, page_count)`` (WITH included)."""
    edge = 2 ** zoom - 1
    return f"""{base_cte}
, a8_votes AS (SELECT b.tile_x + o1.dx AS nx, b.tile_y + o2.dy AS ny,
                      -o1.dx AS rx, -o2.dy AS ry, b.page_count AS v
               FROM base b,
                    (VALUES (-1), (0), (1)) o1(dx),
                    (VALUES (-1), (0), (1)) o2(dy)
               WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
                 AND b.tile_y + o2.dy BETWEEN 0 AND {edge})
, a8_g AS (SELECT nx, ny,
    SUM(CASE WHEN rx=-1 AND ry=-1 THEN v ELSE 0 END) AS a,
    SUM(CASE WHEN rx= 0 AND ry=-1 THEN v ELSE 0 END) AS b,
    SUM(CASE WHEN rx= 1 AND ry=-1 THEN v ELSE 0 END) AS c,
    SUM(CASE WHEN rx=-1 AND ry= 0 THEN v ELSE 0 END) AS d,
    SUM(CASE WHEN rx= 1 AND ry= 0 THEN v ELSE 0 END) AS f,
    SUM(CASE WHEN rx=-1 AND ry= 1 THEN v ELSE 0 END) AS g,
    SUM(CASE WHEN rx= 0 AND ry= 1 THEN v ELSE 0 END) AS h,
    SUM(CASE WHEN rx= 1 AND ry= 1 THEN v ELSE 0 END) AS i,
    MAX(CASE WHEN rx= 0 AND ry= 0 THEN 1 ELSE 0 END) AS occ
    FROM a8_votes GROUP BY 1, 2)
, a8_grad AS (SELECT nx AS tile_x, ny AS tile_y,
                     (c + 2*f + i) - (a + 2*d + g) AS gx8,
                     (a + 2*b + c) - (g + 2*h + i) AS gy8
              FROM a8_g WHERE occ = 1)
SELECT tile_x, tile_y, CAST(gx8 AS BIGINT) AS gx8,
       CAST(gy8 AS BIGINT) AS gy8,
       CAST(CAST(gx8 AS HUGEINT) * gx8 + CAST(gy8 AS HUGEINT) * gy8
            AS BIGINT) AS slope_sq,
       CAST({ASPECT_OCTANT_CASE} AS INT) AS octant
FROM a8_grad"""


def contour_cells(tiles: DataFrame, zoom: int, threshold: int) -> DataFrame:
    """Marching-squares contour extraction over the density grid (the
    ``gdal_contour`` analog): for iso-level ``threshold``, every 2×2
    corner block the contour passes through, with its marching-squares
    case index — ``(bx, by, mcase)``, ``mcase ∈ 1..14`` (0 = all
    below and 15 = all above are interior, not emitted).

    Corner convention: block ``(bx, by)`` has corners TL=(bx,by),
    TR=(bx+1,by), BR=(bx+1,by+1), BL=(bx,by+1); ``mcase = TL + 2·TR +
    4·BR + 8·BL`` with corner bit = (value ≥ threshold). Absent cells
    are value 0 (density semantics), so for ``threshold ≥ 1`` only
    blocks touching an occupied tile can yield a nonzero case — the
    vote explode enumerates exactly those. Saddle disambiguation
    (cases 5/10) is left to the consumer, as gdal_contour does.

    Pure integers end to end. Scale design: one 4-slot literal-offset
    vote explode (each occupied tile contributes to its ≤4 containing
    blocks) + ONE combinable aggregate; blocks fully below the level
    never materialize. No join, no window.
    """
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    n = F.lit(2 ** zoom)
    # tile (x, y) is the TL of block (x, y), TR of (x-1, y),
    # BL of (x, y-1), BR of (x-1, y-1)
    off = F.explode(
        F.array(*[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                F.lit(bit).alias("bit"),
            )
            for dx, dy, bit in
            ((0, 0, 1), (-1, 0, 2), (-1, -1, 4), (0, -1, 8))
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("page_count").cast("long").alias("_v"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("bx"),
        (F.col("_sy") + F.col("off.dy")).alias("by"),
        F.when(F.col("_v") >= threshold, F.col("off.bit"))
        .otherwise(F.lit(0)).alias("bit"),
    ).filter(
        (F.col("bx") >= 0) & (F.col("bx") < n - 1)
        & (F.col("by") >= 0) & (F.col("by") < n - 1)
    )
    return (
        votes.groupBy("bx", "by")
        .agg(F.sum("bit").alias("mcase"))
        .filter((F.col("mcase") >= 1) & (F.col("mcase") <= 14))
        .select("bx", "by", F.col("mcase").cast("int").alias("mcase"))
    )


def contour_cells_sql(
    base_cte: str,
    zoom: int,
    threshold: int,
) -> str:
    """DuckDB twin of :func:`contour_cells`."""
    edge = 2 ** zoom - 1
    return f"""{base_cte}
, mc_votes AS (SELECT b.tile_x + o.dx AS bx, b.tile_y + o.dy AS by,
                      CASE WHEN b.page_count >= {threshold}
                           THEN o.bit ELSE 0 END AS bit
               FROM base b,
                    (VALUES (0, 0, 1), (-1, 0, 2), (-1, -1, 4), (0, -1, 8))
                        o(dx, dy, bit)
               WHERE b.tile_x + o.dx BETWEEN 0 AND {edge} - 1
                 AND b.tile_y + o.dy BETWEEN 0 AND {edge} - 1)
SELECT bx, by, CAST(SUM(bit) AS INT) AS mcase
FROM mc_votes GROUP BY 1, 2
HAVING SUM(bit) BETWEEN 1 AND 14"""


def d8_flow(tiles: DataFrame, zoom: int) -> DataFrame:
    """D8 steepest-descent flow direction over the density surface (the
    hydrology ``gdaldem``/TauDEM analog, density-as-elevation): per
    occupied cell ``(tile_x, tile_y, d8, rcv_x, rcv_y)`` where ``d8 ∈
    1..8`` indexes the receiving neighbor (E, NE, N, NW, W, SW, S, SE —
    octant numbering shared with :func:`aspect8`) and ``d8 = 0`` marks
    a pit (no strictly lower in-bounds neighbor; ``rcv_* = NULL``).
    Absent neighbors are elevation 0 — lower than any occupied cell, so
    boundary cells drain off the occupied mass, exactly like sparse
    hydrology on a raised island.

    Exact steepest-descent contract WITHOUT irrationals: the true
    criterion maximizes ``drop/dist`` with ``dist ∈ {1, √2}``; for
    positive drops ``drop_c/1 > drop_d/√2 ⟺ 2·drop_c² > drop_d²``, so
    each eligible direction gets the integer score ``s = 2·drop²``
    (cardinal) or ``drop²`` (diagonal) and the winner is the max
    ``(s, −k)`` pair — encoded as the single BIGINT ``s·16 + (8−k)``
    (ties break toward the smaller direction index; envelope: per-cell
    counts ≤ 3·10⁸ keep ``2·drop²·16`` inside int64 — beyond that,
    rescale the band, documented as for bm25/kappa).

    Scale design: the :func:`aspect8` vote explode + ONE combinable
    9-slot aggregate, then a pure projection (the argmax is a GREATEST
    over 8 literal-offset codes). No join, no window.
    """
    n = F.lit(2 ** zoom)
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _offsets(1)
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("page_count").cast("long").alias("_v"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("nx"),
        (F.col("_sy") + F.col("off.dy")).alias("ny"),
        (-F.col("off.dx")).alias("rx"),
        (-F.col("off.dy")).alias("ry"),
        F.col("_v"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < n)
        & (F.col("ny") >= 0) & (F.col("ny") < n)
    )

    def slot(rx, ry):
        return F.sum(
            F.when((F.col("rx") == rx) & (F.col("ry") == ry), F.col("_v"))
            .otherwise(F.lit(0))
        )

    # slots indexed by direction k (octant convention, tile_y grows
    # south): 1 E (1,0), 2 NE (1,-1), 3 N (0,-1), 4 NW (-1,-1),
    # 5 W (-1,0), 6 SW (-1,1), 7 S (0,1), 8 SE (1,1)
    g9 = votes.groupBy("nx", "ny").agg(
        slot(1, 0).alias("n1"), slot(1, -1).alias("n2"),
        slot(0, -1).alias("n3"), slot(-1, -1).alias("n4"),
        slot(-1, 0).alias("n5"), slot(-1, 1).alias("n6"),
        slot(0, 1).alias("n7"), slot(1, 1).alias("n8"),
        F.max(
            F.when((F.col("rx") == 0) & (F.col("ry") == 0), F.col("_v"))
        ).alias("v0"),
        F.max(
            F.when((F.col("rx") == 0) & (F.col("ry") == 0), F.lit(1))
            .otherwise(F.lit(0))
        ).alias("_occ"),
    )
    # out-of-bounds neighbors of boundary cells never voted: their
    # slots hold 0 already — but they must be INELIGIBLE, not
    # elevation-0 receivers (water can't leave the grid). Re-mask them.
    edge = 2 ** zoom - 1
    dirvec = {1: (1, 0), 2: (1, -1), 3: (0, -1), 4: (-1, -1),
              5: (-1, 0), 6: (-1, 1), 7: (0, 1), 8: (1, 1)}
    codes = []
    for k, (dx, dy) in dirvec.items():
        mult = 2 if dx == 0 or dy == 0 else 1
        in_b = (f"nx + {dx} between 0 and {edge} "
                f"and ny + {dy} between 0 and {edge}")
        drop = f"(v0 - n{k})"
        codes.append(
            f"case when {in_b} and {drop} > 0 "
            f"then ({mult} * {drop} * {drop}) * 16 + (8 - {k}) "
            f"else 0 end"
        )
    best = " , ".join(codes)
    return (
        g9.filter(F.col("_occ") == 1)
        .select(
            F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"),
            F.expr(f"greatest({best})").alias("_code"),
        )
        .select(
            "tile_x", "tile_y",
            F.expr(
                "case when _code = 0 then 0 "
                "else 8 - (_code % 16) end"
            ).cast("int").alias("d8"),
        )
        .select(
            "tile_x", "tile_y", "d8",
            F.expr(D8_RCV_X).cast("long").alias("rcv_x"),
            F.expr(D8_RCV_Y).cast("long").alias("rcv_y"),
        )
    )


# receiver offsets by direction code (shared text, both engines)
D8_RCV_X = """CASE d8 WHEN 0 THEN NULL
 WHEN 1 THEN tile_x + 1 WHEN 2 THEN tile_x + 1 WHEN 3 THEN tile_x
 WHEN 4 THEN tile_x - 1 WHEN 5 THEN tile_x - 1 WHEN 6 THEN tile_x - 1
 WHEN 7 THEN tile_x ELSE tile_x + 1 END"""
D8_RCV_Y = """CASE d8 WHEN 0 THEN NULL
 WHEN 1 THEN tile_y WHEN 2 THEN tile_y - 1 WHEN 3 THEN tile_y - 1
 WHEN 4 THEN tile_y - 1 WHEN 5 THEN tile_y WHEN 6 THEN tile_y + 1
 WHEN 7 THEN tile_y + 1 ELSE tile_y + 1 END"""


def _d8_cte(base_cte: str, zoom: int) -> str:
    """Shared SQL producing relation ``d8f(tile_x, tile_y, d8, rcv_x,
    rcv_y)`` from ``base`` — the DuckDB body of :func:`d8_flow`."""
    edge = 2 ** zoom - 1
    dirvec = {1: (1, 0), 2: (1, -1), 3: (0, -1), 4: (-1, -1),
              5: (-1, 0), 6: (-1, 1), 7: (0, 1), 8: (1, 1)}
    slot_cols = ", ".join(
        f"SUM(CASE WHEN rx = {dx} AND ry = {dy} THEN v ELSE 0 END) AS n{k}"
        for k, (dx, dy) in dirvec.items()
    )
    codes = []
    for k, (dx, dy) in dirvec.items():
        mult = 2 if dx == 0 or dy == 0 else 1
        codes.append(
            f"CASE WHEN nx + {dx} BETWEEN 0 AND {edge} "
            f"AND ny + {dy} BETWEEN 0 AND {edge} AND (v0 - n{k}) > 0 "
            f"THEN ({mult} * (v0 - n{k}) * (v0 - n{k})) * 16 + (8 - {k}) "
            f"ELSE 0 END"
        )
    best = ", ".join(codes)
    return f"""{base_cte}
, d8_votes AS (SELECT b.tile_x + o1.dx AS nx, b.tile_y + o2.dy AS ny,
                      -o1.dx AS rx, -o2.dy AS ry, b.page_count AS v
               FROM base b,
                    (VALUES (-1), (0), (1)) o1(dx),
                    (VALUES (-1), (0), (1)) o2(dy)
               WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
                 AND b.tile_y + o2.dy BETWEEN 0 AND {edge})
, d8_g AS (SELECT nx, ny, {slot_cols},
                  MAX(CASE WHEN rx = 0 AND ry = 0 THEN v END) AS v0,
                  MAX(CASE WHEN rx = 0 AND ry = 0 THEN 1 ELSE 0 END) AS occ
           FROM d8_votes GROUP BY 1, 2)
, d8_c AS (SELECT nx AS tile_x, ny AS tile_y,
                  greatest({best}) AS code
           FROM d8_g WHERE occ = 1)
, d8_d AS (SELECT tile_x, tile_y,
                  CAST(CASE WHEN code = 0 THEN 0
                       ELSE 8 - (code % 16) END AS INT) AS d8
           FROM d8_c)
, d8f AS (SELECT tile_x, tile_y, d8,
                 CAST({D8_RCV_X} AS BIGINT) AS rcv_x,
                 CAST({D8_RCV_Y} AS BIGINT) AS rcv_y
          FROM d8_d)"""


def d8_flow_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`d8_flow`."""
    return f"{_d8_cte(base_cte, zoom)}\nSELECT * FROM d8f"


def flow_accumulation(
    tiles: DataFrame,
    zoom: int,
    rounds: int = 4,
) -> DataFrame:
    """k-round D8 flow accumulation: ``(tile_x, tile_y, acc)`` where
    ``acc`` counts the upstream cells within ``rounds`` flow steps
    (self included) — the catchment-size statistic that ranks drainage
    channels. Exact fixed-round contract (like the PageRank/BFS family:
    a FIXED iteration count in exact BIGINTs, so the oracle unrolls to
    chained CTEs and hashes identically): ``A_0 = 1``; ``A_{i+1}(v) =
    1 + Σ_{rcv(u)=v} A_i(u)``. Strict-descent receivers make the flow
    graph a DAG, so ``A_k`` converges to the true accumulation once
    ``k`` reaches the longest flow path.

    Scale design: one :func:`d8_flow` pass — materialized via an eager
    ``localCheckpoint`` exactly like the n-gram auto-cap and PageRank
    paths, because each subsequent round references the receiver table
    twice (edges + the left-join frame): without the pin, round ``k``'s
    lineage re-derives the explode+aggregate ~2^k times — then
    ``rounds`` grid-key joins of the accumulation table to the
    receiver edges, each key-bounded by the occupied set on the same
    cell key (AQE reuses the partitioning).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    d8 = (
        d8_flow(tiles, zoom)
        .select("tile_x", "tile_y", "rcv_x", "rcv_y")
        .localCheckpoint(eager=True)
    )
    acc = d8.select("tile_x", "tile_y").withColumn("acc", F.lit(1))
    edges = d8.filter(F.col("rcv_x").isNotNull())
    for _ in range(rounds):
        inflow = (
            edges.join(
                acc.withColumnRenamed("tile_x", "ux")
                .withColumnRenamed("tile_y", "uy"),
                (F.col("tile_x") == F.col("ux"))
                & (F.col("tile_y") == F.col("uy")),
            )
            .groupBy(
                F.col("rcv_x").alias("tile_x"),
                F.col("rcv_y").alias("tile_y"),
            )
            .agg(F.sum("acc").alias("inflow"))
        )
        acc = (
            d8.select("tile_x", "tile_y")
            .join(inflow, ["tile_x", "tile_y"], "left")
            .select(
                "tile_x", "tile_y",
                (F.lit(1) + F.coalesce(F.col("inflow"), F.lit(0)))
                .alias("acc"),
            )
        )
    return acc.select(
        "tile_x", "tile_y", F.col("acc").cast("long").alias("acc")
    )


def flow_accumulation_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`flow_accumulation` (unrolled CTE chain)."""
    parts = [_d8_cte(base_cte, zoom)]
    parts.append(
        ", fa_0 AS (SELECT tile_x, tile_y, 1 AS acc FROM d8f)"
    )
    for i in range(4):
        parts.append(f"""
, fi_{i} AS (SELECT e.rcv_x AS tile_x, e.rcv_y AS tile_y,
                    SUM(a.acc) AS inflow
             FROM d8f e JOIN fa_{i} a USING (tile_x, tile_y)
             WHERE e.rcv_x IS NOT NULL
             GROUP BY 1, 2)
, fa_{i + 1} AS (SELECT d.tile_x, d.tile_y,
                        1 + COALESCE(f.inflow, 0) AS acc
                 FROM d8f d LEFT JOIN fi_{i} f USING (tile_x, tile_y))""")
    parts.append(
        f"\nSELECT tile_x, tile_y, CAST(acc AS BIGINT) AS acc"
        f" FROM fa_4"
    )
    return "".join(parts)


def terrain_rugged(tiles: DataFrame, zoom: int) -> DataFrame:
    """Terrain-ruggedness report over the density surface — the
    ``gdaldem TRI`` / ``gdaldem TPI`` / ``gdaldem roughness`` trio the
    reference's GDAL backend exposes beside hillshade/aspect (reference
    CLI surface: rio_cogeo delegates all DEM derivatives to GDAL;
    cf. cogeo.py:362-379 block-window processing). Per occupied cell,
    over its 3x3 window with absent/off-grid neighbors reading as 0
    density (the same convention :func:`hillshade` / :func:`aspect8`
    use):

    - ``tri8``  = sum over the 8 neighbor slots of |v_n - v_c|
      (8x the Wilson mean-absolute-difference TRI — kept integer),
    - ``tpi8``  = 8*v_c - sum(v_n)  (8x the topographic position
      index: positive = local ridge, negative = local pit),
    - ``rough`` = max - min over all 9 window slots (gdaldem
      roughness, exact).

    All three are exact BIGINTs — no floats anywhere, so the oracle
    twin is hash-exact by construction.

    Scale design: the :func:`aspect8` shape — one literal 9-offset
    vote explode + ONE combinable 9-slot aggregate on the cell key,
    then a pure projection. No join, no window; a 100 TB corpus folds
    to the occupied-cell table (bounded by 4^zoom) before anything
    per-cell happens.
    """
    n = F.lit(2 ** zoom)
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _offsets(1)
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("page_count").cast("long").alias("_v"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("nx"),
        (F.col("_sy") + F.col("off.dy")).alias("ny"),
        (-F.col("off.dx")).alias("rx"),
        (-F.col("off.dy")).alias("ry"),
        F.col("_v"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < n)
        & (F.col("ny") >= 0) & (F.col("ny") < n)
    )

    def slot(rx, ry):
        return F.sum(
            F.when((F.col("rx") == rx) & (F.col("ry") == ry), F.col("_v"))
            .otherwise(F.lit(0))
        )

    g9 = votes.groupBy("nx", "ny").agg(
        slot(-1, -1).alias("a"), slot(0, -1).alias("b"), slot(1, -1).alias("c"),
        slot(-1, 0).alias("d"), slot(0, 0).alias("e"), slot(1, 0).alias("f"),
        slot(-1, 1).alias("g"), slot(0, 1).alias("h"), slot(1, 1).alias("i"),
        F.max(
            F.when((F.col("rx") == 0) & (F.col("ry") == 0), F.lit(1))
            .otherwise(F.lit(0))
        ).alias("_occ"),
    )
    nbrs = ["a", "b", "c", "d", "f", "g", "h", "i"]
    tri = None
    for s in nbrs:
        term = F.abs(F.col(s) - F.col("e"))
        tri = term if tri is None else tri + term
    return (
        g9.filter(F.col("_occ") == 1)
        .select(
            F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"),
            tri.cast("long").alias("tri8"),
            (F.lit(8) * F.col("e")
             - sum((F.col(s) for s in nbrs[1:]), F.col(nbrs[0]))
             ).cast("long").alias("tpi8"),
            (F.greatest(*[F.col(s) for s in nbrs + ["e"]])
             - F.least(*[F.col(s) for s in nbrs + ["e"]])
             ).cast("long").alias("rough"),
        )
    )


def terrain_rugged_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`terrain_rugged` — ``base_cte`` exposes
    relation ``base(tile_x, tile_y, page_count)`` (WITH included)."""
    edge = 2 ** zoom - 1
    tri = " + ".join(f"abs({s} - e)" for s in "abcdfghi")
    tpi = "8*e - (a + b + c + d + f + g + h + i)"
    slots = ", ".join("abcdefghi")
    return f"""{base_cte}
, tr_votes AS (SELECT b.tile_x + o1.dx AS nx, b.tile_y + o2.dy AS ny,
                      -o1.dx AS rx, -o2.dy AS ry, b.page_count AS v
               FROM base b,
                    (VALUES (-1), (0), (1)) o1(dx),
                    (VALUES (-1), (0), (1)) o2(dy)
               WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
                 AND b.tile_y + o2.dy BETWEEN 0 AND {edge})
, tr_g AS (SELECT nx, ny,
    SUM(CASE WHEN rx=-1 AND ry=-1 THEN v ELSE 0 END) AS a,
    SUM(CASE WHEN rx= 0 AND ry=-1 THEN v ELSE 0 END) AS b,
    SUM(CASE WHEN rx= 1 AND ry=-1 THEN v ELSE 0 END) AS c,
    SUM(CASE WHEN rx=-1 AND ry= 0 THEN v ELSE 0 END) AS d,
    SUM(CASE WHEN rx= 0 AND ry= 0 THEN v ELSE 0 END) AS e,
    SUM(CASE WHEN rx= 1 AND ry= 0 THEN v ELSE 0 END) AS f,
    SUM(CASE WHEN rx=-1 AND ry= 1 THEN v ELSE 0 END) AS g,
    SUM(CASE WHEN rx= 0 AND ry= 1 THEN v ELSE 0 END) AS h,
    SUM(CASE WHEN rx= 1 AND ry= 1 THEN v ELSE 0 END) AS i,
    MAX(CASE WHEN rx= 0 AND ry= 0 THEN 1 ELSE 0 END) AS occ
    FROM tr_votes GROUP BY 1, 2)
SELECT nx AS tile_x, ny AS tile_y,
       CAST({tri} AS BIGINT) AS tri8,
       CAST({tpi} AS BIGINT) AS tpi8,
       CAST(greatest({slots}) - least({slots}) AS BIGINT) AS rough
FROM tr_g WHERE occ = 1"""


def viewshed_rows(tiles: DataFrame) -> DataFrame:
    """Row-wise west-edge viewshed over the density surface — the
    1-D line-of-sight core of ``gdal_viewshed`` (observer at each
    row's west edge at height 0, density as elevation): a cell is
    VISIBLE iff its value strictly exceeds every cell west of it in
    the same row (absent cells are 0 density and never block).
    Returns ``(tile_x, tile_y, page_count, west_max, visible)`` per
    occupied cell, all exact BIGINTs (``west_max`` = running max of
    values strictly west, 0 at the row's first occupied cell).

    Scale design: ONE window — running max within each ``tile_y`` row
    ordered by ``tile_x``. The partition key is a grid row (bounded by
    2^zoom cells), so no partition can exceed the grid width no matter
    the corpus size; the corpus folds to the occupied-cell table
    before the window runs.
    """
    v = F.col("page_count").cast("long")
    return tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        v.alias("page_count"),
    ).select(
        "tile_x", "tile_y", "page_count",
        F.coalesce(
            F.max("page_count").over(
                Window.partitionBy("tile_y").orderBy("tile_x")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("west_max"),
    ).withColumn(
        "visible",
        F.when(F.col("page_count") > F.col("west_max"), F.lit(1))
        .otherwise(F.lit(0)).cast("int"),
    )


def viewshed_rows_sql(base_cte: str) -> str:
    """DuckDB twin of :func:`viewshed_rows` — ``base_cte`` exposes
    relation ``base(tile_x, tile_y, page_count)`` (WITH included)."""
    return f"""{base_cte}
, vs AS (SELECT tile_x, tile_y, CAST(page_count AS BIGINT) AS page_count,
                COALESCE(MAX(CAST(page_count AS BIGINT)) OVER (
                    PARTITION BY tile_y ORDER BY tile_x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) AS west_max
         FROM base)
SELECT tile_x, tile_y, page_count, west_max,
       CAST(CASE WHEN page_count > west_max THEN 1 ELSE 0 END AS INT)
           AS visible
FROM vs"""


def proximity(tiles: DataFrame, zoom: int, rounds: int = 3) -> DataFrame:
    """Grid distance transform — the ``gdal_proximity.py`` analog
    (reference delegates all raster utilities to GDAL): for every cell
    within Chebyshev distance ``rounds`` of an occupied cell, the EXACT
    Chebyshev distance to the nearest occupied cell (occupied cells get
    0). The fourth oracle-paired ITERATIVE operator (after PageRank,
    BFS host distance and flow accumulation): breadth-first dilation
    over the 8-neighborhood — after k rounds every cell whose true
    distance is <= k carries it exactly; farther cells are absent
    (the documented bounded-round contract all the iterative ops
    share). Returns ``(tile_x, tile_y, dist)``, all exact ints.

    Scale design: ``rounds`` shuffles, each bounded by the DILATED
    occupied-cell table (<= 9^1 growth per round, capped by 4^zoom) —
    the corpus itself folds to the occupied-cell table before round 1.
    BFS over the 8-neighbor graph IS the Chebyshev metric, so no
    floats, no sqrt, and the twin unrolls to a CTE chain.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    n = F.lit(2 ** zoom)
    prox = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.lit(0).cast("long").alias("dist"),
    )
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in [(a, b) for a in (-1, 0, 1) for b in (-1, 0, 1)]
        ])
    ).alias("off")
    for _ in range(rounds):
        dilated = prox.select("tile_x", "tile_y", "dist", off).select(
            (F.col("tile_x") + F.col("off.dx")).alias("tile_x"),
            (F.col("tile_y") + F.col("off.dy")).alias("tile_y"),
            (F.col("dist") + F.when(
                (F.col("off.dx") == 0) & (F.col("off.dy") == 0),
                F.lit(0)).otherwise(F.lit(1))).alias("dist"),
        ).filter(
            (F.col("tile_x") >= 0) & (F.col("tile_x") < n)
            & (F.col("tile_y") >= 0) & (F.col("tile_y") < n)
        )
        prox = dilated.groupBy("tile_x", "tile_y").agg(
            F.min("dist").alias("dist")
        )
    return prox.select(
        "tile_x", "tile_y", F.col("dist").cast("long").alias("dist")
    )


def proximity_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`proximity` (unrolled CTE chain)."""
    edge = 2 ** zoom - 1
    parts = [base_cte]
    parts.append(
        ", px_0 AS (SELECT tile_x, tile_y, CAST(0 AS BIGINT) AS dist"
        " FROM base)"
    )
    for i in range(3):
        parts.append(f"""
, px_{i + 1} AS (
    SELECT p.tile_x + o1.dx AS tile_x, p.tile_y + o2.dy AS tile_y,
           MIN(p.dist + CASE WHEN o1.dx = 0 AND o2.dy = 0
                             THEN 0 ELSE 1 END) AS dist
    FROM px_{i} p,
         (VALUES (-1), (0), (1)) o1(dx),
         (VALUES (-1), (0), (1)) o2(dy)
    WHERE p.tile_x + o1.dx BETWEEN 0 AND {edge}
      AND p.tile_y + o2.dy BETWEEN 0 AND {edge}
    GROUP BY 1, 2)""")
    parts.append(
        f"\nSELECT tile_x, tile_y, CAST(dist AS BIGINT) AS dist"
        f" FROM px_3"
    )
    return "".join(parts)


def sieve_components(
    tiles: DataFrame,
    zoom: int,
    rounds: int = 4,
    min_size: int = 3,
) -> DataFrame:
    """Grid connected components + small-patch flag — the
    ``gdal_sieve.py`` analog (flag patches below ``min_size`` cells;
    the reference delegates sieving to GDAL). Components are rook
    (4-neighbor) connectivity over OCCUPIED cells; each cell's label
    is the minimum cell key ``tile_y * 2^zoom + tile_x`` reachable in
    ``rounds`` min-label propagation steps (the fifth bounded-round
    iterative operator: labels are exact for every component of
    graph diameter <= rounds, the shared contract of the iterative
    family). Returns ``(tile_x, tile_y, label, comp_cells, comp_mass,
    keep)``, all exact ints; ``keep = 1`` iff the component has at
    least ``min_size`` cells.

    Scale design: ``rounds`` vote shuffles bounded by 5x the
    occupied-cell table (4-neighborhood + self), zero joins — a
    neighbor vote landing on an unoccupied cell is dropped by the
    self-vote flag inside the same aggregate; the component stats are
    ONE window on the label key (partitions bounded by component
    size <= 4^zoom).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if min_size < 1:
        raise ValueError(f"min_size must be >= 1, got {min_size}")
    n = F.lit(2 ** zoom)
    labels = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        (F.col("tile_y").cast("long") * F.lit(2 ** zoom)
         + F.col("tile_x").cast("long")).alias("label"),
        F.col("page_count").cast("long").alias("v"),
    )
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in [(0, 0), (-1, 0), (1, 0), (0, -1), (0, 1)]
        ])
    ).alias("off")
    for _ in range(rounds):
        votes = labels.select("tile_x", "tile_y", "label", "v", off).select(
            (F.col("tile_x") + F.col("off.dx")).alias("tile_x"),
            (F.col("tile_y") + F.col("off.dy")).alias("tile_y"),
            F.col("label"),
            F.when((F.col("off.dx") == 0) & (F.col("off.dy") == 0),
                   F.col("v")).alias("self_v"),
        ).filter(
            (F.col("tile_x") >= 0) & (F.col("tile_x") < n)
            & (F.col("tile_y") >= 0) & (F.col("tile_y") < n)
        )
        labels = (
            votes.groupBy("tile_x", "tile_y")
            .agg(F.min("label").alias("label"),
                 F.max("self_v").alias("v"))
            .filter(F.col("v").isNotNull())
        )
    w = Window.partitionBy("label")
    return labels.select(
        "tile_x", "tile_y", "label",
        F.count(F.lit(1)).over(w).cast("long").alias("comp_cells"),
        F.sum("v").over(w).cast("long").alias("comp_mass"),
    ).withColumn(
        "keep",
        F.when(F.col("comp_cells") >= F.lit(min_size), F.lit(1))
        .otherwise(F.lit(0)).cast("int"),
    )


def sieve_components_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`sieve_components` (unrolled CTE chain)."""
    edge = 2 ** zoom - 1
    parts = [base_cte]
    parts.append(f"""
, sv_0 AS (SELECT tile_x, tile_y,
                  CAST(tile_y AS BIGINT) * {2 ** zoom} + tile_x AS label,
                  CAST(page_count AS BIGINT) AS v
           FROM base)""")
    for i in range(4):
        parts.append(f"""
, sv_{i + 1} AS (
    SELECT p.tile_x + o.dx AS tile_x, p.tile_y + o.dy AS tile_y,
           MIN(p.label) AS label,
           MAX(CASE WHEN o.dx = 0 AND o.dy = 0 THEN p.v END) AS v
    FROM sv_{i} p,
         (VALUES (0, 0), (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy)
    WHERE p.tile_x + o.dx BETWEEN 0 AND {edge}
      AND p.tile_y + o.dy BETWEEN 0 AND {edge}
    GROUP BY 1, 2
    HAVING MAX(CASE WHEN o.dx = 0 AND o.dy = 0 THEN p.v END)
           IS NOT NULL)""")
    parts.append(f"""
SELECT tile_x, tile_y, label,
       CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS comp_cells,
       CAST(SUM(v) OVER (PARTITION BY label) AS BIGINT) AS comp_mass,
       CAST(CASE WHEN COUNT(*) OVER (PARTITION BY label) >= 3
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM sv_4""")
    return "".join(parts)


def geary_c(tiles: DataFrame, zoom: int) -> DataFrame:
    """Global Geary's C spatial autocorrelation over the FULL ``4^zoom``
    grid with binary queen weights — the local-contrast companion to
    :func:`morans_i` (Moran correlates deviations, Geary squares the
    neighbor DIFFERENCES, so it is more sensitive to local edges):
    C → 0 for clustered, 1 for random, → 2 for dispersed.

    Exact-integer contract (the morans_i staging): with ``D = Σ_ij
    w_ij (x_i − x_j)² = 2(E − C)`` where ``E = Σ_i W_i x_i²`` and
    ``C = Σ_i x_i · nbrsum_i``::

        C_geary = (N−1) · N · (E − C) / (W · (Q·N − S²))

    emitted as ``c_mil`` via the sign-split trunc-division contract in
    DECIMAL(38,0)/HUGEINT (same zoom ≤ 12 envelope as morans_i).
    Absent cells are value 0 and participate exactly.

    Scale design: identical to morans_i — one grid fold, one
    :func:`focal_stats` pass, ONE tile-bounded grid-key join, a 1-row
    combine; ``W_i`` is closed-form from coordinates. Nothing collects.
    """
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    w_total = 4 * (n_side - 1) * (2 * n_side - 1)
    base = tiles.select(
        F.col("tile_x"), F.col("tile_y"),
        F.col("page_count").cast("long").alias("_x"),
    )
    foc = focal_stats(base, zoom, "_x")
    edge = F.lit(n_side - 1)
    w_i = (
        (F.lit(1) + F.least(F.col("tile_x"), F.lit(1))
         + F.least(edge - F.col("tile_x"), F.lit(1)))
        * (F.lit(1) + F.least(F.col("tile_y"), F.lit(1))
           + F.least(edge - F.col("tile_y"), F.lit(1)))
        - F.lit(1)
    )
    joined = base.join(foc, ["tile_x", "tile_y"]).select(
        F.col("_x"),
        (F.col("focal_sum") - F.col("_x")).alias("nbrsum"),
        w_i.cast("long").alias("w_i"),
    )
    agg = joined.agg(
        F.sum(F.col("_x").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_x")).alias("q"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("nbrsum")).alias("c"),
        F.sum(
            F.col("_x").cast("decimal(38,0)") * F.col("_x") * F.col("w_i")
        ).alias("e"),
    )
    return agg.select(
        F.lit(n_grid).cast("long").alias("n_grid"),
        F.lit(w_total).cast("long").alias("w_total"),
        F.col("s").cast("long").alias("s"),
        F.col("q").cast("long").alias("q"),
        F.col("c").cast("long").alias("c"),
        F.col("e").cast("long").alias("e"),
        F.expr(
            f"cast({n_grid - 1} as decimal(38,0)) * {n_grid} * (e - c)"
        ).alias("_num"),
        F.expr(
            f"cast({w_total} as decimal(38,0)) * (q * {n_grid} - s * s)"
        ).alias("_den"),
    ).select(
        "n_grid", "w_total", "s", "q", "c", "e",
        F.expr(
            "case when _den = 0 then cast(null as bigint) "
            "when _num <= 0 then cast(-((-_num * 1000) div _den) as bigint) "
            "else cast((_num * 1000) div _den as bigint) end"
        ).alias("c_mil"),
    )


def geary_c_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`geary_c` — ``base_cte`` must expose
    relation ``base(tile_x, tile_y, page_count)`` (WITH included)."""
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    w_total = 4 * (n_side - 1) * (2 * n_side - 1)
    edge = n_side - 1
    return f"""{base_cte}
, gc_contrib AS (SELECT b.tile_x + o1.dx AS nx, b.tile_y + o2.dy AS ny,
                        b.page_count AS v
                 FROM base b,
                      (VALUES (-1), (0), (1)) o1(dx),
                      (VALUES (-1), (0), (1)) o2(dy)
                 WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
                   AND b.tile_y + o2.dy BETWEEN 0 AND {edge})
, gc_foc AS (SELECT nx AS tile_x, ny AS tile_y,
                    CAST(SUM(v) AS BIGINT) AS focal_sum
             FROM gc_contrib GROUP BY 1, 2)
, gc_j AS (SELECT b.page_count AS x,
                  f.focal_sum - b.page_count AS nbrsum,
                  (1 + least(b.tile_x, 1) + least({edge} - b.tile_x, 1))
                * (1 + least(b.tile_y, 1) + least({edge} - b.tile_y, 1))
                  - 1 AS w_i
           FROM base b JOIN gc_foc f USING (tile_x, tile_y))
, gc_a AS (SELECT SUM(CAST(x AS HUGEINT)) AS s,
                  SUM(CAST(x AS HUGEINT) * x) AS q,
                  SUM(CAST(x AS HUGEINT) * nbrsum) AS c,
                  SUM(CAST(x AS HUGEINT) * x * w_i) AS e
           FROM gc_j)
, gc_f AS (SELECT s, q, c, e,
                  CAST({n_grid - 1} AS HUGEINT) * {n_grid} * (e - c) AS num,
                  CAST({w_total} AS HUGEINT) * (q * {n_grid} - s * s) AS den
           FROM gc_a)
SELECT CAST({n_grid} AS BIGINT) AS n_grid,
       CAST({w_total} AS BIGINT) AS w_total,
       CAST(s AS BIGINT) AS s, CAST(q AS BIGINT) AS q,
       CAST(c AS BIGINT) AS c, CAST(e AS BIGINT) AS e,
       CASE WHEN den = 0 THEN NULL
            WHEN num <= 0 THEN CAST(-((-num * 1000) // den) AS BIGINT)
            ELSE CAST((num * 1000) // den AS BIGINT) END AS c_mil
FROM gc_f"""


def local_moran(tiles: DataFrame, zoom: int) -> DataFrame:
    """Local Moran's I (Anselin's LISA, 1995) per PRESENT cell over the
    FULL-grid mean (absent cells are value 0 and shape the mean,
    variance and neighbor sums exactly; only occupied cells are
    emitted — an absent cell's own LISA row is derivable but its
    emission would materialize the 4^zoom grid). The per-cell
    decomposition of :func:`morans_i`: which cells drive the global
    clustering, and in which quadrant.

    Exact-integer contract: with ``N = 4^zoom``, ``S = Σx``,
    ``Q = Σx²`` and the binary queen weights of morans_i::

        I_i = (N·x_i − S) · (N·nbrsum_i − W_i·S) / (Q·N − S²)

    (both sides scaled by N², cancelling) — emitted as ``li_mil`` via
    the sign-split trunc-division contract. ``quad`` classifies by the
    exact signs of the two deviation factors: ``HH``/``LL``
    (clustering), ``HL``/``LH`` (outliers), ``EQ`` when either factor
    is exactly 0.

    Scale design: one broadcast 1-row (S, Q) aggregate, one
    :func:`focal_stats` pass, ONE tile-bounded grid-key join; the
    output is a projection over it. Nothing collects.
    """
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    base = tiles.select(
        F.col("tile_x"), F.col("tile_y"),
        F.col("page_count").cast("long").alias("_x"),
    )
    foc = focal_stats(base, zoom, "_x")
    totals = base.agg(
        F.sum(F.col("_x").cast("decimal(38,0)")).alias("_s"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_x")).alias("_q"),
    )
    edge = F.lit(n_side - 1)
    w_i = (
        (F.lit(1) + F.least(F.col("tile_x"), F.lit(1))
         + F.least(edge - F.col("tile_x"), F.lit(1)))
        * (F.lit(1) + F.least(F.col("tile_y"), F.lit(1))
           + F.least(edge - F.col("tile_y"), F.lit(1)))
        - F.lit(1)
    )
    joined = (
        base.join(foc, ["tile_x", "tile_y"])
        .crossJoin(F.broadcast(totals))
        .select(
            "tile_x", "tile_y", F.col("_x").alias("x"),
            (F.col("focal_sum") - F.col("_x")).cast("long").alias("nbrsum"),
            w_i.cast("long").alias("w_i"),
            F.expr(f"cast({n_grid} as decimal(38,0)) * _x - _s")
            .alias("_dx"),
            F.expr(
                f"cast({n_grid} as decimal(38,0)) * (focal_sum - _x)"
                f" - ((1 + least(tile_x, 1)"
                f" + least({n_side - 1} - tile_x, 1))"
                f" * (1 + least(tile_y, 1)"
                f" + least({n_side - 1} - tile_y, 1)) - 1) * _s"
            ).alias("_dn"),
            F.expr(f"_q * {n_grid} - _s * _s").alias("_den"),
        )
    )
    return joined.select(
        "tile_x", "tile_y", "x", "nbrsum", "w_i",
        F.expr(
            "case when _den = 0 then cast(null as bigint) "
            "when _dx * _dn <= 0 then"
            " cast(-((-(_dx * _dn) * 1000) div _den) as bigint) "
            "else cast(((_dx * _dn) * 1000) div _den as bigint) end"
        ).alias("li_mil"),
        F.expr(
            "case when _dx = 0 or _dn = 0 then 'EQ' "
            "when _dx > 0 and _dn > 0 then 'HH' "
            "when _dx < 0 and _dn < 0 then 'LL' "
            "when _dx > 0 then 'HL' else 'LH' end"
        ).alias("quad"),
    )


def local_moran_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`local_moran`."""
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    edge = n_side - 1
    return f"""{base_cte}
, lm_contrib AS (SELECT b.tile_x + o1.dx AS nx, b.tile_y + o2.dy AS ny,
                        b.page_count AS v
                 FROM base b,
                      (VALUES (-1), (0), (1)) o1(dx),
                      (VALUES (-1), (0), (1)) o2(dy)
                 WHERE b.tile_x + o1.dx BETWEEN 0 AND {edge}
                   AND b.tile_y + o2.dy BETWEEN 0 AND {edge})
, lm_foc AS (SELECT nx AS tile_x, ny AS tile_y,
                    CAST(SUM(v) AS BIGINT) AS focal_sum
             FROM lm_contrib GROUP BY 1, 2)
, lm_t AS (SELECT SUM(CAST(page_count AS HUGEINT)) AS s,
                  SUM(CAST(page_count AS HUGEINT) * page_count) AS q
           FROM base)
, lm_j AS (SELECT b.tile_x, b.tile_y, b.page_count AS x,
                  CAST(f.focal_sum - b.page_count AS BIGINT) AS nbrsum,
                  CAST((1 + least(b.tile_x, 1)
                        + least({edge} - b.tile_x, 1))
                     * (1 + least(b.tile_y, 1)
                        + least({edge} - b.tile_y, 1)) - 1 AS BIGINT)
                      AS w_i,
                  CAST({n_grid} AS HUGEINT) * b.page_count - t.s AS dx,
                  CAST({n_grid} AS HUGEINT) * (f.focal_sum - b.page_count)
                  - ((1 + least(b.tile_x, 1) + least({edge} - b.tile_x, 1))
                   * (1 + least(b.tile_y, 1) + least({edge} - b.tile_y, 1))
                     - 1) * t.s AS dn,
                  t.q * {n_grid} - t.s * t.s AS den
           FROM base b JOIN lm_foc f USING (tile_x, tile_y) CROSS JOIN lm_t t)
SELECT tile_x, tile_y, x, nbrsum, w_i,
       CASE WHEN den = 0 THEN NULL
            WHEN dx * dn <= 0
                THEN CAST(-((-(dx * dn) * 1000) // den) AS BIGINT)
            ELSE CAST(((dx * dn) * 1000) // den AS BIGINT) END AS li_mil,
       CASE WHEN dx = 0 OR dn = 0 THEN 'EQ'
            WHEN dx > 0 AND dn > 0 THEN 'HH'
            WHEN dx < 0 AND dn < 0 THEN 'LL'
            WHEN dx > 0 THEN 'HL' ELSE 'LH' END AS quad
FROM lm_j"""


def fillnodata(tiles: DataFrame, zoom: int, rounds: int = 3) -> DataFrame:
    """Nodata fill — the ``gdal_fillnodata.py`` analog (the reference
    delegates raster utilities to GDAL): every cell within Chebyshev
    distance ``rounds`` of an occupied cell takes the value of its
    NEAREST occupied cell; ties at equal distance break to the
    smallest source cell key ``tile_y·2^zoom + tile_x`` (a stated,
    engine-independent rule — NOT smallest value, so the fill is a
    function of geometry alone). Occupied cells keep their own value at
    ``dist = 0``. The sixth bounded-round iterative operator; returns
    ``(tile_x, tile_y, dist, src, fill_v)``, all exact ints.

    The BFS carries ONE packed BIGINT ``pack = dist·4^zoom + src_key``
    — the min fold over packs IS the (distance, tie-rule) order, and a
    ``min_by(v, pack)`` rides the same aggregate, so no join back to
    the source table is ever needed (packs are collision-free: equal
    pack ⟹ equal source ⟹ equal value).

    Scale design: ``rounds`` shuffles bounded by the dilated
    occupied-cell table (the :func:`proximity` bound); zero joins,
    zero windows.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    n = F.lit(2 ** zoom)
    n_grid = 4 ** zoom
    st = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        (F.col("tile_y").cast("long") * F.lit(2 ** zoom)
         + F.col("tile_x").cast("long")).alias("pack"),
        F.col("page_count").cast("long").alias("v"),
    )
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in [(a, b) for a in (-1, 0, 1) for b in (-1, 0, 1)]
        ])
    ).alias("off")
    for _ in range(rounds):
        moved = st.select("tile_x", "tile_y", "pack", "v", off).select(
            (F.col("tile_x") + F.col("off.dx")).alias("tile_x"),
            (F.col("tile_y") + F.col("off.dy")).alias("tile_y"),
            (F.col("pack") + F.when(
                (F.col("off.dx") == 0) & (F.col("off.dy") == 0),
                F.lit(0)).otherwise(F.lit(n_grid))).alias("pack"),
            F.col("v"),
        ).filter(
            (F.col("tile_x") >= 0) & (F.col("tile_x") < n)
            & (F.col("tile_y") >= 0) & (F.col("tile_y") < n)
        )
        st = moved.groupBy("tile_x", "tile_y").agg(
            F.min("pack").alias("pack"),
            F.min_by("v", "pack").alias("v"),
        )
    return st.select(
        "tile_x", "tile_y",
        F.expr(f"pack div {n_grid}").cast("long").alias("dist"),
        F.expr(f"pack % {n_grid}").cast("long").alias("src"),
        F.col("v").cast("long").alias("fill_v"),
    )


def fillnodata_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`fillnodata` (unrolled CTE chain)."""
    edge = 2 ** zoom - 1
    n_grid = 4 ** zoom
    parts = [base_cte]
    parts.append(f"""
, fn_0 AS (SELECT tile_x, tile_y,
                  CAST(tile_y AS BIGINT) * {2 ** zoom} + tile_x AS pack,
                  CAST(page_count AS BIGINT) AS v
           FROM base)""")
    for i in range(3):
        parts.append(f"""
, fn_{i + 1} AS (
    SELECT p.tile_x + o1.dx AS tile_x, p.tile_y + o2.dy AS tile_y,
           MIN(p.pack + CASE WHEN o1.dx = 0 AND o2.dy = 0
                             THEN 0 ELSE {n_grid} END) AS pack,
           MIN_BY(p.v, p.pack + CASE WHEN o1.dx = 0 AND o2.dy = 0
                                     THEN 0 ELSE {n_grid} END) AS v
    FROM fn_{i} p,
         (VALUES (-1), (0), (1)) o1(dx),
         (VALUES (-1), (0), (1)) o2(dy)
    WHERE p.tile_x + o1.dx BETWEEN 0 AND {edge}
      AND p.tile_y + o2.dy BETWEEN 0 AND {edge}
    GROUP BY 1, 2)""")
    parts.append(f"""
SELECT tile_x, tile_y, CAST(pack // {n_grid} AS BIGINT) AS dist,
       CAST(pack % {n_grid} AS BIGINT) AS src,
       CAST(v AS BIGINT) AS fill_v
FROM fn_3""")
    return "".join(parts)


def polygonize(tiles: DataFrame, zoom: int, rounds: int = 4) -> DataFrame:
    """Equal-value connected components — the ``gdal_polygonize.py``
    analog: rook-adjacent cells with the SAME value merge into one
    region (the raster→vector region extraction); regions are labeled
    by their minimum cell key after ``rounds`` min-label propagation
    steps (exact for region diameter ≤ rounds — the shared
    bounded-round contract). Returns ``(tile_x, tile_y, v, label,
    region_cells)``, all exact ints.

    The value-equality constraint rides the GROUP KEY: each cell votes
    ``(label, v)`` to its rook neighbors and itself, and votes
    aggregate per ``(tile_x, tile_y, v)`` — a neighbor with a
    different value lands in a different group and can never merge;
    the receiving cell's group is the one holding its self-vote
    (``MAX(self-flag)`` filter, the :func:`sieve_components` trick).
    Zero joins; region labels are globally unique because each cell
    belongs to exactly one region.

    Scale design: ``rounds`` vote shuffles bounded by 5× the occupied
    cells; region stats are ONE window on the label key (partitions
    bounded by region size).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    n = F.lit(2 ** zoom)
    labels = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("v"),
        (F.col("tile_y").cast("long") * F.lit(2 ** zoom)
         + F.col("tile_x").cast("long")).alias("label"),
    )
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in [(0, 0), (-1, 0), (1, 0), (0, -1), (0, 1)]
        ])
    ).alias("off")
    for _ in range(rounds):
        votes = labels.select("tile_x", "tile_y", "v", "label", off).select(
            (F.col("tile_x") + F.col("off.dx")).alias("tile_x"),
            (F.col("tile_y") + F.col("off.dy")).alias("tile_y"),
            F.col("v"),
            F.col("label"),
            F.when((F.col("off.dx") == 0) & (F.col("off.dy") == 0),
                   F.lit(1)).otherwise(F.lit(0)).alias("is_self"),
        ).filter(
            (F.col("tile_x") >= 0) & (F.col("tile_x") < n)
            & (F.col("tile_y") >= 0) & (F.col("tile_y") < n)
        )
        labels = (
            votes.groupBy("tile_x", "tile_y", "v")
            .agg(F.min("label").alias("label"),
                 F.max("is_self").alias("_self"))
            .filter(F.col("_self") == 1)
            .drop("_self")
        )
    w = Window.partitionBy("label")
    return labels.select(
        "tile_x", "tile_y", "v", "label",
        F.count(F.lit(1)).over(w).cast("long").alias("region_cells"),
    )


def polygonize_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`polygonize` (unrolled CTE chain)."""
    edge = 2 ** zoom - 1
    parts = [base_cte]
    parts.append(f"""
, pg_0 AS (SELECT tile_x, tile_y, CAST(page_count AS BIGINT) AS v,
                  CAST(tile_y AS BIGINT) * {2 ** zoom} + tile_x AS label
           FROM base)""")
    for i in range(4):
        parts.append(f"""
, pg_{i + 1} AS (
    SELECT p.tile_x + o.dx AS tile_x, p.tile_y + o.dy AS tile_y, p.v AS v,
           MIN(p.label) AS label
    FROM pg_{i} p,
         (VALUES (0, 0), (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy)
    WHERE p.tile_x + o.dx BETWEEN 0 AND {edge}
      AND p.tile_y + o.dy BETWEEN 0 AND {edge}
    GROUP BY 1, 2, 3
    HAVING MAX(CASE WHEN o.dx = 0 AND o.dy = 0 THEN 1 ELSE 0 END) = 1)""")
    parts.append(f"""
SELECT tile_x, tile_y, v, label,
       CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS region_cells
FROM pg_4""")
    return "".join(parts)


def curvature(tiles: DataFrame, zoom: int) -> DataFrame:
    """Discrete Laplacian curvature of the density surface — the
    second-derivative sibling of :func:`aspect8`/:func:`hillshade`
    (gdaldem's curvature analog; GDAL exposes it through the TPI
    family): per occupied cell, ``lap = N + S + E + W − 4·center``
    with a missing rook neighbor contributing 0 (the density-grid
    convention: an unmaterialized tile holds zero pages). ``cls`` is
    ``'concave'`` (lap > 0, a local pit/valley of the density),
    ``'convex'`` (lap < 0, a peak/ridge — every isolated hotspot),
    ``'flat'`` (0). Exact BIGINT throughout. Returns
    ``(tile_x, tile_y, v, lap, cls)``.

    Scale design: the aspect8 shape — each cell votes its value to its
    rook neighbors (weight 1) and itself (weight −4, which also marks
    occupancy); ONE combinable weighted-sum aggregate, a projection.
    No join, no window.
    """
    n = F.lit(2 ** zoom)
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                     F.lit(wt).alias("wt"))
            for dx, dy, wt in [
                (0, 0, -4), (-1, 0, 1), (1, 0, 1), (0, -1, 1), (0, 1, 1),
            ]
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("page_count").cast("long").alias("_v"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("nx"),
        (F.col("_sy") + F.col("off.dy")).alias("ny"),
        F.col("off.wt").alias("wt"),
        F.col("_v"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < n)
        & (F.col("ny") >= 0) & (F.col("ny") < n)
    )
    agg = votes.groupBy("nx", "ny").agg(
        F.max((F.col("wt") == -4).cast("int")).alias("_occ"),
        F.max(F.when(F.col("wt") == -4, F.col("_v"))).alias("_self_v"),
        F.sum(F.col("wt").cast("long") * F.col("_v")).alias("lap"),
    )
    return agg.filter(F.col("_occ") == 1).select(
        F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"),
        F.col("_self_v").cast("long").alias("v"),
        F.col("lap").cast("long").alias("lap"),
        F.when(F.col("lap") > 0, F.lit("concave"))
        .when(F.col("lap") < 0, F.lit("convex"))
        .otherwise(F.lit("flat")).alias("cls"),
    )


def curvature_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`curvature` — ``base_cte`` exposes
    ``base(tile_x, tile_y, page_count)`` (WITH included)."""
    edge = 2 ** zoom - 1
    return f"""{base_cte}
, cv_v AS (SELECT b.tile_x + o.dx AS nx, b.tile_y + o.dy AS ny,
                  o.wt, CAST(b.page_count AS BIGINT) AS v
           FROM base b,
                (VALUES (0, 0, -4), (-1, 0, 1), (1, 0, 1),
                        (0, -1, 1), (0, 1, 1)) o(dx, dy, wt)
           WHERE b.tile_x + o.dx BETWEEN 0 AND {edge}
             AND b.tile_y + o.dy BETWEEN 0 AND {edge})
, cv_a AS (SELECT nx, ny,
                  MAX(CASE WHEN wt = -4 THEN 1 ELSE 0 END) AS occ,
                  MAX(CASE WHEN wt = -4 THEN v END) AS self_v,
                  SUM(CAST(wt AS BIGINT) * v) AS lap
           FROM cv_v GROUP BY nx, ny)
SELECT CAST(nx AS BIGINT) AS tile_x, CAST(ny AS BIGINT) AS tile_y,
       CAST(self_v AS BIGINT) AS v, CAST(lap AS BIGINT) AS lap,
       CASE WHEN lap > 0 THEN 'concave' WHEN lap < 0 THEN 'convex'
            ELSE 'flat' END AS cls
FROM cv_a WHERE occ = 1"""


def semivariogram(tiles: DataFrame, zoom: int, max_lag: int = 4) -> DataFrame:
    """Experimental (Matheron) semivariogram of the density surface
    over axis-aligned rook directions, lags ``1..max_lag`` — the
    spatial-continuity profile geostatistics fits a kriging model to
    (the distance-decay companion of :func:`morans_i`, which is a
    single-lag global index).  Pairs are OCCUPIED-cell pairs at offset
    ``(h, 0)`` or ``(0, h)`` (both axes pooled — isotropic over the
    rook directions); per lag the output row is
    ``(lag, n_pairs, sum_d2, gamma_mil)`` with
    ``sum_d2 = Σ (z_i − z_j)²`` exact BIGINT and
    ``gamma_mil = floor(1e6 · sum_d2 / (2 · n_pairs))`` — the ONLY
    float step, one pinned double quotient identical on both engines.

    Scale design: the aspect8/curvature vote shape — each occupied
    cell emits ``4·max_lag`` literal-offset votes (left anchor at its
    own coords + right member keyed at the left cell's coords, per
    axis per lag); ONE pair-key hash aggregate (both-present pairs
    survive) then ONE ``max_lag``-row fold.  No join, no window, no
    per-row Python; the pair table is bounded by ``2·max_lag·4^zoom``
    regardless of corpus size.
    """
    offs = []
    for h in range(1, max_lag + 1):
        for axis in ("x", "y"):
            # left anchor: pair key = own coords
            offs.append((0, 0, h, axis, "L"))
            # right member: pair key = left cell's coords
            offs.append((-h if axis == "x" else 0,
                         -h if axis == "y" else 0, h, axis, "R"))
    off = F.explode(
        F.array(*[
            F.struct(
                F.lit(kdx).alias("kdx"), F.lit(kdy).alias("kdy"),
                F.lit(h).alias("h"), F.lit(axis).alias("axis"),
                F.lit(role).alias("role"),
            )
            for kdx, kdy, h, axis, role in offs
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("page_count").cast("long").alias("_v"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.kdx")).alias("px"),
        (F.col("_sy") + F.col("off.kdy")).alias("py"),
        F.col("off.h").alias("h"),
        F.col("off.axis").alias("axis"),
        F.col("off.role").alias("role"),
        F.col("_v"),
    ).filter((F.col("px") >= 0) & (F.col("py") >= 0))
    pairs = votes.groupBy("px", "py", "h", "axis").agg(
        F.max(F.when(F.col("role") == "L", F.col("_v"))).alias("vl"),
        F.max(F.when(F.col("role") == "R", F.col("_v"))).alias("vr"),
    ).filter(F.col("vl").isNotNull() & F.col("vr").isNotNull())
    d = F.col("vl") - F.col("vr")
    return (
        pairs.groupBy(F.col("h").cast("long").alias("lag"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((d * d).cast("decimal(38,0)")).alias("_sd2"),
        )
        .select(
            "lag",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("_sd2").cast("long").alias("sum_d2"),
            F.expr(
                "CAST(floor(CAST(_sd2 * 1000000 AS DOUBLE)"
                " / CAST(2 * n_pairs AS DOUBLE)) AS BIGINT)"
            ).alias("gamma_mil"),
        )
    )


def semivariogram_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`semivariogram` — ``base_cte`` exposes
    ``base(tile_x, tile_y, page_count)`` (WITH included)."""
    rows = []
    for h in range(1, 5):
        for axis in ("x", "y"):
            rows.append(f"(0, 0, {h}, '{axis}', 'L')")
            kdx = -h if axis == "x" else 0
            kdy = -h if axis == "y" else 0
            rows.append(f"({kdx}, {kdy}, {h}, '{axis}', 'R')")
    vals = ", ".join(rows)
    return f"""{base_cte}
, sv_v AS (SELECT b.tile_x + o.kdx AS px, b.tile_y + o.kdy AS py,
                  o.h, o.axis, o.role,
                  CAST(b.page_count AS BIGINT) AS v
           FROM base b,
                (VALUES {vals}) o(kdx, kdy, h, axis, role)
           WHERE b.tile_x + o.kdx >= 0 AND b.tile_y + o.kdy >= 0)
, sv_p AS (SELECT px, py, h, axis,
                  MAX(CASE WHEN role = 'L' THEN v END) AS vl,
                  MAX(CASE WHEN role = 'R' THEN v END) AS vr
           FROM sv_v GROUP BY px, py, h, axis)
, sv_a AS (SELECT CAST(h AS BIGINT) AS lag, COUNT(*) AS n_pairs,
                  SUM(CAST((vl - vr) * (vl - vr) AS HUGEINT)) AS sd2
           FROM sv_p WHERE vl IS NOT NULL AND vr IS NOT NULL
           GROUP BY h)
SELECT lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(sd2 AS BIGINT) AS sum_d2,
       CAST(floor(CAST(sd2 * 1000000 AS DOUBLE)
            / CAST(2 * n_pairs AS DOUBLE)) AS BIGINT) AS gamma_mil
FROM sv_a"""


_JOIN_COUNTS_THRESHOLD = 2


def join_counts(tiles: DataFrame, zoom: int) -> DataFrame:
    """Join-count statistics (Cliff-Ord BB/BW/WW) of the binarized
    density grid under rook adjacency over the FULL ``2^zoom`` grid —
    the categorical sibling of :func:`morans_i`/:func:`geary_c`: a
    cell is *black* iff ``value ≥ 2``, absent cells are white
    (zero-density convention).  One row
    ``(n_black, n_white, j_bb, j_bw, j_ww, j_total, exp_bb_mil)``:
    all counts exact BIGINT; ``j_total = 2·n·(n−1)`` closed-form;
    both-absent pairs are WW by ``j_total − pairs_seen`` (never
    materialized); ``exp_bb_mil`` is the CSR expectation
    ``1e6 · J · nb(nb−1) / (N(N−1))`` with an exact DECIMAL(38)
    numerator and ONE pinned double quotient.

    Scale design: each occupied cell votes to ≤ 4 canonical pair keys
    (pair = its lower cell + axis) — one explode, ONE pair-key hash
    aggregate, two single-row folds combined by a trivial 1×1 cross
    join.  No window, no per-row Python; bounded by the grid, not the
    corpus.
    """
    n = 2 ** zoom
    j_total = 2 * n * (n - 1)
    b = (F.col("page_count").cast("long") >= F.lit(_JOIN_COUNTS_THRESHOLD)).cast("long")
    off = F.explode(
        F.array(*[
            F.struct(F.lit(kdx).alias("kdx"), F.lit(kdy).alias("kdy"),
                     F.lit(axis).alias("axis"))
            for kdx, kdy, axis in [
                (0, 0, "x"), (-1, 0, "x"), (0, 0, "y"), (0, -1, "y"),
            ]
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        b.alias("_b"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.kdx")).alias("px"),
        (F.col("_sy") + F.col("off.kdy")).alias("py"),
        F.col("off.axis").alias("axis"),
        F.col("_b"),
    ).filter(
        (F.col("px") >= 0) & (F.col("py") >= 0)
        # a pair key (px, py, axis) is valid only if its RIGHT cell
        # (px+1, py) / (px, py+1) is still on the grid
        & (
            ((F.col("axis") == "x") & (F.col("px") < n - 1))
            | ((F.col("axis") == "y") & (F.col("py") < n - 1))
        )
    )
    pair_cls = votes.groupBy("px", "py", "axis").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.sum("_b").alias("blk"),
    )
    pair_row = pair_cls.agg(
        F.count(F.lit(1)).alias("pairs_seen"),
        F.sum(((F.col("n_occ") == 2) & (F.col("blk") == 2)).cast("long"))
        .alias("j_bb"),
        F.sum((F.col("blk") == 1).cast("long")).alias("j_bw"),
        F.sum((F.col("blk") == 0).cast("long")).alias("_j_ww_occ"),
    )
    cell_row = tiles.agg(F.sum(b).alias("n_black"))
    return pair_row.crossJoin(cell_row).select(
        F.col("n_black").cast("long").alias("n_black"),
        (F.lit(n * n) - F.col("n_black")).cast("long").alias("n_white"),
        F.col("j_bb").cast("long").alias("j_bb"),
        F.col("j_bw").cast("long").alias("j_bw"),
        (F.col("_j_ww_occ") + F.lit(j_total) - F.col("pairs_seen"))
        .cast("long").alias("j_ww"),
        F.lit(j_total).cast("long").alias("j_total"),
        F.expr(
            f"CAST(floor(CAST(CAST({j_total} AS DECIMAL(38,0))"
            " * n_black * (n_black - 1) * 1000000 AS DOUBLE)"
            f" / CAST(CAST({n * n} AS DECIMAL(38,0))"
            f" * {n * n - 1} AS DOUBLE)) AS BIGINT)"
        ).alias("exp_bb_mil"),
    )


def join_counts_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`join_counts`."""
    n = 2 ** zoom
    j_total = 2 * n * (n - 1)
    return f"""{base_cte}
, jc_v AS (SELECT b.tile_x + o.kdx AS px, b.tile_y + o.kdy AS py, o.axis,
                  CASE WHEN CAST(b.page_count AS BIGINT) >= {_JOIN_COUNTS_THRESHOLD}
                       THEN 1 ELSE 0 END AS bb
           FROM base b,
                (VALUES (0, 0, 'x'), (-1, 0, 'x'),
                        (0, 0, 'y'), (0, -1, 'y')) o(kdx, kdy, axis)
           WHERE b.tile_x + o.kdx >= 0 AND b.tile_y + o.kdy >= 0
             AND ((o.axis = 'x' AND b.tile_x + o.kdx < {n - 1})
               OR (o.axis = 'y' AND b.tile_y + o.kdy < {n - 1})))
, jc_p AS (SELECT px, py, axis, COUNT(*) AS n_occ, SUM(bb) AS blk
           FROM jc_v GROUP BY px, py, axis)
, jc_pr AS (SELECT COUNT(*) AS pairs_seen,
                   SUM(CASE WHEN n_occ = 2 AND blk = 2 THEN 1 ELSE 0 END)
                       AS j_bb,
                   SUM(CASE WHEN blk = 1 THEN 1 ELSE 0 END) AS j_bw,
                   SUM(CASE WHEN blk = 0 THEN 1 ELSE 0 END) AS j_ww_occ
            FROM jc_p)
, jc_c AS (SELECT SUM(CASE WHEN CAST(page_count AS BIGINT) >= {_JOIN_COUNTS_THRESHOLD}
                           THEN 1 ELSE 0 END) AS n_black FROM base)
SELECT CAST(n_black AS BIGINT) AS n_black,
       CAST({n * n} - n_black AS BIGINT) AS n_white,
       CAST(j_bb AS BIGINT) AS j_bb, CAST(j_bw AS BIGINT) AS j_bw,
       CAST(j_ww_occ + {j_total} - pairs_seen AS BIGINT) AS j_ww,
       CAST({j_total} AS BIGINT) AS j_total,
       CAST(floor(CAST(CAST({j_total} AS HUGEINT)
            * n_black * (n_black - 1) * 1000000 AS DOUBLE)
            / CAST(CAST({n * n} AS HUGEINT)
            * {n * n - 1} AS DOUBLE)) AS BIGINT) AS exp_bb_mil
FROM jc_pr, jc_c"""


# gdaldem terrain-index slots (screen offsets, x east / y south) — the
# same Horn window letters as :func:`hillshade`.
_TERRAIN_SLOTS = (
    ("a", -1, -1), ("b", 0, -1), ("c", 1, -1),
    ("d", -1, 0), ("e", 0, 0), ("f", 1, 0),
    ("g", -1, 1), ("h", 0, 1), ("i", 1, 1),
)


def _terrain_stage1(edge: int) -> list[str]:
    """The shared (textually identical on both engines) neighbor-window
    reductions over the nine slot columns ``a..i`` and the cell coords
    ``nx, ny`` — per-slot in-bounds CASEs exclude edge-clipped window
    positions (GDAL computes edge cells over the clipped window too;
    density semantics keep absent IN-BOUNDS neighbors at elevation 0)."""
    nb = [s for s in _TERRAIN_SLOTS if s[0] != "e"]

    def inb(dx: int, dy: int) -> str:
        return (f"nx + {dx} BETWEEN 0 AND {edge}"
                f" AND ny + {dy} BETWEEN 0 AND {edge}").replace("+ -", "- ")

    n_nb = " + ".join(
        f"(CASE WHEN {inb(dx, dy)} THEN 1 ELSE 0 END)" for _, dx, dy in nb
    )
    tri_sum = " + ".join(
        f"(CASE WHEN {inb(dx, dy)} THEN abs({s} - e) ELSE 0 END)"
        for s, dx, dy in nb
    )
    sum_nb = " + ".join(
        f"(CASE WHEN {inb(dx, dy)} THEN {s} ELSE 0 END)" for s, dx, dy in nb
    )
    # excluded slots substitute e — neutral for both extremes since the
    # center cell always participates in the roughness window
    vmax = ", ".join(
        f"(CASE WHEN {inb(dx, dy)} THEN {s} ELSE e END)" for s, dx, dy in nb
    )
    return [
        "nx AS tile_x", "ny AS tile_y",
        "CAST(e AS BIGINT) AS z",
        f"CAST({n_nb} AS BIGINT) AS n_nb",
        f"CAST({tri_sum} AS BIGINT) AS tri_sum",
        f"CAST({sum_nb} AS BIGINT) AS sum_nb",
        f"CAST(greatest(e, {vmax}) AS BIGINT) AS vmax",
        f"CAST(least(e, {vmax}) AS BIGINT) AS vmin",
    ]


def _terrain_stage2(intdiv: str) -> list[str]:
    """Final projections; ``intdiv`` is the engine's integer-division
    token (Spark ``div`` / DuckDB ``//`` — only applied to NON-NEGATIVE
    operands, where truncation and floor agree). ``tpi_num`` can be
    negative, so its mil quotient is the ONE pinned double floor."""
    return [
        "tile_x", "tile_y", "z", "n_nb", "tri_sum",
        f"CAST((tri_sum * 1000000) {intdiv} n_nb AS BIGINT) AS tri_mil",
        "CAST(z * n_nb - sum_nb AS BIGINT) AS tpi_num",
        "CAST(floor(CAST(z * n_nb - sum_nb AS DOUBLE) * 1000000"
        " / n_nb) AS BIGINT) AS tpi_mil",
        "CAST(vmax - vmin AS BIGINT) AS rough",
    ]


def terrain_indices(tiles: DataFrame, zoom: int) -> DataFrame:
    """gdaldem TRI / TPI / roughness over the density grid — the three
    remaining ``gdaldem`` modes beside :func:`hillshade`,
    :func:`aspect8` and the slope/color-relief ops (GDAL
    ``gdaldem tri|tpi|roughness``; reference's raster model is the same
    block grid, utils.py:125-140). One row per OCCUPIED cell:

    * ``tri_sum`` — Σ|z_nb − z| over in-bounds neighbors, exact BIGINT
      (Wilson TRI numerator); ``tri_mil = (tri_sum·10^6) div n_nb`` —
      the Wilson mean-absolute-difference TRI in exact mil (integer
      division on non-negative operands: floor == truncate on both
      engines, NO float);
    * ``tpi_num = z·n_nb − Σ z_nb`` — exact BIGINT topographic-position
      numerator; ``tpi_mil = floor(1e6·tpi_num/n_nb)`` — the ONLY
      pinned double step (tpi can be negative, where int-div semantics
      diverge across engines);
    * ``rough = max − min`` over the in-bounds window INCLUDING the
      center — exact BIGINT (GDAL roughness).

    Absent in-bounds neighbors are elevation 0 (density semantics, as
    :func:`focal_stats`); edge-clipped positions are EXCLUDED from
    every reduction (``n_nb`` ∈ 3..8), matching GDAL's
    ``-compute_edges`` clipped-window behavior.

    Scale design: identical to :func:`hillshade` — one literal-offset
    vote explode + ONE combinable 9-slot conditional-sum aggregate on
    the neighbor key, then two pure projections. Grid-bounded
    (≤ 4^zoom rows), no window, no join, no Python.
    """
    n = F.lit(2 ** zoom)
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _offsets(1)
        ])
    ).alias("off")
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("page_count").cast("long").alias("_v"),
        off,
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("nx"),
        (F.col("_sy") + F.col("off.dy")).alias("ny"),
        (-F.col("off.dx")).alias("rx"),
        (-F.col("off.dy")).alias("ry"),
        F.col("_v"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < n)
        & (F.col("ny") >= 0) & (F.col("ny") < n)
    )

    def slot(rx, ry):
        return F.sum(
            F.when((F.col("rx") == rx) & (F.col("ry") == ry), F.col("_v"))
            .otherwise(F.lit(0))
        )

    g9 = votes.groupBy("nx", "ny").agg(
        *[slot(dx, dy).alias(s) for s, dx, dy in _TERRAIN_SLOTS],
        F.max(
            F.when((F.col("rx") == 0) & (F.col("ry") == 0), F.lit(1))
            .otherwise(F.lit(0))
        ).alias("_occ"),
    )
    return (
        g9.filter(F.col("_occ") == 1)
        .selectExpr(*_terrain_stage1(2 ** zoom - 1))
        .selectExpr(*_terrain_stage2("div"))
    )


def terrain_indices_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`terrain_indices` — identical slot folds and
    textually identical stage-1/stage-2 reductions (int-div token ``//``
    on the non-negative TRI quotient only)."""
    edge = 2 ** zoom - 1
    slots = ", ".join(
        f"SUM(CASE WHEN rx = {dx} AND ry = {dy} THEN v ELSE 0 END) AS {s}"
        for s, dx, dy in _TERRAIN_SLOTS
    )
    s1 = ",\n                ".join(_terrain_stage1(edge))
    s2 = ",\n       ".join(_terrain_stage2("//"))
    return f"""
WITH ti_t AS ({tiles_cte}),
ti_v AS (SELECT t.tile_x + o1.dx AS nx, t.tile_y + o2.dy AS ny,
                -o1.dx AS rx, -o2.dy AS ry,
                CAST(page_count AS BIGINT) AS v
         FROM ti_t t,
              (VALUES (-1), (0), (1)) o1(dx),
              (VALUES (-1), (0), (1)) o2(dy)
         WHERE t.tile_x + o1.dx BETWEEN 0 AND {edge}
           AND t.tile_y + o2.dy BETWEEN 0 AND {edge}),
ti_g AS (SELECT nx, ny, {slots},
                MAX(CASE WHEN rx = 0 AND ry = 0 THEN 1 ELSE 0 END) AS occ
         FROM ti_v GROUP BY 1, 2),
ti_1 AS (SELECT {s1}
         FROM ti_g WHERE occ = 1)
SELECT {s2}
FROM ti_1"""


def _knox_offsets(dims: int):
    """All (3^dims) unit-cube offsets (Chebyshev radius 1) over ``dims``
    integer keys."""
    offs = [()]
    for _ in range(dims):
        offs = [o + (d,) for o in offs for d in (-1, 0, 1)]
    return offs


def _knox_ordered_pairs(counts: DataFrame, key_cols, out: str) -> DataFrame:
    """Ordered close-pair total ``O = Σ_k anchor_n(k) · vote_sum(k)``
    over an integer lattice of ``key_cols`` with Chebyshev-radius-1
    closeness — the dual-role vote explode (anchor at own key + one
    vote per unit-cube offset), ONE pair-key hash aggregate, NO
    self-join.  ``counts`` has ``key_cols + [n]``; returns a 1-row
    DataFrame ``(out DECIMAL(38,0))``.  ``O`` counts ordered point
    pairs INCLUDING i=j (subtract N and halve for unordered distinct
    pairs)."""
    dims = len(key_cols)
    entries = [
        F.struct(
            F.lit(0).alias("r"),
            *[F.lit(0).alias(f"d{i}") for i in range(dims)],
        )
    ] + [
        F.struct(
            F.lit(1).alias("r"),
            *[F.lit(off[i]).alias(f"d{i}") for i in range(dims)],
        )
        for off in _knox_offsets(dims)
    ]
    votes = counts.select(
        *[F.col(c).cast("long").alias(f"_k{i}") for i, c in enumerate(key_cols)],
        F.col("n").cast("long").alias("_v"),
        F.explode(F.array(*entries)).alias("off"),
    ).select(
        *[
            (F.col(f"_k{i}") + F.col(f"off.d{i}")).alias(f"k{i}")
            for i in range(dims)
        ],
        F.col("off.r").alias("r"),
        F.col("_v"),
    )
    g = votes.groupBy(*[f"k{i}" for i in range(dims)]).agg(
        F.max(F.when(F.col("r") == 0, F.col("_v"))).alias("a"),
        F.sum(F.when(F.col("r") == 1, F.col("_v")).otherwise(F.lit(0))).alias("vs"),
    )
    return g.filter(F.col("a").isNotNull()).agg(
        F.sum(
            F.col("a").cast("decimal(38,0)") * F.col("vs").cast("decimal(38,0)")
        ).alias(out)
    )


_KNOX_FINAL = [
    "CAST(n_pages AS BIGINT) AS n_pages",
    "CAST((o_s - n_pages) / 2 AS BIGINT) AS pairs_space",
    "CAST((o_t - n_pages) / 2 AS BIGINT) AS pairs_time",
    "CAST((o_x - n_pages) / 2 AS BIGINT) AS pairs_st",
    # the ONE pinned double: knox ratio X·P/(S·T) in mil, P = N(N−1)/2
    "CAST(CASE WHEN o_s - n_pages = 0 OR o_t - n_pages = 0 THEN NULL"
    " ELSE floor(CAST((o_x - n_pages) / 2 AS DOUBLE)"
    " * (CAST(n_pages AS DOUBLE) * CAST(n_pages - 1 AS DOUBLE)"
    " / CAST(2 AS DOUBLE)) * CAST(1000000 AS DOUBLE)"
    " / (CAST((o_s - n_pages) / 2 AS DOUBLE)"
    " * CAST((o_t - n_pages) / 2 AS DOUBLE))) END AS BIGINT) AS knox_mil",
]


def knox_stat(points: DataFrame) -> DataFrame:
    """Knox space-time interaction statistic over point features on an
    integer (cell, time-bucket) lattice — the classic epidemiology /
    crawl-burst test: do events cluster in space AND time together
    more than their marginals predict?  *Close* = Chebyshev distance
    ≤ 1 on the cell grid (k-ring 1, 8-neighborhood + same cell) and
    |Δbucket| ≤ 1.  One row:

    * ``n_pages`` — N;
    * ``pairs_space`` / ``pairs_time`` / ``pairs_st`` — exact unordered
      distinct-point pair counts close in space (any time), in time
      (any cell), and in both, via ``(O − N)/2`` with the ordered
      totals ``O`` staged in DECIMAL(38,0) (output envelope: close-pair
      counts must fit BIGINT — per-neighborhood multiplicities up to
      ~3·10^9, the morans_i-style envelope);
    * ``knox_mil`` — ``floor(1e6 · X·P / (S·T))`` with
      ``P = N(N−1)/2``, the ONE pinned double step (> 1e6 ⇒ space-time
      interaction; NULL when a marginal has no close pairs).

    Scale design: three independent dual-role vote explodes (27 / 9 / 3
    offsets) + ONE pair-key hash aggregate each, one single-row fold
    apiece, combined by trivial 1×1 cross joins.  No window, no
    self-join, no Python; the space-time table is bounded by
    occupied (cell, bucket) groups, the marginals by the grid and the
    calendar.  Reference's raster model is the same block grid
    (utils.py:125-140); time buckets play the band role.
    """
    ctd = points.groupBy(
        F.col("tile_x").alias("cx"), F.col("tile_y").alias("cy"),
        F.col("t_bucket").alias("ct"),
    ).agg(F.count(F.lit(1)).alias("n"))
    cells = ctd.groupBy("cx", "cy").agg(F.sum("n").alias("n"))
    buckets = ctd.groupBy("ct").agg(F.sum("n").alias("n"))
    n_row = ctd.agg(F.sum("n").cast("decimal(38,0)").alias("n_pages"))
    o_x = _knox_ordered_pairs(ctd, ["cx", "cy", "ct"], "o_x")
    o_s = _knox_ordered_pairs(cells, ["cx", "cy"], "o_s")
    o_t = _knox_ordered_pairs(buckets, ["ct"], "o_t")
    return (
        n_row.crossJoin(o_s).crossJoin(o_t).crossJoin(o_x)
        .selectExpr(*_KNOX_FINAL)
    )


def knox_stat_sql(points_cte: str) -> str:
    """DuckDB twin of :func:`knox_stat` — ``points_cte`` is a SELECT
    exposing one row per point with ``tile_x, tile_y, t_bucket``; the final
    projection is textually identical to the Spark side."""

    def block(src: str, keys, tag: str, out: str) -> str:
        dims = len(keys)
        offs = _knox_offsets(dims)
        vals = ", ".join(
            ["(0, " + ", ".join("0" for _ in range(dims)) + ")"]
            + ["(1, " + ", ".join(str(d) for d in off) + ")" for off in offs]
        )
        ocols = ", ".join(f"d{i}" for i in range(dims))
        kexpr = ", ".join(
            f"c.{k} + o.d{i} AS k{i}" for i, k in enumerate(keys)
        )
        kname = ", ".join(f"k{i}" for i in range(dims))
        return f"""{tag}_v AS (SELECT {kexpr}, o.r, c.n
       FROM {tag}_c c, (VALUES {vals}) o(r, {ocols})),
{tag}_g AS (SELECT {kname},
                   MAX(CASE WHEN r = 0 THEN n END) AS a,
                   SUM(CASE WHEN r = 1 THEN n ELSE 0 END) AS vs
            FROM {tag}_v GROUP BY {kname}),
{tag}_o AS (SELECT SUM(CAST(a AS HUGEINT) * vs) AS {out}
            FROM {tag}_g WHERE a IS NOT NULL)"""

    final = ",\n       ".join(_KNOX_FINAL)
    return f"""WITH kx_pts AS ({points_cte}),
kx_c AS (SELECT tile_x AS cx, tile_y AS cy, t_bucket AS ct,
                COUNT(*) AS n
         FROM kx_pts GROUP BY 1, 2, 3),
ks_c AS (SELECT cx, cy, SUM(n) AS n FROM kx_c GROUP BY 1, 2),
kt_c AS (SELECT ct, SUM(n) AS n FROM kx_c GROUP BY 1),
kn AS (SELECT CAST(SUM(n) AS HUGEINT) AS n_pages FROM kx_c),
{block(points_cte, ["cx", "cy", "ct"], "kx", "o_x")},
{block(points_cte, ["cx", "cy"], "ks", "o_s")},
{block(points_cte, ["ct"], "kt", "o_t")}
SELECT {final}
FROM kn, ks_o, kt_o, kx_o"""


def _centro_final(intdiv: str) -> list[str]:
    """Shared final projection for :func:`centrography`; ``intdiv`` is
    the engine's integer-division token (operands non-negative, where
    floor == truncate on both engines)."""
    return [
        "CAST(n_cells AS BIGINT) AS n_cells",
        "CAST(w_total AS BIGINT) AS w_total",
        f"CAST((swx * 1000000) {intdiv} w_total AS BIGINT) AS mean_x_mil",
        f"CAST((swy * 1000000) {intdiv} w_total AS BIGINT) AS mean_y_mil",
        # the ONE pinned double: weighted standard distance in mil
        "CAST(floor(sqrt((CAST(sxx AS DOUBLE) + CAST(syy AS DOUBLE))"
        " / CAST(w_total AS DOUBLE)"
        " - (CAST(swx AS DOUBLE) / CAST(w_total AS DOUBLE))"
        " * (CAST(swx AS DOUBLE) / CAST(w_total AS DOUBLE))"
        " - (CAST(swy AS DOUBLE) / CAST(w_total AS DOUBLE))"
        " * (CAST(swy AS DOUBLE) / CAST(w_total AS DOUBLE)))"
        " * CAST(1000000 AS DOUBLE)) AS BIGINT) AS std_dist_mil",
    ]


def centrography(tiles: DataFrame) -> DataFrame:
    """Centrographic summary of the density surface — the classic
    point-pattern first moments (mean center + standard distance,
    weighted by cell density): one row ``(n_cells, w_total,
    mean_x_mil, mean_y_mil, std_dist_mil)``.  Mean center coordinates
    are EXACT mil floor-divisions of the DECIMAL(38,0)-staged weighted
    coordinate sums; ``std_dist_mil`` (the RMS distance from the mean
    center, the dispersion radius) is the ONE pinned double —
    ``floor(1e6·sqrt(Σw(x²+y²)/W − x̄² − ȳ²))`` computed through one
    fixed IEEE tree from exact integer sums.

    Scale design: ONE map-side-combinable corpus fold (six sums), one
    single-row projection.  No shuffle beyond the one global aggregate,
    no window, no join, no Python.  Second-moment staging is
    DECIMAL(38,0)/HUGEINT (envelope: ``W·x²`` must fit 38 digits —
    zooms ≤ 20 at 10^12 pages).
    """
    d = "decimal(38,0)"
    x = F.col("tile_x").cast("long")
    y = F.col("tile_y").cast("long")
    w = F.col("page_count").cast("long")
    agg = tiles.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(w).cast(d).alias("w_total"),
        F.sum((w * x).cast(d)).alias("swx"),
        F.sum((w * y).cast(d)).alias("swy"),
        F.sum((w.cast(d) * x * x)).alias("sxx"),
        F.sum((w.cast(d) * y * y)).alias("syy"),
    )
    return agg.selectExpr(*_centro_final("div"))


def centrography_sql(tiles_cte: str) -> str:
    """DuckDB twin of :func:`centrography` — ``tiles_cte`` is a SELECT
    exposing ``tile_x, tile_y, page_count``; final projection
    textually identical (int-div token ``//``)."""
    final = ",\n       ".join(_centro_final("//"))
    return f"""WITH cg_t AS ({tiles_cte}),
cg_a AS (SELECT COUNT(*) AS n_cells,
                CAST(SUM(page_count) AS HUGEINT) AS w_total,
                SUM(CAST(page_count AS HUGEINT) * tile_x) AS swx,
                SUM(CAST(page_count AS HUGEINT) * tile_y) AS swy,
                SUM(CAST(page_count AS HUGEINT) * tile_x * tile_x) AS sxx,
                SUM(CAST(page_count AS HUGEINT) * tile_y * tile_y) AS syy
         FROM cg_t)
SELECT {final}
FROM cg_a"""


def _ring_offsets(k: int):
    """The 8k offsets at exactly Chebyshev distance ``k``."""
    return [
        (dx, dy)
        for dx in range(-k, k + 1)
        for dy in range(-k, k + 1)
        if max(abs(dx), abs(dy)) == k
    ]


def _nn_final(intdiv: str) -> list[str]:
    """``intdiv`` is the engine's integer-division token (operands
    non-negative, floor == truncate on both engines)."""
    return [
        "CAST(n_cells AS BIGINT) AS n_cells",
        "CAST(n_within AS BIGINT) AS n_within",
        "CAST(sum_nn AS BIGINT) AS sum_nn",
        "CAST(CASE WHEN n_within = 0 THEN NULL"
        f" ELSE (sum_nn * 1000000) {intdiv} n_within END AS BIGINT)"
        " AS mean_nn_mil",
        # the ONE pinned double: grid-adapted Clark-Evans ratio
        # observed-mean / CSR-expected 0.5/sqrt(lambda) = 2·mean·sqrt(n)/G
        "CAST(CASE WHEN n_within = 0 THEN NULL"
        " ELSE floor(CAST(sum_nn AS DOUBLE) / CAST(n_within AS DOUBLE)"
        " * CAST(2 AS DOUBLE) * sqrt(CAST(n_cells AS DOUBLE))"
        " / grid_n * CAST(1000000 AS DOUBLE)) END AS BIGINT) AS ce_mil",
    ]


_NN_INDEX_MAX_RING = 3


def nn_index(tiles: DataFrame, zoom: int) -> DataFrame:
    """Grid-adapted Clark-Evans nearest-neighbor index of the occupied
    cells: per occupied cell, the EXACT Chebyshev distance to the
    nearest OTHER occupied cell, searched out to ring 3 (cells
    whose NN is farther are counted in ``n_cells`` but excluded from
    the mean — the bounded-round contract shared by proximity/BFS).
    One row ``(n_cells, n_within, sum_nn, mean_nn_mil, ce_mil)``:
    counts and ``sum_nn`` exact BIGINT, ``mean_nn_mil`` an exact mil
    quotient, ``ce_mil`` the ONE pinned double — observed mean NN over
    the CSR expectation ``0.5/sqrt(λ)`` with ``λ = n_cells/4^zoom``
    (< 1e6 ⇒ clustered, > 1e6 ⇒ dispersed; Chebyshev metric, so the
    calibration is grid-adapted, not planar-Euclidean).

    Scale design: one vote explode over the ``4·R(R+1)`` ring offsets
    (48 at R=3) carrying the ring number + one anchor row, ONE
    pair-key hash aggregate taking ``min(ring)``, one single-row fold.
    Grid-bounded, no self-join, no window, no Python.
    """
    entries = [F.struct(F.lit(0).alias("r"), F.lit(0).alias("dx"),
                        F.lit(0).alias("dy"))]
    for k in range(1, _NN_INDEX_MAX_RING + 1):
        entries += [
            F.struct(F.lit(k).alias("r"), F.lit(dx).alias("dx"),
                     F.lit(dy).alias("dy"))
            for dx, dy in _ring_offsets(k)
        ]
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.explode(F.array(*entries)).alias("off"),
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("kx"),
        (F.col("_sy") + F.col("off.dy")).alias("ky"),
        F.col("off.r").alias("r"),
    )
    g = votes.groupBy("kx", "ky").agg(
        F.max(F.when(F.col("r") == 0, F.lit(1)).otherwise(F.lit(0)))
        .alias("occ"),
        F.min(F.when(F.col("r") > 0, F.col("r"))).alias("nn"),
    )
    fold = g.filter(F.col("occ") == 1).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.when(F.col("nn").isNotNull(), F.lit(1)).otherwise(F.lit(0)))
        .alias("n_within"),
        F.sum(F.coalesce(F.col("nn"), F.lit(0))).alias("sum_nn"),
    )
    return fold.selectExpr(f"CAST({2 ** zoom} AS DOUBLE) AS grid_n", "*") \
               .selectExpr(*_nn_final("div"))


def nn_index_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`nn_index` — identical offsets and final
    projection."""
    vals = ["(0, 0, 0)"]
    for k in range(1, _NN_INDEX_MAX_RING + 1):
        vals += [f"({k}, {dx}, {dy})" for dx, dy in _ring_offsets(k)]
    final = ",\n       ".join(_nn_final("//"))
    return f"""WITH nn_t AS ({tiles_cte}),
nn_v AS (SELECT t.tile_x + o.dx AS kx, t.tile_y + o.dy AS ky, o.r
         FROM nn_t t, (VALUES {", ".join(vals)}) o(r, dx, dy)),
nn_g AS (SELECT kx, ky,
                MAX(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS occ,
                MIN(CASE WHEN r > 0 THEN r END) AS nn
         FROM nn_v GROUP BY 1, 2),
nn_f AS (SELECT COUNT(*) AS n_cells,
                SUM(CASE WHEN nn IS NOT NULL THEN 1 ELSE 0 END) AS n_within,
                SUM(COALESCE(nn, 0)) AS sum_nn
         FROM nn_g WHERE occ = 1)
SELECT {final}
FROM (SELECT CAST({2 ** zoom} AS DOUBLE) AS grid_n, * FROM nn_f)"""


def _ripley_final(max_r: int, grid_n: int) -> list[str]:
    """Shared final projection for :func:`ripley_k` — one output row per
    radius (built by a bounded UNION of per-radius projections upstream);
    ``k_ratio_mil`` is the ONE pinned double per radius."""
    area = grid_n * grid_n
    return [
        "CAST(radius AS BIGINT) AS radius",
        "CAST(n_pts AS BIGINT) AS n_pts",
        "CAST((o_r - n_pts) / 2 AS BIGINT) AS pairs_within",
        # observed/CSR: pairs_within / (P · ((2r+1)²−1)/G²)
        "CAST(CASE WHEN n_pts < 2 THEN NULL"
        " ELSE floor(CAST((o_r - n_pts) / 2 AS DOUBLE)"
        f" * CAST({area} AS DOUBLE)"
        " / (CAST(n_pts AS DOUBLE) * CAST(n_pts - 1 AS DOUBLE)"
        " / CAST(2 AS DOUBLE))"
        " / CAST((2 * radius + 1) * (2 * radius + 1) - 1 AS DOUBLE)"
        " * CAST(1000000 AS DOUBLE)) END AS BIGINT) AS k_ratio_mil",
    ]


_RIPLEY_K_MAX_R = 4


def ripley_k(points: DataFrame, zoom: int) -> DataFrame:
    """Grid-adapted Ripley's K of the point pattern (one row per cell
    per point is fine — multiplicities count) at Chebyshev radii
    ``1..4``: per radius, the EXACT number of unordered distinct
    point pairs within distance r, plus ``k_ratio_mil`` — observed
    over the CSR expectation ``P·((2r+1)²−1)/G²`` (no edge
    correction; > 1e6 ⇒ clustered at that scale, the multi-scale
    sibling of :func:`nn_index`).  ``(O_r − N)/2`` with ordered
    totals staged DECIMAL(38,0) exactly as :func:`knox_stat`.

    Scale design: points fold to cell counts first, then ONE dual-role
    vote explode over the ``9²`` disc offsets carrying the
    ring number, ONE pair-key hash aggregate with per-ring conditional
    vote sums, one single-row fold, and a 4-way bounded UNION
    for the per-radius rows.  No self-join, no window, no Python.
    """
    counts = points.groupBy(
        F.col("tile_x").cast("long").alias("cx"),
        F.col("tile_y").cast("long").alias("cy"),
    ).agg(F.count(F.lit(1)).alias("n"))
    entries = [F.struct(F.lit(0).alias("r"), F.lit(0).alias("dx"),
                        F.lit(0).alias("dy"))]
    for dx in range(-_RIPLEY_K_MAX_R, _RIPLEY_K_MAX_R + 1):
        for dy in range(-_RIPLEY_K_MAX_R, _RIPLEY_K_MAX_R + 1):
            entries.append(
                F.struct(F.lit(max(abs(dx), abs(dy)) + 1).alias("r"),
                         F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            )
    # vote ring label is Chebyshev distance + 1 (0 marks the anchor);
    # the r=1 vote (offset 0,0) is the same-cell pair contribution
    votes = counts.select(
        "cx", "cy", "n", F.explode(F.array(*entries)).alias("off")
    ).select(
        (F.col("cx") + F.col("off.dx")).alias("kx"),
        (F.col("cy") + F.col("off.dy")).alias("ky"),
        F.col("off.r").alias("r"),
        F.col("n"),
    )
    d = "decimal(38,0)"
    g = votes.groupBy("kx", "ky").agg(
        F.max(F.when(F.col("r") == 0, F.col("n"))).alias("a"),
        *[
            F.sum(F.when((F.col("r") > 0) & (F.col("r") <= k + 1),
                         F.col("n"))
                  .otherwise(F.lit(0))).alias(f"vs{k}")
            for k in range(1, _RIPLEY_K_MAX_R + 1)
        ],
    )
    fold = g.filter(F.col("a").isNotNull()).agg(
        F.sum(F.col("a").cast(d)).alias("n_pts"),
        *[
            F.sum(F.col("a").cast(d) * F.col(f"vs{k}")).alias(f"o{k}")
            for k in range(1, _RIPLEY_K_MAX_R + 1)
        ],
    )
    per_r = fold.selectExpr(
        "n_pts",
        "stack(" + str(_RIPLEY_K_MAX_R) + ", "
        + ", ".join(f"CAST({k} AS BIGINT), o{k}" for k in range(1, _RIPLEY_K_MAX_R + 1))
        + ") AS (radius, o_r)",
    )
    return per_r.selectExpr(*_ripley_final(_RIPLEY_K_MAX_R, 2 ** zoom))


def ripley_k_sql(points_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`ripley_k` — identical disc offsets,
    conditional ring sums and final projection (the per-radius rows
    come from the same bounded UNION via UNPIVOT-free UNION ALL)."""
    vals = ["(0, 0, 0)"]
    for dx in range(-_RIPLEY_K_MAX_R, _RIPLEY_K_MAX_R + 1):
        for dy in range(-_RIPLEY_K_MAX_R, _RIPLEY_K_MAX_R + 1):
            vals.append(f"({max(abs(dx), abs(dy)) + 1}, {dx}, {dy})")
    ring_sums = ",\n                ".join(
        f"SUM(CASE WHEN r <= {k + 1} AND r > 0 THEN n ELSE 0 END) AS vs{k}"
        for k in range(1, _RIPLEY_K_MAX_R + 1)
    )
    o_sums = ",\n                ".join(
        f"SUM(CAST(a AS HUGEINT) * vs{k}) AS o{k}"
        for k in range(1, _RIPLEY_K_MAX_R + 1)
    )
    union = "\nUNION ALL\n".join(
        f"SELECT n_pts, CAST({k} AS BIGINT) AS radius, o{k} AS o_r FROM rk_f"
        for k in range(1, _RIPLEY_K_MAX_R + 1)
    )
    final = ",\n       ".join(_ripley_final(_RIPLEY_K_MAX_R, 2 ** zoom))
    return f"""WITH rk_pts AS ({points_cte}),
rk_c AS (SELECT tile_x AS cx, tile_y AS cy, COUNT(*) AS n
         FROM rk_pts GROUP BY 1, 2),
rk_v AS (SELECT c.cx + o.dx AS kx, c.cy + o.dy AS ky, o.r, c.n
         FROM rk_c c, (VALUES {", ".join(vals)}) o(r, dx, dy)),
rk_g AS (SELECT kx, ky,
                MAX(CASE WHEN r = 0 THEN n END) AS a,
                {ring_sums}
         FROM rk_v GROUP BY 1, 2),
rk_f AS (SELECT CAST(SUM(CAST(a AS HUGEINT)) AS HUGEINT) AS n_pts,
                {o_sums}
         FROM rk_g WHERE a IS NOT NULL),
rk_u AS ({union})
SELECT {final}
FROM rk_u"""


def quadrat_test(tiles: DataFrame, zoom: int) -> DataFrame:
    """Quadrat-count dispersion test of the point pattern — the
    variance-to-mean ratio of per-cell counts over the FULL ``4^zoom``
    grid (absent cells are zero-count quadrats), FULLY exact integer:
    with ``C = 4^zoom``, ``S = Σn`` and ``Q = Σn²``,

        ``vmr_mil = ((C·Q − S²) · 10^6) div (C·S)``

    (non-negative by Cauchy-Schwarz; > 1e6 ⇒ clustered / over-
    dispersed vs CSR-Poisson, the quadrat sibling of
    :func:`nn_index`/:func:`ripley_k`).  One row ``(n_quadrats,
    n_occupied, n_points, sum_sq, vmr_mil)`` — NO float anywhere.

    Scale design: ONE map-side-combinable corpus fold; second moment
    staged DECIMAL(38,0)/HUGEINT.  Zero shuffles beyond the global
    aggregate.
    """
    c = 4 ** zoom
    d = "decimal(38,0)"
    v = F.col("page_count").cast("long")
    agg = tiles.agg(
        F.count(F.lit(1)).alias("n_occupied"),
        F.sum(v).cast(d).alias("s"),
        F.sum(v.cast(d) * v).alias("q"),
    )
    return agg.selectExpr(
        f"CAST({c} AS BIGINT) AS n_quadrats",
        "CAST(n_occupied AS BIGINT) AS n_occupied",
        "CAST(s AS BIGINT) AS n_points",
        "CAST(q AS BIGINT) AS sum_sq",
        f"CAST((({c} * q - s * s) * 1000000) div ({c} * s) AS BIGINT)"
        " AS vmr_mil",
    )


def quadrat_test_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`quadrat_test` (int-div ``//``)."""
    c = 4 ** zoom
    return f"""WITH qt_t AS ({tiles_cte}),
qt_a AS (SELECT COUNT(*) AS n_occupied,
                CAST(SUM(page_count) AS HUGEINT) AS s,
                SUM(CAST(page_count AS HUGEINT) * page_count) AS q
         FROM qt_t)
SELECT CAST({c} AS BIGINT) AS n_quadrats,
       CAST(n_occupied AS BIGINT) AS n_occupied,
       CAST(s AS BIGINT) AS n_points,
       CAST(q AS BIGINT) AS sum_sq,
       CAST((({c} * q - s * s) * 1000000) // ({c} * s) AS BIGINT)
       AS vmr_mil
FROM qt_a"""


def general_g(tiles: DataFrame, zoom: int) -> DataFrame:
    """Getis-Ord General G — the GLOBAL hot-spot statistic (the global
    sibling of :func:`hotspots`' Gi*): with queen radius-1 weights over
    the occupied cells (absent cells are zero and contribute nothing
    to either sum),

        ``G = Σ_{i≠j, j∈N(i)} x_i·x_j / Σ_{i≠j} x_i·x_j``

    FULLY exact: numerator from the dual-role neighbor-vote machinery
    (8 offsets, no self-pair), denominator ``S² − Q`` closed-form,
    ``g_mil = (num·10^6) div (S² − Q)`` an exact integer division —
    NO float.  High G ⇒ high values cluster next to high values.
    One row ``(n_cells, w_pairs, num, den, g_mil)``; ``w_pairs`` is
    the ordered adjacent-pair count (bounded by 8·cells).

    Scale design: ONE dual-role vote explode (anchor + 8 neighbor
    votes) + ONE pair-key hash aggregate + a single-row fold, plus one
    three-sum corpus fold, combined 1×1 — no join on the cell table.
    DECIMAL(38,0)/HUGEINT staging (morans_i envelope).
    """
    d = "decimal(38,0)"
    entries = [F.struct(F.lit(0).alias("r"), F.lit(0).alias("dx"),
                        F.lit(0).alias("dy"))] + [
        F.struct(F.lit(1).alias("r"), F.lit(dx).alias("dx"),
                 F.lit(dy).alias("dy"))
        for dx, dy in _offsets(1) if (dx, dy) != (0, 0)
    ]
    base = tiles.select(
        F.col("tile_x").cast("long").alias("cx"),
        F.col("tile_y").cast("long").alias("cy"),
        F.col("page_count").cast("long").alias("v"),
    )
    g = base.select(
        "cx", "cy", "v", F.explode(F.array(*entries)).alias("off")
    ).select(
        (F.col("cx") + F.col("off.dx")).alias("kx"),
        (F.col("cy") + F.col("off.dy")).alias("ky"),
        F.col("off.r").alias("r"),
        F.col("v"),
    ).groupBy("kx", "ky").agg(
        F.max(F.when(F.col("r") == 0, F.col("v"))).alias("a"),
        F.sum(F.when(F.col("r") == 1, F.col("v")).otherwise(F.lit(0)))
        .alias("nbrsum"),
        F.sum(F.when(F.col("r") == 1, F.lit(1)).otherwise(F.lit(0)))
        .alias("nbrn"),
    )
    num = g.filter(F.col("a").isNotNull()).agg(
        F.sum(F.col("a").cast(d) * F.col("nbrsum")).alias("num"),
        F.sum(F.col("nbrn")).alias("w_pairs"),
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("v").cast(d).alias("s"),
        F.sum(F.col("v").cast(d) * F.col("v")).alias("q"),
    )
    return tot.crossJoin(num).selectExpr(
        "CAST(n_cells AS BIGINT) AS n_cells",
        "CAST(COALESCE(w_pairs, 0) AS BIGINT) AS w_pairs",
        "CAST(COALESCE(num, 0) AS BIGINT) AS num",
        "CAST(s * s - q AS BIGINT) AS den",
        "CAST(CASE WHEN s * s - q = 0 THEN NULL"
        " ELSE (COALESCE(num, 0) * 1000000) div (s * s - q) END AS BIGINT)"
        " AS g_mil",
    )


def general_g_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`general_g` (int-div ``//``; identical
    8-offset votes)."""
    nb = [o for o in _offsets(1) if o != (0, 0)]
    vals = ", ".join(["(0, 0, 0)"]
                     + [f"(1, {dx}, {dy})" for dx, dy in nb])
    return f"""WITH gg_t AS (SELECT tile_x AS cx, tile_y AS cy,
                     CAST(page_count AS BIGINT) AS v
              FROM ({tiles_cte})),
gg_v AS (SELECT t.cx + o.dx AS kx, t.cy + o.dy AS ky, o.r, t.v
         FROM gg_t t, (VALUES {vals}) o(r, dx, dy)),
gg_g AS (SELECT kx, ky,
                MAX(CASE WHEN r = 0 THEN v END) AS a,
                SUM(CASE WHEN r = 1 THEN v ELSE 0 END) AS nbrsum,
                SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS nbrn
         FROM gg_v GROUP BY 1, 2),
gg_n AS (SELECT SUM(CAST(a AS HUGEINT) * nbrsum) AS num,
                SUM(nbrn) AS w_pairs
         FROM gg_g WHERE a IS NOT NULL),
gg_a AS (SELECT COUNT(*) AS n_cells, CAST(SUM(v) AS HUGEINT) AS s,
                SUM(CAST(v AS HUGEINT) * v) AS q
         FROM gg_t)
SELECT CAST(n_cells AS BIGINT) AS n_cells,
       CAST(COALESCE(w_pairs, 0) AS BIGINT) AS w_pairs,
       CAST(COALESCE(num, 0) AS BIGINT) AS num,
       CAST(s * s - q AS BIGINT) AS den,
       CAST(CASE WHEN s * s - q = 0 THEN NULL
            ELSE (COALESCE(num, 0) * 1000000) // (s * s - q) END AS BIGINT)
       AS g_mil
FROM gg_a, gg_n"""


def gini_concentration(tiles: DataFrame) -> DataFrame:
    """Gini coefficient of crawl concentration over the OCCUPIED units
    (cells, hosts, …) — the inequality gauge of the density surface,
    FULLY exact integer: with values ranked ascending (any order among
    tied values gives the same Σi·x_(i) since the tied x are equal),

        ``gini_mil = ((2·Σ i·x_(i) − (n+1)·S) · 10^6) div (n·S)``

    One row ``(n_units, total, gini_mil)`` — NO float.  0 ⇒ perfectly
    even, → 1e6 ⇒ all mass in one unit.

    Scale design: one global ascending rank (a single range-partitioned
    sort over the unit-bounded table — cells are grid-bounded, hosts
    host-bounded, never the corpus) + one fold.
    """
    d = "decimal(38,0)"
    ranked = tiles.select(F.col("page_count").cast("long").alias("v")).withColumn(
        "i", F.row_number().over(Window.orderBy(F.col("v").asc()))
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast(d)).alias("s"),
        F.sum(F.col("i").cast(d) * F.col("v")).alias("ws"),
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_units",
        "CAST(s AS BIGINT) AS total",
        "CAST(CASE WHEN s = 0 THEN NULL"
        " ELSE ((2 * ws - (n + 1) * s) * 1000000) div (n * s) END"
        " AS BIGINT) AS gini_mil",
    )


def gini_concentration_sql(units_cte: str) -> str:
    """DuckDB twin of :func:`gini_concentration` — ``units_cte``
    exposes one row per unit with ``v``."""
    return f"""WITH gi_u AS ({units_cte}),
gi_r AS (SELECT CAST(v AS BIGINT) AS v,
                ROW_NUMBER() OVER (ORDER BY v ASC) AS i
         FROM gi_u),
gi_a AS (SELECT COUNT(*) AS n, CAST(SUM(v) AS HUGEINT) AS s,
                SUM(CAST(i AS HUGEINT) * v) AS ws
         FROM gi_r)
SELECT CAST(n AS BIGINT) AS n_units,
       CAST(s AS BIGINT) AS total,
       CAST(CASE WHEN s = 0 THEN NULL
            ELSE ((2 * ws - (n + 1) * s) * 1000000) // (n * s) END
            AS BIGINT) AS gini_mil
FROM gi_a"""


def _scan_final(intdiv: str, top_k: int) -> list[str]:
    """Shared final projection of :func:`scan_stat` (``intdiv`` =
    engine integer-division token, operands non-negative)."""
    return [
        "tile_x", "tile_y",
        "CAST(focal_sum AS BIGINT) AS focal_sum",
        "CAST(win_area AS BIGINT) AS win_area",
        f"CAST((focal_sum * n_quadrats * 1000000) {intdiv}"
        " (win_area * total) AS BIGINT) AS rr_mil",
    ]


def scan_stat(tiles: DataFrame, zoom: int, top_k: int = 20) -> DataFrame:
    """Simplified spatial scan statistic — the Kulldorff-style hotspot
    shortlist: for every window center, the EXACT relative risk of its
    edge-clipped ``(2r+1)²`` window against the global rate,

        ``rr_mil = (focal_sum · 4^z · 10^6) div (win_area · total)``

    (> 1e6 ⇒ the window's density exceeds the global mean — the top-K
    shortlist a full likelihood scan would re-rank), top-K ranked by
    the EXACT integer rr_mil (identical on both engines) with
    (focal_sum, tile) tie-breaks.  All integer, NO float.

    Scale design: :func:`focal_stats`' dilated vote fold (one explode,
    ONE window-key aggregate), one single-row total fold broadcast
    onto it, one top-K window over the grid-bounded candidate table.
    """
    d = "decimal(38,0)"
    fs = focal_stats(tiles, zoom, "page_count").select(
        "tile_x", "tile_y",
        F.col("focal_sum").cast(d).alias("focal_sum"),
        F.col("n_cells").cast(d).alias("win_area"),
    )
    tot = tiles.agg(
        F.sum(F.col("page_count").cast("long")).cast(d).alias("total"),
        F.lit(4 ** zoom).cast(d).alias("n_quadrats"),
    )
    ranked = fs.crossJoin(F.broadcast(tot)).withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(
                F.expr("(focal_sum * n_quadrats * 1000000)"
                       " div (win_area * total)").desc(),
                F.col("focal_sum").desc(),
                F.col("tile_x").asc(), F.col("tile_y").asc(),
            )
        ),
    ).filter(F.col("_rk") <= top_k)
    return ranked.selectExpr(*_scan_final("div", top_k))


def scan_stat_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`scan_stat` — identical window fold
    (offsets + closed-form in-bounds area) and final projection."""
    edge = 2 ** zoom - 1
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in _offsets(1))
    return f"""WITH sc_t AS ({tiles_cte}),
sc_v AS (SELECT t.tile_x + o.dx AS nx, t.tile_y + o.dy AS ny,
                CAST(t.page_count AS BIGINT) AS v
         FROM sc_t t, (VALUES {offs}) o(dx, dy)
         WHERE t.tile_x + o.dx BETWEEN 0 AND {edge}
           AND t.tile_y + o.dy BETWEEN 0 AND {edge}),
sc_f AS (SELECT nx AS tile_x, ny AS tile_y,
                CAST(SUM(v) AS HUGEINT) AS focal_sum,
                CAST((1 + LEAST(nx, 1) + LEAST({edge} - nx, 1))
                   * (1 + LEAST(ny, 1) + LEAST({edge} - ny, 1))
                   AS HUGEINT) AS win_area
         FROM sc_v GROUP BY 1, 2),
sc_g AS (SELECT CAST(SUM(page_count) AS HUGEINT) AS total,
                CAST({4 ** zoom} AS HUGEINT) AS n_quadrats
         FROM sc_t),
sc_r AS (SELECT f.*, g.total, g.n_quadrats,
                ROW_NUMBER() OVER (ORDER BY
                    (f.focal_sum * g.n_quadrats * 1000000)
                    // (f.win_area * g.total) DESC,
                    f.focal_sum DESC, f.tile_x ASC, f.tile_y ASC) AS _rk
         FROM sc_f f, sc_g g)
SELECT {", ".join(_scan_final("//", 20))}
FROM sc_r WHERE _rk <= 20"""


_G_FUNCTION_MAX_RING = 3


def g_function(tiles: DataFrame, zoom: int) -> DataFrame:
    """Diggle's G function — the nearest-neighbor distance CDF of the
    occupied cells (the distributional refinement of
    :func:`nn_index`'s mean): one row per Chebyshev distance ``k =
    1..3`` with the exact count of cells whose nearest OTHER
    occupied cell sits at exactly ``k`` and the cumulative CDF in mil
    (``g_mil = cum·10^6 div n_cells`` — cells with NN beyond the
    bound stay in the denominator, the bounded-round contract).
    FULLY exact, NO float.

    Scale design: the :func:`nn_index` ring-vote explode + min-ring
    aggregate, then a 3-ring-bounded group + running sum over
    that ≤ 3-row table.
    """
    entries = [F.struct(F.lit(0).alias("r"), F.lit(0).alias("dx"),
                        F.lit(0).alias("dy"))]
    for k in range(1, _G_FUNCTION_MAX_RING + 1):
        entries += [
            F.struct(F.lit(k).alias("r"), F.lit(dx).alias("dx"),
                     F.lit(dy).alias("dy"))
            for dx, dy in _ring_offsets(k)
        ]
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.explode(F.array(*entries)).alias("off"),
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("kx"),
        (F.col("_sy") + F.col("off.dy")).alias("ky"),
        F.col("off.r").alias("r"),
    )
    g = votes.groupBy("kx", "ky").agg(
        F.max(F.when(F.col("r") == 0, F.lit(1)).otherwise(F.lit(0)))
        .alias("occ"),
        F.min(F.when(F.col("r") > 0, F.col("r"))).alias("nn"),
    ).filter(F.col("occ") == 1)
    # n_cells = input rows (one row per occupied cell by contract) —
    # counting the INPUT avoids re-running the explode subtree for a
    # 1-row fold
    n_row = tiles.agg(F.count(F.lit(1)).alias("n_cells"))
    hist = (
        g.filter(F.col("nn").isNotNull())
        .groupBy(F.col("nn").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(n_row))
        .selectExpr(
            "CAST(k AS BIGINT) AS k",
            "CAST(cnt AS BIGINT) AS n_at_k",
            "CAST(cum AS BIGINT) AS n_within_k",
            "CAST((cum * 1000000) div n_cells AS BIGINT) AS g_mil",
        )
    )


def g_function_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`g_function` (int-div ``//``)."""
    vals = ["(0, 0, 0)"]
    for k in range(1, _G_FUNCTION_MAX_RING + 1):
        vals += [f"({k}, {dx}, {dy})" for dx, dy in _ring_offsets(k)]
    return f"""WITH gf_t AS ({tiles_cte}),
gf_v AS (SELECT t.tile_x + o.dx AS kx, t.tile_y + o.dy AS ky, o.r
         FROM gf_t t, (VALUES {", ".join(vals)}) o(r, dx, dy)),
gf_g AS (SELECT kx, ky,
                MAX(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS occ,
                MIN(CASE WHEN r > 0 THEN r END) AS nn
         FROM gf_v GROUP BY 1, 2),
gf_o AS (SELECT * FROM gf_g WHERE occ = 1),
gf_n AS (SELECT COUNT(*) AS n_cells FROM gf_o),
gf_h AS (SELECT nn AS k, COUNT(*) AS cnt
         FROM gf_o WHERE nn IS NOT NULL GROUP BY 1),
gf_c AS (SELECT k, cnt,
                SUM(cnt) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
         FROM gf_h)
SELECT CAST(k AS BIGINT) AS k,
       CAST(cnt AS BIGINT) AS n_at_k,
       CAST(cum AS BIGINT) AS n_within_k,
       CAST((cum * 1000000) // n_cells AS BIGINT) AS g_mil
FROM gf_c, gf_n"""


def lang_adjacency(cells: DataFrame) -> DataFrame:
    """Spatial label adjacency — the segregation gauge of a labeled
    grid (cells labeled by majority language): one row per unordered
    label pair ``(lang_a ≤ lang_b, n_pairs)`` counting queen-adjacent
    OCCUPIED cell pairs, all exact (same-label rows are the
    within-community contacts; compare the same-label share against
    the label marginals for a segregation read).

    Scale design: semivariogram-style canonical pair formation — each
    cell anchors at its own coords and votes its label at the
    CANONICAL four queen directions ((1,0),(0,1),(1,1),(1,−1)), ONE
    pair-key aggregate joins the two members without a self-join;
    label pairs fold on the label-bounded key.
    """
    dirs = [(1, 0), (0, 1), (1, 1), (1, -1)]
    entries = [
        F.struct(F.lit(i).alias("d"), F.lit("L").alias("role"),
                 F.lit(0).alias("dx"), F.lit(0).alias("dy"))
        for i in range(len(dirs))
    ] + [
        F.struct(F.lit(i).alias("d"), F.lit("R").alias("role"),
                 F.lit(-dx).alias("dx"), F.lit(-dy).alias("dy"))
        for i, (dx, dy) in enumerate(dirs)
    ]
    votes = cells.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.col("lang").alias("_l"),
        F.explode(F.array(*entries)).alias("off"),
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("px"),
        (F.col("_sy") + F.col("off.dy")).alias("py"),
        F.col("off.d").alias("d"),
        F.col("off.role").alias("role"),
        F.col("_l"),
    )
    pairs = votes.groupBy("px", "py", "d").agg(
        F.max(F.when(F.col("role") == "L", F.col("_l"))).alias("la"),
        F.max(F.when(F.col("role") == "R", F.col("_l"))).alias("lb"),
    ).filter(F.col("la").isNotNull() & F.col("lb").isNotNull())
    return (
        pairs.select(
            F.least("la", "lb").alias("lang_a"),
            F.greatest("la", "lb").alias("lang_b"),
        )
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def lang_adjacency_sql(cells_cte: str) -> str:
    """DuckDB twin of :func:`lang_adjacency` — identical canonical
    directions and pair fold."""
    dirs = [(1, 0), (0, 1), (1, 1), (1, -1)]
    vals = ", ".join(
        [f"({i}, 'L', 0, 0)" for i in range(len(dirs))]
        + [f"({i}, 'R', {-dx}, {-dy})" for i, (dx, dy) in enumerate(dirs)]
    )
    return f"""WITH la_t AS ({cells_cte}),
la_v AS (SELECT t.tile_x + o.dx AS px, t.tile_y + o.dy AS py,
                o.d, o.role, t.lang AS l
         FROM la_t t, (VALUES {vals}) o(d, role, dx, dy)),
la_p AS (SELECT px, py, d,
                MAX(CASE WHEN role = 'L' THEN l END) AS la,
                MAX(CASE WHEN role = 'R' THEN l END) AS lb
         FROM la_v GROUP BY 1, 2, 3)
SELECT LEAST(la, lb) AS lang_a, GREATEST(la, lb) AS lang_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM la_p WHERE la IS NOT NULL AND lb IS NOT NULL
GROUP BY 1, 2"""


def _ellipse_final(intdiv: str) -> list[str]:
    """Shared final projection for :func:`sd_ellipse`.

    Mean center is exact; the central second-moment NUMERATORS
    ``vxx = W·Σwx² − (Σwx)²`` (etc., denominator ``W²``) are exact
    DECIMAL(38,0)/HUGEINT.  The axis lengths and orientation are the
    pinned doubles: every step (int→double cast, +, −, ×, ÷, sqrt) is
    IEEE-754 correctly rounded on both engines, so the identical
    expression tree yields bit-identical doubles before the one floor.
    """
    vxx = "(w_total * sxx - swx * swx)"
    vyy = "(w_total * syy - swy * swy)"
    vxy = "(w_total * sxy - swx * swy)"
    d1 = f"CAST({vxx} - {vyy} AS DOUBLE)"
    d2 = f"CAST({vxy} AS DOUBLE)"
    tr = f"CAST({vxx} + {vyy} AS DOUBLE)"
    w2 = "(CAST(w_total AS DOUBLE) * CAST(w_total AS DOUBLE))"
    disc = f"sqrt({d1} * {d1} + CAST(4 AS DOUBLE) * {d2} * {d2})"
    lam_hi = f"(({tr} + {disc}) / CAST(2 AS DOUBLE))"
    lam_lo = f"(({tr} - {disc}) / CAST(2 AS DOUBLE))"
    return [
        "CAST(n_cells AS BIGINT) AS n_cells",
        "CAST(w_total AS BIGINT) AS w_total",
        f"CAST((swx * 1000000) {intdiv} w_total AS BIGINT) AS mean_x_mil",
        f"CAST((swy * 1000000) {intdiv} w_total AS BIGINT) AS mean_y_mil",
        # orientation: tan(2θ) = 2·vxy / (vxx − vyy), pinned-double
        # floor (numerator/denominator possibly negative); NULL when the
        # pattern is isotropic in x/y (vxx = vyy — θ undefined)
        f"CAST(CASE WHEN {vxx} = {vyy} THEN NULL ELSE "
        f"floor(CAST(2 AS DOUBLE) * {d2} * CAST(1000000 AS DOUBLE)"
        f" / {d1}) END AS BIGINT) AS tan2theta_mil",
        f"CAST(floor(sqrt({lam_hi} / {w2}) * CAST(1000000 AS DOUBLE))"
        " AS BIGINT) AS sigma_major_mil",
        f"CAST(floor(sqrt({lam_lo} / {w2}) * CAST(1000000 AS DOUBLE))"
        " AS BIGINT) AS sigma_minor_mil",
    ]


def sd_ellipse(tiles: DataFrame) -> DataFrame:
    """Standard deviational ellipse of the density surface — the
    directional refinement of :func:`centrography`'s standard distance
    (Lefever 1926; the classic point-pattern dispersion ellipse): one
    row ``(n_cells, w_total, mean_x_mil, mean_y_mil, tan2theta_mil,
    sigma_major_mil, sigma_minor_mil)``.

    Mean center is the exact mil floordiv; the eigen pair of the
    weighted covariance comes from the EXACT integer central-moment
    numerators ``vxx/vyy/vxy`` (DECIMAL(38,0)-staged), with the
    orientation ``tan(2θ)`` and the two semi-axis lengths as pinned
    doubles through one fixed IEEE tree (sqrt/÷/× are correctly
    rounded on both engines).  ``tan2theta_mil`` is NULL when
    ``vxx = vyy`` (isotropic — orientation undefined).

    Scale design: ONE map-side-combinable corpus fold (seven sums), one
    single-row projection; no window, no join, no Python.  Envelope:
    ``W·Σw·x²`` must fit 38 digits — zooms ≤ 20 at 10^12 pages (the
    :func:`centrography` envelope squared once, documented there).
    """
    d = "decimal(38,0)"
    x = F.col("tile_x").cast("long")
    y = F.col("tile_y").cast("long")
    w = F.col("page_count").cast("long")
    agg = tiles.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(w).cast(d).alias("w_total"),
        F.sum((w * x).cast(d)).alias("swx"),
        F.sum((w * y).cast(d)).alias("swy"),
        F.sum((w.cast(d) * x * x)).alias("sxx"),
        F.sum((w.cast(d) * y * y)).alias("syy"),
        F.sum((w.cast(d) * x * y)).alias("sxy"),
    )
    return agg.selectExpr(*_ellipse_final("div"))


def sd_ellipse_sql(tiles_cte: str) -> str:
    """DuckDB twin of :func:`sd_ellipse` — identical fold and final
    projection (int-div token ``//``)."""
    final = ",\n       ".join(_ellipse_final("//"))
    return f"""WITH se_t AS ({tiles_cte}),
se_a AS (SELECT COUNT(*) AS n_cells,
                CAST(SUM(page_count) AS HUGEINT) AS w_total,
                SUM(CAST(page_count AS HUGEINT) * tile_x) AS swx,
                SUM(CAST(page_count AS HUGEINT) * tile_y) AS swy,
                SUM(CAST(page_count AS HUGEINT) * tile_x * tile_x) AS sxx,
                SUM(CAST(page_count AS HUGEINT) * tile_y * tile_y) AS syy,
                SUM(CAST(page_count AS HUGEINT) * tile_x * tile_y) AS sxy
         FROM se_t)
SELECT {final}
FROM se_a"""


_F_FUNCTION_MAX_RING = 3


def f_function(tiles: DataFrame, zoom: int) -> DataFrame:
    """Diggle's F function (the EMPTY-SPACE function) — the CDF of the
    distance from an empty grid cell to its nearest OCCUPIED cell: one
    row per Chebyshev distance ``k = 1..3`` with the exact count
    of empty cells whose nearest occupied cell sits at exactly ``k``
    and the cumulative CDF in mil (``f_mil = cum·10^6 div n_empty``;
    empty cells beyond the ring bound stay in the denominator — the
    bounded-round contract shared with :func:`g_function`).  Together
    with G this gives the J-function diagnostics (J = (1−G)/(1−F));
    FULLY exact, NO float.

    ``n_empty = 4^zoom − n_occupied`` is closed-form — the full grid
    never materializes.  Votes are clipped to the grid bounds so edge
    cells never vote outside ``[0, 2^zoom)``.

    Scale design: the :func:`g_function` ring-vote explode (occupied
    cells vote r=0 at themselves, r=k at ring-k neighbors) + ONE
    min-ring aggregate over vote keys, then a 3-ring-bounded
    group + running sum.  Vote rows ≈ occupied·7², all
    grid-bounded.
    """
    n = 1 << zoom
    entries = [F.struct(F.lit(0).alias("r"), F.lit(0).alias("dx"),
                        F.lit(0).alias("dy"))]
    for k in range(1, _F_FUNCTION_MAX_RING + 1):
        entries += [
            F.struct(F.lit(k).alias("r"), F.lit(dx).alias("dx"),
                     F.lit(dy).alias("dy"))
            for dx, dy in _ring_offsets(k)
        ]
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.explode(F.array(*entries)).alias("off"),
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("kx"),
        (F.col("_sy") + F.col("off.dy")).alias("ky"),
        F.col("off.r").alias("r"),
    ).filter(
        (F.col("kx") >= 0) & (F.col("kx") < n)
        & (F.col("ky") >= 0) & (F.col("ky") < n)
    )
    g = votes.groupBy("kx", "ky").agg(
        F.max(F.when(F.col("r") == 0, F.lit(1)).otherwise(F.lit(0)))
        .alias("occ"),
        F.min(F.when(F.col("r") > 0, F.col("r"))).alias("nn"),
    )
    # n_empty = 4^zoom − occupied-row count (one row per occupied cell
    # by contract) — count the INPUT, never materialize the grid
    n_row = tiles.agg(
        (F.lit(n).cast("long") * F.lit(n) - F.count(F.lit(1)))
        .alias("n_empty")
    )
    hist = (
        g.filter((F.col("occ") == 0) & F.col("nn").isNotNull())
        .groupBy(F.col("nn").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(n_row))
        .selectExpr(
            "CAST(k AS BIGINT) AS k",
            "CAST(cnt AS BIGINT) AS n_at_k",
            "CAST(cum AS BIGINT) AS n_within_k",
            "CAST((cum * 1000000) div n_empty AS BIGINT) AS f_mil",
        )
    )


def f_function_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`f_function` (int-div ``//``)."""
    n = 1 << zoom
    vals = ["(0, 0, 0)"]
    for k in range(1, _F_FUNCTION_MAX_RING + 1):
        vals += [f"({k}, {dx}, {dy})" for dx, dy in _ring_offsets(k)]
    return f"""WITH ff_t AS ({tiles_cte}),
ff_v AS (SELECT t.tile_x + o.dx AS kx, t.tile_y + o.dy AS ky, o.r
         FROM ff_t t, (VALUES {", ".join(vals)}) o(r, dx, dy)
         WHERE t.tile_x + o.dx BETWEEN 0 AND {n - 1}
           AND t.tile_y + o.dy BETWEEN 0 AND {n - 1}),
ff_g AS (SELECT kx, ky,
                MAX(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS occ,
                MIN(CASE WHEN r > 0 THEN r END) AS nn
         FROM ff_v GROUP BY 1, 2),
ff_n AS (SELECT CAST({n}::HUGEINT * {n} AS HUGEINT) - COUNT(*) AS n_empty
         FROM ff_t),
ff_h AS (SELECT nn AS k, COUNT(*) AS cnt
         FROM ff_g WHERE occ = 0 AND nn IS NOT NULL GROUP BY 1),
ff_c AS (SELECT k, cnt,
                SUM(cnt) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
         FROM ff_h)
SELECT CAST(k AS BIGINT) AS k,
       CAST(cnt AS BIGINT) AS n_at_k,
       CAST(cum AS BIGINT) AS n_within_k,
       CAST((cum * 1000000) // n_empty AS BIGINT) AS f_mil
FROM ff_c, ff_n"""


_J_FUNCTION_MAX_RING = 3


def j_function(tiles: DataFrame, zoom: int) -> DataFrame:
    """Van Lieshout & Baddeley's J function — ``J(k) = (1 − G(k)) /
    (1 − F(k))``, the single-number CSR diagnostic combining the
    nearest-neighbor CDF (:func:`g_function`) and the empty-space CDF
    (:func:`f_function`): J < 1 clustered, J ≈ 1 CSR, J > 1 regular.
    One row per Chebyshev distance ``k = 1..3``:
    ``(k, g_cum, f_cum, g_mil, f_mil, j_mil)`` with every distance in
    the spine present (zero-event distances carry the cumulative
    forward).  FULLY exact: both CDFs are exact mil floordivs and
    ``j_mil = (10^6 − g_mil)·10^6 div (10^6 − f_mil)``, NULL when
    ``f_mil = 10^6`` (no empty space beyond k — J undefined).

    Scale design: ONE ring-vote explode + ONE ``(kx, ky)`` min-ring
    aggregate serves both CDFs (occupied rows feed G, empty rows feed
    F), folded to a ≤ 6-row histogram; the k spine, the
    two running sums and the final projection are all
    3-ring-bounded.  ``n_empty = 4^zoom − n_cells`` stays
    closed-form — the grid never materializes.
    """
    n = 1 << zoom
    entries = [F.struct(F.lit(0).alias("r"), F.lit(0).alias("dx"),
                        F.lit(0).alias("dy"))]
    for k in range(1, _J_FUNCTION_MAX_RING + 1):
        entries += [
            F.struct(F.lit(k).alias("r"), F.lit(dx).alias("dx"),
                     F.lit(dy).alias("dy"))
            for dx, dy in _ring_offsets(k)
        ]
    votes = tiles.select(
        F.col("tile_x").cast("long").alias("_sx"),
        F.col("tile_y").cast("long").alias("_sy"),
        F.explode(F.array(*entries)).alias("off"),
    ).select(
        (F.col("_sx") + F.col("off.dx")).alias("kx"),
        (F.col("_sy") + F.col("off.dy")).alias("ky"),
        F.col("off.r").alias("r"),
    ).filter(
        (F.col("kx") >= 0) & (F.col("kx") < n)
        & (F.col("ky") >= 0) & (F.col("ky") < n)
    )
    cells = votes.groupBy("kx", "ky").agg(
        F.max(F.when(F.col("r") == 0, F.lit(1)).otherwise(F.lit(0)))
        .alias("occ"),
        F.min(F.when(F.col("r") > 0, F.col("r"))).alias("nn"),
    )
    hist = (
        cells.filter(F.col("nn").isNotNull())
        .groupBy("occ", F.col("nn").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    denom = tiles.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.lit(n).cast("long") * F.lit(n) - F.count(F.lit(1)))
        .alias("n_empty"),
    )
    spine = tiles.sparkSession.range(1, _J_FUNCTION_MAX_RING + 1).select(
        F.col("id").alias("k")
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    joined = (
        spine.join(
            F.broadcast(
                hist.groupBy("k").agg(
                    F.sum(F.when(F.col("occ") == 1, F.col("cnt"))
                          .otherwise(F.lit(0))).alias("g_at"),
                    F.sum(F.when(F.col("occ") == 0, F.col("cnt"))
                          .otherwise(F.lit(0))).alias("f_at"),
                )
            ),
            "k", "left",
        )
        .withColumn("g_cum",
                    F.sum(F.coalesce("g_at", F.lit(0))).over(w))
        .withColumn("f_cum",
                    F.sum(F.coalesce("f_at", F.lit(0))).over(w))
        .crossJoin(F.broadcast(denom))
    )
    return joined.selectExpr(
        "CAST(k AS BIGINT) AS k",
        "CAST(g_cum AS BIGINT) AS g_cum",
        "CAST(f_cum AS BIGINT) AS f_cum",
        "CAST((g_cum * 1000000) div n_cells AS BIGINT) AS g_mil",
        "CAST((f_cum * 1000000) div n_empty AS BIGINT) AS f_mil",
        "CAST(CASE WHEN (f_cum * 1000000) div n_empty = 1000000 THEN NULL"
        " ELSE ((1000000 - (g_cum * 1000000) div n_cells) * 1000000)"
        " div (1000000 - (f_cum * 1000000) div n_empty) END AS BIGINT)"
        " AS j_mil",
    )


def j_function_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`j_function` (int-div ``//``)."""
    n = 1 << zoom
    vals = ["(0, 0, 0)"]
    for k in range(1, _J_FUNCTION_MAX_RING + 1):
        vals += [f"({k}, {dx}, {dy})" for dx, dy in _ring_offsets(k)]
    spine = ", ".join(f"({k})" for k in range(1, _J_FUNCTION_MAX_RING + 1))
    return f"""WITH jf_t AS ({tiles_cte}),
jf_v AS (SELECT t.tile_x + o.dx AS kx, t.tile_y + o.dy AS ky, o.r
         FROM jf_t t, (VALUES {", ".join(vals)}) o(r, dx, dy)
         WHERE t.tile_x + o.dx BETWEEN 0 AND {n - 1}
           AND t.tile_y + o.dy BETWEEN 0 AND {n - 1}),
jf_c AS (SELECT kx, ky,
                MAX(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS occ,
                MIN(CASE WHEN r > 0 THEN r END) AS nn
         FROM jf_v GROUP BY 1, 2),
jf_h AS (SELECT nn AS k,
                SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS g_at,
                SUM(CASE WHEN occ = 0 THEN 1 ELSE 0 END) AS f_at
         FROM jf_c WHERE nn IS NOT NULL GROUP BY 1),
jf_d AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n_cells,
                CAST({n}::HUGEINT * {n} AS HUGEINT) - COUNT(*) AS n_empty
         FROM jf_t),
jf_s AS (SELECT s.k,
                SUM(COALESCE(h.g_at, 0)) OVER (ORDER BY s.k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS g_cum,
                SUM(COALESCE(h.f_at, 0)) OVER (ORDER BY s.k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS f_cum
         FROM (VALUES {spine}) s(k) LEFT JOIN jf_h h ON h.k = s.k)
SELECT CAST(k AS BIGINT) AS k,
       CAST(g_cum AS BIGINT) AS g_cum,
       CAST(f_cum AS BIGINT) AS f_cum,
       CAST((g_cum * 1000000) // n_cells AS BIGINT) AS g_mil,
       CAST((f_cum * 1000000) // n_empty AS BIGINT) AS f_mil,
       CAST(CASE WHEN (f_cum * 1000000) // n_empty = 1000000 THEN NULL
            ELSE ((1000000 - (g_cum * 1000000) // n_cells) * 1000000)
                 // (1000000 - (f_cum * 1000000) // n_empty) END
            AS BIGINT) AS j_mil
FROM jf_s, jf_d"""


def _ring_w_total(n: int, k: int) -> int:
    """Closed-form total queen weight at Chebyshev lag exactly ``k`` on
    an n×n grid: ordered pairs = Σ_{(dx,dy)∈ring k} (n−|dx|)·(n−|dy|).
    Driver-side exact integer over the 8k ring offsets."""
    return sum(
        (n - abs(dx)) * (n - abs(dy)) for dx, dy in _ring_offsets(k)
    )


_CORRELOGRAM_MAX_LAG = 3


def correlogram(tiles: DataFrame, zoom: int) -> DataFrame:
    """Moran spatial correlogram — global Moran's I at Chebyshev lag
    EXACTLY ``k`` for ``k = 1..3`` (binary ring-k weights over
    the full ``4^zoom`` grid, absent cells value 0): the
    autocorrelation-range diagnostic (how fast I(k) decays gives the
    cluster scale; :func:`morans_i` is the k = 1 row).  One row per
    lag ``(k, w_total, s, q, c, b, i_mil)`` under the
    :func:`morans_i` exact-integer contract per lag::

        I(k) = (C_k·N² − 2·S·B_k·N + S²·W_k) / (W_k · (Q·N − S²))

    with ``C_k = Σ xᵢ·ringsumᵢ(k)``, ``B_k = Σ xᵢ·Wᵢ(k)`` (``Wᵢ(k)``
    the in-bounds ring-k count, closed form: box(k) minus box(k−1)
    in-bounds widths), ``W_k`` the closed-form grid total
    (:func:`_ring_w_total`), sign-split trunc-division mil, same
    38-digit envelope as :func:`morans_i`.  Lags with no co-occupied
    pair emit ``c = 0`` (the spine keeps every lag present).

    Scale design: ONE ring-vote explode over ALL lags (the
    :func:`nn_index` 8k-offset battery), one ``(pos, lag)`` vote fold,
    one tile-bounded equi-join of present cells to their vote rows,
    one per-lag fold; S/Q/B_k come from ONE base fold broadcast back.
    The input never shuffles twice; nothing is O(grid).
    """
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    d = "decimal(38,0)"
    base = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_x"),
    )
    entries = []
    for k in range(1, _CORRELOGRAM_MAX_LAG + 1):
        entries += [
            F.struct(F.lit(k).alias("k"), F.lit(dx).alias("dx"),
                     F.lit(dy).alias("dy"))
            for dx, dy in _ring_offsets(k)
        ]
    votes = (
        base.select(
            "_x", "tile_x", "tile_y",
            F.explode(F.array(*entries)).alias("off"),
        )
        .select(
            F.col("_x").alias("_v"),
            (F.col("tile_x") + F.col("off.dx")).alias("vx"),
            (F.col("tile_y") + F.col("off.dy")).alias("vy"),
            F.col("off.k").alias("k"),
        )
        .filter(
            (F.col("vx") >= 0) & (F.col("vx") < n_side)
            & (F.col("vy") >= 0) & (F.col("vy") < n_side)
        )
        .groupBy("vx", "vy", "k")
        .agg(F.sum(F.col("_v").cast(d)).alias("ringsum"))
    )
    c_rows = (
        base.join(
            votes,
            (base.tile_x == votes.vx) & (base.tile_y == votes.vy),
        )
        .groupBy("k")
        .agg(F.sum(F.col("_x").cast(d) * F.col("ringsum")).alias("c"))
    )

    def _width(coord: str, m: int):
        if m == 0:
            return F.lit(1)
        return (
            F.least(F.col(coord), F.lit(m))
            + F.least(F.lit(n_side - 1) - F.col(coord), F.lit(m))
            + F.lit(1)
        )

    b_cols = []
    for k in range(1, _CORRELOGRAM_MAX_LAG + 1):
        w_i = (
            _width("tile_x", k) * _width("tile_y", k)
            - _width("tile_x", k - 1) * _width("tile_y", k - 1)
        )
        b_cols.append(
            F.sum(F.col("_x").cast(d) * w_i.cast("long"))
            .alias(f"b_{k}")
        )
    sq_row = base.agg(
        F.sum(F.col("_x").cast(d)).alias("s"),
        F.sum(F.col("_x").cast(d) * F.col("_x")).alias("q"),
        *b_cols,
    )
    spine = tiles.sparkSession.range(1, _CORRELOGRAM_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("k")
    )
    b_case = "CASE " + " ".join(
        f"WHEN k = {k} THEN b_{k}" for k in range(1, _CORRELOGRAM_MAX_LAG + 1)
    ) + " END"
    w_case = "CASE " + " ".join(
        f"WHEN k = {k} THEN CAST({_ring_w_total(n_side, k)}"
        " AS decimal(38,0))"
        for k in range(1, _CORRELOGRAM_MAX_LAG + 1)
    ) + " END"
    joined = (
        spine.join(F.broadcast(c_rows), "k", "left")
        .crossJoin(F.broadcast(sq_row))
        .selectExpr(
            "k",
            f"{w_case} AS w_total",
            "s", "q",
            "CAST(COALESCE(c, 0) AS decimal(38,0)) AS c",
            f"CAST({b_case} AS decimal(38,0)) AS b",
        )
        .selectExpr(
            "k", "w_total", "s", "q", "c", "b",
            f"(c * {n_grid} * {n_grid} - 2 * s * b * {n_grid}"
            " + s * s * w_total) AS _num",
            f"(w_total * (q * {n_grid} - s * s)) AS _den",
        )
    )
    return joined.selectExpr(
        "CAST(k AS INT) AS k",
        "CAST(w_total AS BIGINT) AS w_total",
        "CAST(s AS BIGINT) AS s",
        "CAST(q AS BIGINT) AS q",
        "CAST(c AS BIGINT) AS c",
        "CAST(b AS BIGINT) AS b",
        "CASE WHEN _den = 0 THEN CAST(NULL AS BIGINT)"
        " WHEN _num <= 0 THEN CAST(-((-_num * 1000) div _den) AS BIGINT)"
        " ELSE CAST((_num * 1000) div _den AS BIGINT) END AS i_mil",
    )


def correlogram_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`correlogram` (int-div ``//``; identical
    sign-split and closed forms)."""
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    vals = []
    for k in range(1, _CORRELOGRAM_MAX_LAG + 1):
        vals += [f"({k}, {dx}, {dy})" for dx, dy in _ring_offsets(k)]
    spine = ", ".join(f"({k})" for k in range(1, _CORRELOGRAM_MAX_LAG + 1))

    def width(coord: str, m: int) -> str:
        if m == 0:
            return "1"
        return (f"(LEAST({coord}, {m})"
                f" + LEAST({n_side - 1} - {coord}, {m}) + 1)")

    b_exprs = ", ".join(
        f"SUM(CAST(_x AS HUGEINT) * ({width('tile_x', k)}"
        f" * {width('tile_y', k)} - {width('tile_x', k - 1)}"
        f" * {width('tile_y', k - 1)})) AS b_{k}"
        for k in range(1, _CORRELOGRAM_MAX_LAG + 1)
    )
    b_case = "CASE " + " ".join(
        f"WHEN s.k = {k} THEN m.b_{k}" for k in range(1, _CORRELOGRAM_MAX_LAG + 1)
    ) + " END"
    w_case = "CASE " + " ".join(
        f"WHEN s.k = {k} THEN CAST({_ring_w_total(n_side, k)} AS HUGEINT)"
        for k in range(1, _CORRELOGRAM_MAX_LAG + 1)
    ) + " END"
    return f"""WITH cg_t AS ({base_cte}),
cg_b AS (SELECT CAST(tile_x AS BIGINT) AS tile_x,
                CAST(tile_y AS BIGINT) AS tile_y,
                CAST(page_count AS BIGINT) AS _x
         FROM cg_t),
cg_v AS (SELECT b.tile_x + o.dx AS vx, b.tile_y + o.dy AS vy, o.k,
                SUM(CAST(b._x AS HUGEINT)) AS ringsum
         FROM cg_b b, (VALUES {", ".join(vals)}) o(k, dx, dy)
         WHERE b.tile_x + o.dx BETWEEN 0 AND {n_side - 1}
           AND b.tile_y + o.dy BETWEEN 0 AND {n_side - 1}
         GROUP BY 1, 2, 3),
cg_c AS (SELECT v.k, SUM(CAST(b._x AS HUGEINT) * v.ringsum) AS c
         FROM cg_b b JOIN cg_v v ON v.vx = b.tile_x AND v.vy = b.tile_y
         GROUP BY 1),
cg_m AS (SELECT SUM(CAST(_x AS HUGEINT)) AS s,
                SUM(CAST(_x AS HUGEINT) * _x) AS q,
                {b_exprs}
         FROM cg_b),
cg_j AS (SELECT s.k,
                {w_case} AS w_total,
                m.s, m.q,
                CAST(COALESCE(c.c, 0) AS HUGEINT) AS c,
                CAST({b_case} AS HUGEINT) AS b
         FROM (VALUES {spine}) s(k)
         LEFT JOIN cg_c c ON c.k = s.k, cg_m m),
cg_f AS (SELECT *,
                (c * {n_grid}::HUGEINT * {n_grid} - 2 * s * b * {n_grid}
                 + s * s * w_total) AS _num,
                (w_total * (q * {n_grid} - s * s)) AS _den
         FROM cg_j)
SELECT CAST(k AS INT) AS k,
       CAST(w_total AS BIGINT) AS w_total,
       CAST(s AS BIGINT) AS s,
       CAST(q AS BIGINT) AS q,
       CAST(c AS BIGINT) AS c,
       CAST(b AS BIGINT) AS b,
       CASE WHEN _den = 0 THEN CAST(NULL AS BIGINT)
            WHEN _num <= 0 THEN CAST(-((-_num * 1000) // _den) AS BIGINT)
            ELSE CAST((_num * 1000) // _den AS BIGINT) END AS i_mil
FROM cg_f"""


_EMERGING_HOTSPOTS_MIN_BUCKETS = 3
_EMERGING_HOTSPOTS_TOP_K = 50


def emerging_hotspots(pts: DataFrame, bucket_sec: int = 3600) -> DataFrame:
    """Emerging/declining hot spots — the space-time-cube trend scan:
    per occupied cell, the EXACT Mann-Kendall S statistic of its
    page-count series over the cell's OBSERVED time buckets (pairs
    ``i < j`` by bucket, ``S = Σ sign(cnt_j − cnt_i)``; absent buckets
    are not imputed — the trend is over the cell's active periods,
    documented contract).  Cells with ≥ 3 observed
    buckets rank by ``(|S| desc, S desc, tile_x, tile_y)`` — a strict
    total order — cut to 50; ``trend`` is the sign label.
    FULLY exact integer.

    Scale design: corpus folds ONCE to ``(cell, bucket, cnt)``
    (map-side combinable); the pair expansion is a per-cell
    ``collect_list`` + double-explode bounded by the observed-bucket
    count per cell (≤ the series length, never the corpus); top-k is
    a distributed TakeOrdered.  No self-join, no Python.
    """
    cb = pts.groupBy(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.floor(F.col("ts_sec").cast("long") / F.lit(int(bucket_sec)))
        .cast("long").alias("bkt"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cells = cb.groupBy("tile_x", "tile_y").agg(
        F.collect_list(F.struct("bkt", "cnt")).alias("series"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    ).filter(F.col("n_buckets") >= _EMERGING_HOTSPOTS_MIN_BUCKETS)
    pairs = (
        cells.select(
            "tile_x", "tile_y", "n_buckets",
            F.explode("series").alias("a"), F.col("series"),
        )
        .select(
            "tile_x", "tile_y", "n_buckets", F.col("a"),
            F.explode("series").alias("b"),
        )
        .filter(F.col("a.bkt") < F.col("b.bkt"))
        .select(
            "tile_x", "tile_y", "n_buckets",
            F.signum(
                (F.col("b.cnt") - F.col("a.cnt")).cast("double")
            ).cast("long").alias("sgn"),
        )
    )
    out = (
        pairs.groupBy("tile_x", "tile_y")
        .agg(
            F.first("n_buckets").alias("n_buckets"),
            F.sum("sgn").cast("long").alias("s_stat"),
        )
        .selectExpr(
            "CAST(tile_x AS BIGINT) AS tile_x",
            "CAST(tile_y AS BIGINT) AS tile_y",
            "CAST(n_buckets AS BIGINT) AS n_buckets",
            "CAST(s_stat AS BIGINT) AS s_stat",
            "CASE WHEN s_stat > 0 THEN 'rising'"
            " WHEN s_stat < 0 THEN 'falling'"
            " ELSE 'flat' END AS trend",
        )
    )
    return out.orderBy(
        F.abs(F.col("s_stat")).desc(), F.col("s_stat").desc(),
        F.col("tile_x").asc(), F.col("tile_y").asc(),
    ).limit(_EMERGING_HOTSPOTS_TOP_K)


def emerging_hotspots_sql(pts_cte: str, bucket_sec: int = 3600) -> str:
    """DuckDB twin of :func:`emerging_hotspots` — within-cell pair
    self-join over observed buckets (int-div ``//``)."""
    return f"""WITH eh_p AS ({pts_cte}),
eh_c AS (SELECT tile_x, tile_y,
                CAST(ts_sec AS BIGINT) // {int(bucket_sec)} AS bkt,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM eh_p GROUP BY 1, 2, 3),
eh_n AS (SELECT tile_x, tile_y, CAST(COUNT(*) AS BIGINT) AS n_buckets
         FROM eh_c GROUP BY 1, 2
         HAVING COUNT(*) >= {_EMERGING_HOTSPOTS_MIN_BUCKETS}),
eh_s AS (SELECT a.tile_x, a.tile_y,
                CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
                              WHEN b.cnt < a.cnt THEN -1
                              ELSE 0 END) AS BIGINT) AS s_stat
         FROM eh_c a JOIN eh_c b
           ON a.tile_x = b.tile_x AND a.tile_y = b.tile_y
          AND a.bkt < b.bkt
         GROUP BY 1, 2)
SELECT CAST(n.tile_x AS BIGINT) AS tile_x,
       CAST(n.tile_y AS BIGINT) AS tile_y,
       n.n_buckets,
       s.s_stat,
       CASE WHEN s.s_stat > 0 THEN 'rising'
            WHEN s.s_stat < 0 THEN 'falling'
            ELSE 'flat' END AS trend
FROM eh_n n JOIN eh_s s
  ON s.tile_x = n.tile_x AND s.tile_y = n.tile_y
ORDER BY ABS(s.s_stat) DESC, s.s_stat DESC, n.tile_x ASC, n.tile_y ASC
LIMIT {_EMERGING_HOTSPOTS_TOP_K}"""


def rank_size(tiles: DataFrame, top_k: int = 50) -> DataFrame:
    """Rank-size rule over the density surface — the Zipf's-law-for-
    cities diagnostic applied to crawl cells: the ``top_k`` cells by
    page count with their rank, the Zipf product ``rank·count``
    (constant under a perfect rank-size rule), and the exact share of
    the top cell ``ratio_mil = cnt·10^6 div top_cnt``.  Strict total
    order ``(count desc, tile_x, tile_y)``; FULLY exact integer.

    Scale design: the top-k is a distributed TakeOrdered over the
    grid-bounded cell table; rank + top-share come from a window over
    the ≤ ``top_k``-row result (bounded, single partition by
    construction).  No join, no Python.
    """
    top = (
        tiles.select(
            F.col("tile_x").cast("long").alias("tile_x"),
            F.col("tile_y").cast("long").alias("tile_y"),
            F.col("page_count").cast("long").alias("cnt"),
        )
        .orderBy(
            F.col("cnt").desc(), F.col("tile_x").asc(),
            F.col("tile_y").asc(),
        )
        .limit(int(top_k))
    )
    w = Window.orderBy(
        F.col("cnt").desc(), F.col("tile_x").asc(), F.col("tile_y").asc()
    )
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumn("top_cnt", F.max("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ))
        .selectExpr(
            "CAST(rank AS BIGINT) AS rank",
            "CAST(tile_x AS BIGINT) AS tile_x",
            "CAST(tile_y AS BIGINT) AS tile_y",
            "CAST(cnt AS BIGINT) AS cnt",
            "CAST(rank * cnt AS BIGINT) AS zipf_product",
            "CAST((cnt * 1000000) div top_cnt AS BIGINT) AS ratio_mil",
        )
    )


def rank_size_sql(tiles_cte: str) -> str:
    """DuckDB twin of :func:`rank_size` (int-div ``//``)."""
    return f"""WITH rs_t AS ({tiles_cte}),
rs_k AS (SELECT CAST(tile_x AS BIGINT) AS tile_x,
                CAST(tile_y AS BIGINT) AS tile_y,
                CAST(page_count AS BIGINT) AS cnt
         FROM rs_t
         ORDER BY cnt DESC, tile_x ASC, tile_y ASC
         LIMIT 50),
rs_r AS (SELECT *,
                ROW_NUMBER() OVER (ORDER BY cnt DESC, tile_x ASC,
                                   tile_y ASC) AS rank,
                MAX(cnt) OVER () AS top_cnt
         FROM rs_k)
SELECT CAST(rank AS BIGINT) AS rank,
       tile_x, tile_y, cnt,
       CAST(rank * cnt AS BIGINT) AS zipf_product,
       CAST((cnt * 1000000) // top_cnt AS BIGINT) AS ratio_mil
FROM rs_r"""


_COLOCATION_QUOTIENT_MAX_RING = 3


def colocation_quotient(cells: DataFrame, zoom: int) -> DataFrame:
    """Leslie–Kronenfeld colocation quotient (CLQ) between every
    ordered label pair over the occupied-cell pattern — ``CLQ_{a→b} =
    (C_{a→b}/N_a) / (N_b'/(N−1))`` where ``C_{a→b}`` sums, over
    ``a``-cells, the fraction of the cell's NEAREST occupied
    neighbors that carry ``b`` (``N_b' = N_b``, or ``N_a − 1`` on the
    diagonal — a cell is never its own neighbor): > 1 means ``b``
    colocates around ``a`` beyond chance.  The cross-type complement
    of the univariate G/F/J battery.  One row per ordered pair
    ``(lang_a, lang_b, n_a, n_b, s_nano, clq_mil)``.

    Exactness contract: the NN set is the cells at the MINIMAL
    Chebyshev ring ≤ 3 (ALL ties included; cells with no
    occupied neighbor within the bound contribute nothing — the
    bounded-ring contract of :func:`g_function`); each cell's
    fraction is the exact floordiv ``(cnt_b·10^9) div |NN|``, and
    ``clq_mil = (S_nano·(N−1)·10^6) div (N_a·N_b'·10^9)`` — exact
    integers end to end.

    Scale design: ONE ring-vote explode (8k offsets), one grid-
    bounded equi-join of vote positions to occupied cells, one
    ``(cell, ring, label)`` fold, a min-ring window REUSING that
    fold's cell partitioning, one pair fold; label totals broadcast.
    Nothing is O(grid²); no Python.
    """
    n_side = 2 ** zoom
    d = "decimal(38,0)"
    base = cells.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("lang").alias("_l"),
    )
    entries = []
    for k in range(1, _COLOCATION_QUOTIENT_MAX_RING + 1):
        entries += [
            F.struct(F.lit(k).alias("k"), F.lit(dx).alias("dx"),
                     F.lit(dy).alias("dy"))
            for dx, dy in _ring_offsets(k)
        ]
    votes = (
        base.select(
            F.col("tile_x").alias("sx"), F.col("tile_y").alias("sy"),
            F.col("_l").alias("sl"),
            F.explode(F.array(*entries)).alias("off"),
        )
        .select(
            "sx", "sy", "sl",
            (F.col("sx") + F.col("off.dx")).alias("vx"),
            (F.col("sy") + F.col("off.dy")).alias("vy"),
            F.col("off.k").alias("k"),
        )
        .filter(
            (F.col("vx") >= 0) & (F.col("vx") < n_side)
            & (F.col("vy") >= 0) & (F.col("vy") < n_side)
        )
    )
    nbr = base.select(
        F.col("tile_x").alias("vx"), F.col("tile_y").alias("vy"),
        F.col("_l").alias("nl"),
    )
    hits = (
        votes.join(nbr, ["vx", "vy"])
        .groupBy("sx", "sy", "sl", "k", "nl")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wc = Window.partitionBy("sx", "sy")
    at_min = (
        hits.withColumn("kmin", F.min("k").over(wc))
        .filter(F.col("k") == F.col("kmin"))
        .withColumn("nn_total", F.sum("cnt").over(wc))
    )
    s_rows = (
        at_min.selectExpr(
            "sl AS lang_a", "nl AS lang_b",
            f"(CAST(cnt AS {d}) * 1000000000) div nn_total AS nano",
        )
        .groupBy("lang_a", "lang_b")
        .agg(F.sum("nano").alias("s_nano"))
    )
    lt = base.groupBy(F.col("_l")).agg(
        F.count(F.lit(1)).cast("long").alias("n_l")
    )
    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    la = lt.select(F.col("_l").alias("lang_a"), F.col("n_l").alias("n_a"))
    lb = lt.select(F.col("_l").alias("lang_b"), F.col("n_l").alias("n_b"))
    return (
        s_rows.join(F.broadcast(la), "lang_a")
        .join(F.broadcast(lb), "lang_b")
        .crossJoin(F.broadcast(n_row))
        .selectExpr(
            "lang_a", "lang_b",
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(n_b AS BIGINT) AS n_b",
            "CAST(s_nano AS BIGINT) AS s_nano",
            "CASE WHEN (CASE WHEN lang_a = lang_b THEN n_a - 1"
            " ELSE n_b END) = 0 THEN CAST(NULL AS BIGINT)"
            f" ELSE CAST((CAST(s_nano AS {d}) * (n_all - 1) * 1000000)"
            f" div (CAST(n_a AS {d}) *"
            " (CASE WHEN lang_a = lang_b THEN n_a - 1 ELSE n_b END)"
            " * 1000000000) AS BIGINT) END AS clq_mil",
        )
    )


def colocation_quotient_sql(cells_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`colocation_quotient` (int-div ``//``)."""
    n_side = 2 ** zoom
    vals = []
    for k in range(1, _COLOCATION_QUOTIENT_MAX_RING + 1):
        vals += [f"({k}, {dx}, {dy})" for dx, dy in _ring_offsets(k)]
    return f"""WITH cq_t AS ({cells_cte}),
cq_b AS (SELECT CAST(tile_x AS BIGINT) AS tile_x,
                CAST(tile_y AS BIGINT) AS tile_y,
                lang AS l
         FROM cq_t),
cq_v AS (SELECT b.tile_x AS sx, b.tile_y AS sy, b.l AS sl,
                b.tile_x + o.dx AS vx, b.tile_y + o.dy AS vy, o.k
         FROM cq_b b, (VALUES {", ".join(vals)}) o(k, dx, dy)
         WHERE b.tile_x + o.dx BETWEEN 0 AND {n_side - 1}
           AND b.tile_y + o.dy BETWEEN 0 AND {n_side - 1}),
cq_h AS (SELECT v.sx, v.sy, v.sl, v.k, n.l AS nl,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM cq_v v JOIN cq_b n
           ON n.tile_x = v.vx AND n.tile_y = v.vy
         GROUP BY 1, 2, 3, 4, 5),
cq_m AS (SELECT *, MIN(k) OVER (PARTITION BY sx, sy) AS kmin
         FROM cq_h),
cq_f AS (SELECT sx, sy, sl, nl, cnt,
                SUM(cnt) OVER (PARTITION BY sx, sy) AS nn_total
         FROM cq_m WHERE k = kmin),
cq_s AS (SELECT sl AS lang_a, nl AS lang_b,
                CAST(SUM((CAST(cnt AS HUGEINT) * 1000000000)
                     // nn_total) AS HUGEINT) AS s_nano
         FROM cq_f GROUP BY 1, 2),
cq_l AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS n_l FROM cq_b GROUP BY 1),
cq_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM cq_b)
SELECT s.lang_a, s.lang_b,
       CAST(a.n_l AS BIGINT) AS n_a,
       CAST(b.n_l AS BIGINT) AS n_b,
       CAST(s.s_nano AS BIGINT) AS s_nano,
       CASE WHEN (CASE WHEN s.lang_a = s.lang_b THEN a.n_l - 1
                  ELSE b.n_l END) = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((s.s_nano * (n.n_all - 1) * 1000000)
                 // (CAST(a.n_l AS HUGEINT) *
                     (CASE WHEN s.lang_a = s.lang_b THEN a.n_l - 1
                      ELSE b.n_l END) * 1000000000) AS BIGINT)
       END AS clq_mil
FROM cq_s s
JOIN cq_l a ON a.l = s.lang_a
JOIN cq_l b ON b.l = s.lang_b, cq_n n"""


def cross_moran(tiles: DataFrame, zoom: int) -> DataFrame:
    """Bivariate (cross) Moran's I between two density surfaces over
    the full ``4^zoom`` grid with binary queen weights — does variable
    X cluster where variable Y's NEIGHBORHOOD is high (e.g. one
    language's pages around another's)?  One row ``(n_grid, w_total,
    s_x, s_y, q_x, q_y, c_xy, b_x, b_y, i_mil)``.

    Contract: all moments are EXACT integers (absent cells 0; ``C_xy =
    Σᵢ xᵢ·ringsum_y(i)``, ``B_x = Σ xᵢ·Wᵢ`` with the closed-form
    in-bounds queen count ``Wᵢ``, ``W`` the :func:`morans_i` grid
    total); the standardized index::

        I = (C·N² − N·(Sx·By + Sy·Bx) + Sx·Sy·W)
            / (W · sqrt((Qx·N − Sx²)·(Qy·N − Sy²)))

    is the ONE pinned double per row (int→double casts, ·, sqrt, ÷
    all IEEE-correctly-rounded through one fixed tree), NULL when
    either variance term is 0.

    Scale design: one ring-1 vote explode of the Y surface, one vote
    fold, one grid-bounded left join onto the X cells, one 1-row
    combine; moments from ONE base fold.  No Python, nothing O(grid).
    """
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    w_total = 4 * (n_side - 1) * (2 * n_side - 1)
    d = "decimal(38,0)"
    base = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("x_count").cast("long").alias("_x"),
        F.col("y_count").cast("long").alias("_y"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    votes = (
        base.filter(F.col("_y") != 0)
        .select(
            "_y", "tile_x", "tile_y",
            F.explode(F.array(*[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in offs
            ])).alias("off"),
        )
        .select(
            F.col("_y").alias("_v"),
            (F.col("tile_x") + F.col("off.dx")).alias("vx"),
            (F.col("tile_y") + F.col("off.dy")).alias("vy"),
        )
        .filter(
            (F.col("vx") >= 0) & (F.col("vx") < n_side)
            & (F.col("vy") >= 0) & (F.col("vy") < n_side)
        )
        .groupBy("vx", "vy")
        .agg(F.sum(F.col("_v").cast(d)).alias("ysum"))
    )
    edge = F.lit(n_side - 1)
    w_i = (
        (F.lit(1) + F.least(F.col("tile_x"), F.lit(1))
         + F.least(edge - F.col("tile_x"), F.lit(1)))
        * (F.lit(1) + F.least(F.col("tile_y"), F.lit(1))
           + F.least(edge - F.col("tile_y"), F.lit(1)))
        - F.lit(1)
    )
    joined = (
        base.join(
            votes,
            (base.tile_x == votes.vx) & (base.tile_y == votes.vy),
            "left",
        )
        .select(
            "_x", "_y",
            F.coalesce(F.col("ysum"), F.lit(0)).cast(d).alias("ysum"),
            w_i.cast("long").alias("w_i"),
        )
    )
    agg = joined.agg(
        F.sum(F.col("_x").cast(d)).alias("s_x"),
        F.sum(F.col("_y").cast(d)).alias("s_y"),
        F.sum(F.col("_x").cast(d) * F.col("_x")).alias("q_x"),
        F.sum(F.col("_y").cast(d) * F.col("_y")).alias("q_y"),
        F.sum(F.col("_x").cast(d) * F.col("ysum")).alias("c_xy"),
        F.sum(F.col("_x").cast(d) * F.col("w_i")).alias("b_x"),
        F.sum(F.col("_y").cast(d) * F.col("w_i")).alias("b_y"),
    )
    num = (
        f"(c_xy * {n_grid} * {n_grid}"
        f" - {n_grid} * (s_x * b_y + s_y * b_x)"
        f" + s_x * s_y * {w_total})"
    )
    d1 = f"(q_x * {n_grid} - s_x * s_x)"
    d2 = f"(q_y * {n_grid} - s_y * s_y)"
    return agg.selectExpr(
        f"CAST({n_grid} AS BIGINT) AS n_grid",
        f"CAST({w_total} AS BIGINT) AS w_total",
        "CAST(s_x AS BIGINT) AS s_x",
        "CAST(s_y AS BIGINT) AS s_y",
        "CAST(q_x AS BIGINT) AS q_x",
        "CAST(q_y AS BIGINT) AS q_y",
        "CAST(c_xy AS BIGINT) AS c_xy",
        "CAST(b_x AS BIGINT) AS b_x",
        "CAST(b_y AS BIGINT) AS b_y",
        f"CASE WHEN {d1} = 0 OR {d2} = 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST(floor(CAST({num} AS DOUBLE)"
        f" / (CAST({w_total} AS DOUBLE)"
        f" * sqrt(CAST({d1} AS DOUBLE) * CAST({d2} AS DOUBLE)))"
        " * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS i_mil",
    )


def cross_moran_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`cross_moran` — ``base_cte`` exposes
    ``(tile_x, tile_y, x_count, y_count)``; identical pinned tree."""
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    w_total = 4 * (n_side - 1) * (2 * n_side - 1)
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    w_i = (
        "((1 + LEAST(tile_x, 1) + LEAST({e} - tile_x, 1))"
        " * (1 + LEAST(tile_y, 1) + LEAST({e} - tile_y, 1)) - 1)"
    ).format(e=n_side - 1)
    num = (
        f"(c_xy * {n_grid}::HUGEINT * {n_grid}"
        f" - {n_grid} * (s_x * b_y + s_y * b_x)"
        f" + s_x * s_y * {w_total})"
    )
    d1 = f"(q_x * {n_grid} - s_x * s_x)"
    d2 = f"(q_y * {n_grid} - s_y * s_y)"
    return f"""WITH xm_t AS ({base_cte}),
xm_b AS (SELECT CAST(tile_x AS BIGINT) AS tile_x,
                CAST(tile_y AS BIGINT) AS tile_y,
                CAST(x_count AS BIGINT) AS _x,
                CAST(y_count AS BIGINT) AS _y
         FROM xm_t),
xm_v AS (SELECT b.tile_x + o.dx AS vx, b.tile_y + o.dy AS vy,
                SUM(CAST(b._y AS HUGEINT)) AS ysum
         FROM xm_b b, (VALUES {offs}) o(dx, dy)
         WHERE b._y <> 0
           AND b.tile_x + o.dx BETWEEN 0 AND {n_side - 1}
           AND b.tile_y + o.dy BETWEEN 0 AND {n_side - 1}
         GROUP BY 1, 2),
xm_j AS (SELECT b._x, b._y,
                CAST(COALESCE(v.ysum, 0) AS HUGEINT) AS ysum,
                CAST({w_i} AS BIGINT) AS w_i
         FROM xm_b b LEFT JOIN xm_v v
           ON v.vx = b.tile_x AND v.vy = b.tile_y),
xm_a AS (SELECT SUM(CAST(_x AS HUGEINT)) AS s_x,
                SUM(CAST(_y AS HUGEINT)) AS s_y,
                SUM(CAST(_x AS HUGEINT) * _x) AS q_x,
                SUM(CAST(_y AS HUGEINT) * _y) AS q_y,
                SUM(CAST(_x AS HUGEINT) * ysum) AS c_xy,
                SUM(CAST(_x AS HUGEINT) * w_i) AS b_x,
                SUM(CAST(_y AS HUGEINT) * w_i) AS b_y
         FROM xm_j)
SELECT CAST({n_grid} AS BIGINT) AS n_grid,
       CAST({w_total} AS BIGINT) AS w_total,
       CAST(s_x AS BIGINT) AS s_x,
       CAST(s_y AS BIGINT) AS s_y,
       CAST(q_x AS BIGINT) AS q_x,
       CAST(q_y AS BIGINT) AS q_y,
       CAST(c_xy AS BIGINT) AS c_xy,
       CAST(b_x AS BIGINT) AS b_x,
       CAST(b_y AS BIGINT) AS b_y,
       CASE WHEN {d1} = 0 OR {d2} = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST(FLOOR(CAST({num} AS DOUBLE)
                 / (CAST({w_total} AS DOUBLE)
                    * SQRT(CAST({d1} AS DOUBLE) * CAST({d2} AS DOUBLE)))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS i_mil
FROM xm_a"""


# Fixed density classes for cell_transitions — exact CASE boundaries
# (powers of two), engine-identical; 'empty' is the implicit 0 class.
_DENSITY_CLS = ("CASE WHEN {c} >= 8 THEN 'peak' WHEN {c} >= 4 THEN 'high'"
                " WHEN {c} >= 2 THEN 'mid' ELSE 'low' END")


def cell_transitions(pts: DataFrame, bucket_sec: int = 3600) -> DataFrame:
    """Space-time density-class transition matrix (the Markov view of
    the space-time cube, Rey's spatial-dynamics staple): over
    consecutive time buckets, how often an EVER-OCCUPIED cell moves
    between the fixed power-of-two density classes ``empty < low(1) <
    mid(2-3) < high(4-7) < peak(8+)`` — one row per observed
    ``(cls_from, cls_to, n_trans)`` pair, FULLY exact, including the
    closed-form ``empty → empty`` row (``n_cells·(n_buckets−1) − Σ
    others`` — the quiet majority is never materialized).

    Scale design: one ``(cell, bucket)`` corpus fold; each observed
    bucket emits TWO pair votes (as 'from' at p = b, as 'to' at
    p = b−1), so pair rows ≈ 2·observed — absent-side classes come
    from the vote fold's NULL → 'empty', never from a cells×buckets
    spine; the matrix fold is classes²-bounded.  No join beyond two
    broadcast 1-row totals; no Python.
    """
    cb = pts.groupBy(
        F.col("tile_x").cast("long").alias("cx"),
        F.col("tile_y").cast("long").alias("cy"),
        F.floor(F.col("ts_sec").cast("long") / F.lit(int(bucket_sec)))
        .cast("long").alias("bkt"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cls = _DENSITY_CLS.format(c="cnt")
    votes = (
        cb.selectExpr("cx", "cy", "bkt", f"{cls} AS cls")
        .select(
            "cx", "cy", "cls",
            F.explode(
                F.array(
                    F.struct(F.col("bkt").alias("p"),
                             F.lit("from").alias("role")),
                    F.struct((F.col("bkt") - 1).alias("p"),
                             F.lit("to").alias("role")),
                )
            ).alias("v"),
        )
        .select("cx", "cy", F.col("v.p").alias("p"),
                F.col("v.role").alias("role"), "cls")
    )
    span = cb.agg(
        F.min("bkt").alias("bmin"), F.max("bkt").alias("bmax"),
        F.countDistinct("cx", "cy").cast("long").alias("n_cells"),
    )
    pairs = (
        votes.groupBy("cx", "cy", "p")
        .agg(
            F.max(F.when(F.col("role") == "from", F.col("cls")))
            .alias("f_cls"),
            F.max(F.when(F.col("role") == "to", F.col("cls")))
            .alias("t_cls"),
        )
        .crossJoin(F.broadcast(span))
        .filter((F.col("p") >= F.col("bmin"))
                & (F.col("p") < F.col("bmax")))
        .selectExpr(
            "COALESCE(f_cls, 'empty') AS cls_from",
            "COALESCE(t_cls, 'empty') AS cls_to",
        )
        .groupBy("cls_from", "cls_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
        # classes²-bounded (≤ 25 rows): materialize so the closed-form
        # empty→empty branch reads this instead of re-deriving the
        # whole corpus fold under the union. localCheckpoint, not
        # persist (ADVICE r05): a persist here was never released, so
        # every invocation leaked a cache entry for the session's
        # lifetime; checkpoint blocks are call-scoped and GC-released.
        .localCheckpoint(eager=True)
    )
    ee = (
        pairs.agg(F.sum("n_trans").cast("long").alias("n_obs"))
        .crossJoin(F.broadcast(span))
        .selectExpr(
            "'empty' AS cls_from", "'empty' AS cls_to",
            "CAST(n_cells * (bmax - bmin) - n_obs AS BIGINT) AS n_trans",
        )
        .filter(F.col("n_trans") > 0)
    )
    return pairs.selectExpr(
        "cls_from", "cls_to", "CAST(n_trans AS BIGINT) AS n_trans"
    ).unionByName(ee)


def cell_transitions_sql(pts_cte: str, bucket_sec: int = 3600) -> str:
    """DuckDB twin of :func:`cell_transitions` (int-div ``//``)."""
    cls = _DENSITY_CLS.format(c="cnt")
    return f"""WITH ct_p AS ({pts_cte}),
ct_c AS (SELECT tile_x AS cx, tile_y AS cy,
                CAST(ts_sec AS BIGINT) // {int(bucket_sec)} AS bkt,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM ct_p GROUP BY 1, 2, 3),
ct_k AS (SELECT cx, cy, bkt, {cls} AS cls FROM ct_c),
ct_v AS (SELECT cx, cy, bkt AS p, 'from' AS role, cls FROM ct_k
         UNION ALL
         SELECT cx, cy, bkt - 1 AS p, 'to' AS role, cls FROM ct_k),
ct_s2 AS (SELECT MIN(bkt) AS bmin, MAX(bkt) AS bmax FROM ct_c),
ct_s3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells
          FROM (SELECT DISTINCT cx, cy FROM ct_c)),
ct_g AS (SELECT v.cx, v.cy, v.p,
                MAX(CASE WHEN v.role = 'from' THEN v.cls END) AS f_cls,
                MAX(CASE WHEN v.role = 'to' THEN v.cls END) AS t_cls
         FROM ct_v v GROUP BY 1, 2, 3),
ct_m AS (SELECT COALESCE(g.f_cls, 'empty') AS cls_from,
                COALESCE(g.t_cls, 'empty') AS cls_to,
                CAST(COUNT(*) AS BIGINT) AS n_trans
         FROM ct_g g, ct_s2 s
         WHERE g.p >= s.bmin AND g.p < s.bmax
         GROUP BY 1, 2),
ct_e AS (SELECT 'empty' AS cls_from, 'empty' AS cls_to,
                CAST(c.n_cells * (s.bmax - s.bmin)
                     - (SELECT SUM(n_trans) FROM ct_m) AS BIGINT)
                    AS n_trans
         FROM ct_s3 c, ct_s2 s)
SELECT cls_from, cls_to, n_trans FROM ct_m
UNION ALL
SELECT cls_from, cls_to, n_trans FROM ct_e WHERE n_trans > 0"""


def moran_quadrants(tiles: DataFrame, zoom: int) -> DataFrame:
    """Moran-scatterplot quadrant census over the OCCUPIED cells — the
    categorical companion of :func:`local_moran`: each occupied cell
    lands in HH / HL / LH / LL by comparing its value and its spatial
    lag to the FULL-grid means with EXACT integer cross-products
    (``xᵢ > x̄  ⟺  xᵢ·N > S``; ``lagᵢ > x̄·Wᵢ/…  ⟺  nbrsumᵢ·N >
    S·Wᵢ`` — no division ever happens); absent cells are value 0 and
    vote into their neighbors' lags but are not censused (they are LL
    by construction, their count is ``4^zoom − n_occupied``).  One row
    per quadrant ``(quadrant, n_cells, sum_x)``, zero-count quadrants
    included via a 4-row spine.  FULLY exact.

    Scale design: one ring-1 vote explode + vote fold, one
    grid-bounded left join onto occupied cells, closed-form ``Wᵢ``,
    one 1-row moment fold broadcast back, one 4-bounded census fold.
    """
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    d = "decimal(38,0)"
    base = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_x"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    votes = (
        base.select(
            "_x", "tile_x", "tile_y",
            F.explode(F.array(*[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in offs
            ])).alias("off"),
        )
        .select(
            F.col("_x").alias("_v"),
            (F.col("tile_x") + F.col("off.dx")).alias("vx"),
            (F.col("tile_y") + F.col("off.dy")).alias("vy"),
        )
        .filter(
            (F.col("vx") >= 0) & (F.col("vx") < n_side)
            & (F.col("vy") >= 0) & (F.col("vy") < n_side)
        )
        .groupBy("vx", "vy")
        .agg(F.sum(F.col("_v").cast(d)).alias("nbrsum"))
    )
    s_row = base.agg(F.sum(F.col("_x").cast(d)).alias("s"))
    edge = F.lit(n_side - 1)
    w_i = (
        (F.lit(1) + F.least(F.col("tile_x"), F.lit(1))
         + F.least(edge - F.col("tile_x"), F.lit(1)))
        * (F.lit(1) + F.least(F.col("tile_y"), F.lit(1))
           + F.least(edge - F.col("tile_y"), F.lit(1)))
        - F.lit(1)
    )
    census = (
        base.join(
            votes,
            (base.tile_x == votes.vx) & (base.tile_y == votes.vy),
            "left",
        )
        .select(
            "_x",
            F.coalesce(F.col("nbrsum"), F.lit(0)).cast(d).alias("nbrsum"),
            w_i.cast("long").alias("w_i"),
        )
        .crossJoin(F.broadcast(s_row))
        .selectExpr(
            "_x",
            f"CONCAT(CASE WHEN CAST(_x AS {d}) * {n_grid} > s"
            " THEN 'H' ELSE 'L' END,"
            f" CASE WHEN nbrsum * {n_grid} > s * w_i"
            " THEN 'H' ELSE 'L' END) AS quadrant",
        )
        .groupBy("quadrant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("_x").cast("long").alias("sum_x"),
        )
    )
    spine = tiles.sparkSession.createDataFrame(
        pd.DataFrame({"quadrant": ["HH", "HL", "LH", "LL"]}), "quadrant string"
    )
    return (
        spine.join(F.broadcast(census), "quadrant", "left")
        .selectExpr(
            "quadrant",
            "CAST(COALESCE(n_cells, 0) AS BIGINT) AS n_cells",
            "CAST(COALESCE(sum_x, 0) AS BIGINT) AS sum_x",
        )
    )


def moran_quadrants_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`moran_quadrants`."""
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    w_i = (
        "((1 + LEAST(b.tile_x, 1) + LEAST({e} - b.tile_x, 1))"
        " * (1 + LEAST(b.tile_y, 1) + LEAST({e} - b.tile_y, 1)) - 1)"
    ).format(e=n_side - 1)
    return f"""WITH mq_t AS ({base_cte}),
mq_b AS (SELECT CAST(tile_x AS BIGINT) AS tile_x,
                CAST(tile_y AS BIGINT) AS tile_y,
                CAST(page_count AS BIGINT) AS _x
         FROM mq_t),
mq_v AS (SELECT b.tile_x + o.dx AS vx, b.tile_y + o.dy AS vy,
                SUM(CAST(b._x AS HUGEINT)) AS nbrsum
         FROM mq_b b, (VALUES {offs}) o(dx, dy)
         WHERE b.tile_x + o.dx BETWEEN 0 AND {n_side - 1}
           AND b.tile_y + o.dy BETWEEN 0 AND {n_side - 1}
         GROUP BY 1, 2),
mq_s AS (SELECT SUM(CAST(_x AS HUGEINT)) AS s FROM mq_b),
mq_q AS (SELECT CONCAT(
                CASE WHEN CAST(b._x AS HUGEINT) * {n_grid} > m.s
                     THEN 'H' ELSE 'L' END,
                CASE WHEN CAST(COALESCE(v.nbrsum, 0) AS HUGEINT)
                          * {n_grid} > m.s * {w_i}
                     THEN 'H' ELSE 'L' END) AS quadrant,
                b._x
         FROM mq_b b
         LEFT JOIN mq_v v ON v.vx = b.tile_x AND v.vy = b.tile_y,
         mq_s m),
mq_c AS (SELECT quadrant, CAST(COUNT(*) AS BIGINT) AS n_cells,
                CAST(SUM(_x) AS BIGINT) AS sum_x
         FROM mq_q GROUP BY 1)
SELECT s.quadrant,
       CAST(COALESCE(c.n_cells, 0) AS BIGINT) AS n_cells,
       CAST(COALESCE(c.sum_x, 0) AS BIGINT) AS sum_x
FROM (VALUES ('HH'), ('HL'), ('LH'), ('LL')) s(quadrant)
LEFT JOIN mq_c c ON c.quadrant = s.quadrant"""


def compactness(tiles: DataFrame) -> DataFrame:
    """Shape compactness of the occupied footprint — perimeter, rook
    adjacency count, and the isoperimetric quotient (1 for a disc,
    → 0 for filaments/archipelagos): one row ``(n_cells, rook_pairs,
    perimeter, iso_mil)`` with ``perimeter = 4·N − 2·E`` (each of the
    ``E`` unordered rook-adjacent occupied pairs hides two side
    units; grid-boundary sides face 'empty' and count), all EXACT
    integers; ``iso_mil = floor(4π·N / P² · 10^6)`` is the ONE pinned
    double (π the shared 17-digit literal, identical in both engines'
    parsers).

    Scale design: one canonical-direction rook-vote explode (2 offsets
    — east and south, so each unordered pair is generated once), one
    grid-bounded semi-join-free pair fold via the vote↔cell equi-join,
    one 1-row combine.  No Python, nothing O(grid).
    """
    base = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
    )
    votes = (
        base.select(
            "tile_x", "tile_y",
            F.explode(F.array(
                F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
                F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
            )).alias("off"),
        )
        .select(
            (F.col("tile_x") + F.col("off.dx")).alias("vx"),
            (F.col("tile_y") + F.col("off.dy")).alias("vy"),
        )
    )
    nbr = base.select(
        F.col("tile_x").alias("vx"), F.col("tile_y").alias("vy")
    )
    e_row = votes.join(nbr, ["vx", "vy"]).agg(
        F.count(F.lit(1)).cast("long").alias("rook_pairs")
    )
    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    pi = "3.141592653589793"
    return (
        n_row.crossJoin(F.broadcast(e_row))
        .selectExpr(
            "CAST(n_cells AS BIGINT) AS n_cells",
            "CAST(rook_pairs AS BIGINT) AS rook_pairs",
            "CAST(4 * n_cells - 2 * rook_pairs AS BIGINT) AS perimeter",
            "CASE WHEN n_cells = 0 THEN CAST(NULL AS BIGINT)"
            f" ELSE CAST(floor(CAST(4 AS DOUBLE) * CAST({pi} AS DOUBLE)"
            " * CAST(n_cells AS DOUBLE)"
            " / (CAST(4 * n_cells - 2 * rook_pairs AS DOUBLE)"
            "    * CAST(4 * n_cells - 2 * rook_pairs AS DOUBLE))"
            " * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS iso_mil",
        )
    )


def compactness_sql(tiles_cte: str) -> str:
    """DuckDB twin of :func:`compactness` (identical pinned tree)."""
    pi = "3.141592653589793"
    return f"""WITH cp_t AS ({tiles_cte}),
cp_b AS (SELECT CAST(tile_x AS BIGINT) AS tile_x,
                CAST(tile_y AS BIGINT) AS tile_y
         FROM cp_t),
cp_e AS (SELECT CAST(COUNT(*) AS BIGINT) AS rook_pairs
         FROM cp_b b, (VALUES (1, 0), (0, 1)) o(dx, dy)
         JOIN cp_b n
           ON n.tile_x = b.tile_x + o.dx AND n.tile_y = b.tile_y + o.dy),
cp_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM cp_b)
SELECT n_cells, rook_pairs,
       CAST(4 * n_cells - 2 * rook_pairs AS BIGINT) AS perimeter,
       CASE WHEN n_cells = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST(FLOOR(CAST(4 AS DOUBLE) * CAST({pi} AS DOUBLE)
                 * CAST(n_cells AS DOUBLE)
                 / (CAST(4 * n_cells - 2 * rook_pairs AS DOUBLE)
                    * CAST(4 * n_cells - 2 * rook_pairs AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS iso_mil
FROM cp_n, cp_e"""


_DIURNAL_TOP_K = 50


def diurnal(pts: DataFrame, min_pages: int = 8) -> DataFrame:
    """Diurnal periodicity scan — per cell, the EXACT chi-square
    statistic of its hour-of-day activity histogram against the
    uniform 24-hour profile (crawl-scheduler artifacts and regional
    office-hours both light up here): with ``o_h`` the count at hour
    ``h`` and ``T`` the cell total, the common-denominator form::

        χ² = Σ_h (o_h·24 − T)² / (24·T·24)
        chi2_mil = (Σ_observed (o_h·24 − T)² + (24 − n_hours)·T²)
                   · 10^6  div  (576·T)

    is FULLY exact — ABSENT hours contribute the closed-form ``T²``
    term, so no 24-row spine is ever joined.  Cells with ≥
    ``min_pages`` pages rank by ``(chi2_mil desc, tile_x, tile_y)``
    and cut to 50; ``n_hours`` is the distinct active hours.

    Scale design: one ``(cell, hour)`` corpus fold (map-side
    combinable), one per-cell fold, distributed TakeOrdered.  No
    join, no window, no Python.
    """
    if min_pages < 1:
        raise ValueError(f"min_pages must be >= 1, got {min_pages}")
    d = "decimal(38,0)"
    ch = pts.groupBy(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        ((F.col("ts_sec").cast("long") / F.lit(3600)).cast("long") % 24)
        .alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    ch_t = ch.withColumn(
        "t",
        F.sum("o").over(Window.partitionBy("tile_x", "tile_y"))
        .cast("long"),
    )
    dev = (F.col("o").cast(d) * 24 - F.col("t"))
    per_cell = (
        ch_t.groupBy("tile_x", "tile_y")
        .agg(
            F.first("t").alias("t"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum(dev * dev).alias("_obs"),
        )
    )
    out = per_cell.filter(F.col("t") >= int(min_pages)).selectExpr(
        "CAST(tile_x AS BIGINT) AS tile_x",
        "CAST(tile_y AS BIGINT) AS tile_y",
        "CAST(t AS BIGINT) AS n_pages",
        "CAST(n_hours AS BIGINT) AS n_hours",
        f"CAST(((_obs + (24 - n_hours) * CAST(t AS {d}) * t) * 1000000)"
        f" div (576 * CAST(t AS {d})) AS BIGINT) AS chi2_mil",
    )
    return out.orderBy(
        F.col("chi2_mil").desc(), F.col("tile_x").asc(),
        F.col("tile_y").asc(),
    ).limit(_DIURNAL_TOP_K)


def diurnal_sql(pts_cte: str) -> str:
    """DuckDB twin of :func:`diurnal` (int-div ``//``)."""
    return f"""WITH di_p AS ({pts_cte}),
di_h AS (SELECT tile_x, tile_y,
                (CAST(ts_sec AS BIGINT) // 3600) % 24 AS hour,
                CAST(COUNT(*) AS BIGINT) AS o
         FROM di_p GROUP BY 1, 2, 3),
di_w AS (SELECT *, SUM(o) OVER (PARTITION BY tile_x, tile_y) AS t
         FROM di_h),
di_c AS (SELECT tile_x, tile_y,
                CAST(MIN(t) AS BIGINT) AS t,
                CAST(COUNT(*) AS BIGINT) AS n_hours,
                SUM((CAST(o AS HUGEINT) * 24 - t)
                  * (CAST(o AS HUGEINT) * 24 - t)) AS _obs
         FROM di_w GROUP BY 1, 2)
SELECT CAST(tile_x AS BIGINT) AS tile_x,
       CAST(tile_y AS BIGINT) AS tile_y,
       CAST(t AS BIGINT) AS n_pages,
       n_hours,
       CAST(((_obs + (24 - n_hours) * CAST(t AS HUGEINT) * t) * 1000000)
            // (576 * CAST(t AS HUGEINT)) AS BIGINT) AS chi2_mil
FROM di_c WHERE t >= 8
ORDER BY chi2_mil DESC, tile_x ASC, tile_y ASC
LIMIT {_DIURNAL_TOP_K}"""


# D8 direction table: (idx, dx, dy, compass) in fixed priority order —
# the deterministic tie-break is the idx (E, SE, S, SW, W, NW, N, NE).
_D8 = [
    (0, 1, 0, "E"), (1, 1, 1, "SE"), (2, 0, 1, "S"), (3, -1, 1, "SW"),
    (4, -1, 0, "W"), (5, -1, -1, "NW"), (6, 0, -1, "N"), (7, 1, -1, "NE"),
]


def flow_dir(tiles: DataFrame, zoom: int) -> DataFrame:
    """D8 flow-direction census over the density surface (the
    hydrology member of the gdaldem family: where does mass 'drain'?):
    each OCCUPIED cell points at the steepest-DESCENT neighbor among
    its 8 (absent neighbors are value 0 — always a candidate descent;
    grid-boundary neighbors do not exist and never receive flow);
    cells with no strictly lower neighbor are SINKS (local minima /
    plateau floors).  One row per direction ``(dir, n_cells,
    sum_drop)`` plus the ``sink`` row, FULLY exact — drops are integer
    differences, the argmax is ``min(struct(-drop, idx))`` with the
    fixed E→NE priority tie-break.

    Scale design: one 8-offset vote explode of the occupied values,
    one grid-bounded left join back onto the cells (vote rows carry
    the NEIGHBOR's value to the center), one argmax fold, one
    9-bounded census fold.  No Python, nothing O(grid).
    """
    n_side = 2 ** zoom
    base = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_v"),
    )
    votes = (
        base.select(
            F.col("_v").alias("nv"), "tile_x", "tile_y",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("idx"), F.lit(dx).alias("dx"),
                         F.lit(dy).alias("dy"), F.lit(c).alias("dir"))
                for i, dx, dy, c in _D8
            ])).alias("off"),
        )
        .select(
            "nv",
            # vote lands at the neighbor ON THE OPPOSITE SIDE: the
            # receiving center sees this cell as its (idx) neighbor
            (F.col("tile_x") - F.col("off.dx")).alias("cx"),
            (F.col("tile_y") - F.col("off.dy")).alias("cy"),
            F.col("off.idx").alias("idx"),
            F.col("off.dir").alias("dir"),
        )
        .filter(
            (F.col("cx") >= 0) & (F.col("cx") < n_side)
            & (F.col("cy") >= 0) & (F.col("cy") < n_side)
        )
    )
    joined = base.join(
        votes,
        (base.tile_x == votes.cx) & (base.tile_y == votes.cy),
        "left",
    ).select(
        "tile_x", "tile_y", "_v",
        F.coalesce(F.col("nv"), F.lit(None)).alias("nv"),
        "idx", "dir",
    )
    # candidate drops: occupied neighbor -> v - nv; the 8 - join-hits
    # absent IN-GRID neighbors all have value 0 (drop = v), which wins
    # over any occupied neighbor with nv > 0 — represent that best
    # absent drop per cell in closed form: it exists iff the cell has
    # any in-grid absent neighbor, i.e. join hits < in-bounds count
    edge = F.lit(n_side - 1)
    w_i = (
        (F.lit(1) + F.least(F.col("tile_x"), F.lit(1))
         + F.least(edge - F.col("tile_x"), F.lit(1)))
        * (F.lit(1) + F.least(F.col("tile_y"), F.lit(1))
           + F.least(edge - F.col("tile_y"), F.lit(1)))
        - F.lit(1)
    )
    per_cell = (
        joined.groupBy("tile_x", "tile_y", "_v")
        .agg(
            F.min(
                F.when(
                    F.col("nv").isNotNull() & (F.col("nv") < F.col("_v")),
                    F.struct(
                        (F.col("nv") - F.col("_v")).alias("neg_drop"),
                        F.col("idx"),
                        F.col("dir"),
                    ),
                )
            ).alias("occ_best"),
            F.sum(F.when(F.col("nv").isNotNull(), 1).otherwise(0))
            .alias("hits"),
        )
        .withColumn("w_i", w_i.cast("long"))
    )
    # absent neighbors exist iff hits < w_i, but the per-direction idx
    # of absent slots is unknown from the left join (unmatched votes
    # vanish) — recover it: vote rows exist ONLY for occupied
    # neighbors, so absent directions are the complement; the minimal
    # absent idx needs a second tiny pass ONLY for cells where the
    # absent drop (= _v) actually wins (occ_best is NULL or
    # -occ_best.neg_drop < _v). For those cells enumerate the 8
    # offsets again and anti-join the occupied neighbors.
    need = per_cell.filter(
        (F.col("hits") < F.col("w_i"))
        & (
            F.col("occ_best").isNull()
            | (-F.col("occ_best.neg_drop") < F.col("_v"))
        )
        & (F.col("_v") > 0)
    ).select("tile_x", "tile_y", "_v")
    cand = (
        need.select(
            "tile_x", "tile_y",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("idx"), F.lit(dx).alias("dx"),
                         F.lit(dy).alias("dy"), F.lit(c).alias("dir"))
                for i, dx, dy, c in _D8
            ])).alias("off"),
        )
        .select(
            "tile_x", "tile_y",
            (F.col("tile_x") + F.col("off.dx")).alias("nx"),
            (F.col("tile_y") + F.col("off.dy")).alias("ny"),
            F.col("off.idx").alias("idx"),
            F.col("off.dir").alias("dir"),
        )
        .filter(
            (F.col("nx") >= 0) & (F.col("nx") < n_side)
            & (F.col("ny") >= 0) & (F.col("ny") < n_side)
        )
    )
    occ = base.select(
        F.col("tile_x").alias("nx"), F.col("tile_y").alias("ny")
    )
    absent_best = (
        cand.join(occ, ["nx", "ny"], "left_anti")
        .groupBy("tile_x", "tile_y")
        .agg(
            F.min(F.struct(F.col("idx"), F.col("dir"))).alias("ab")
        )
    )
    final = (
        per_cell.join(absent_best, ["tile_x", "tile_y"], "left")
        .selectExpr(
            "_v",
            "CASE"
            " WHEN ab IS NOT NULL AND (occ_best IS NULL"
            "      OR -occ_best.neg_drop < _v) THEN ab.dir"
            " WHEN occ_best IS NOT NULL THEN occ_best.dir"
            " ELSE 'sink' END AS dir",
            "CASE"
            " WHEN ab IS NOT NULL AND (occ_best IS NULL"
            "      OR -occ_best.neg_drop < _v) THEN _v"
            " WHEN occ_best IS NOT NULL THEN -occ_best.neg_drop"
            " ELSE 0 END AS drop",
        )
        .groupBy("dir")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("drop").cast("long").alias("sum_drop"),
        )
    )
    return final.selectExpr(
        "dir", "n_cells", "CAST(sum_drop AS BIGINT) AS sum_drop"
    )


def flow_dir_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`flow_dir` — direct 8-offset candidate
    enumeration per occupied cell (same values; the vote/anti-join
    split is a Spark plan choice, not semantics)."""
    n_side = 2 ** zoom
    vals = ", ".join(
        f"({i}, {dx}, {dy}, '{c}')" for i, dx, dy, c in _D8
    )
    return f"""WITH fd_t AS ({base_cte}),
fd_b AS (SELECT CAST(tile_x AS BIGINT) AS tile_x,
                CAST(tile_y AS BIGINT) AS tile_y,
                CAST(page_count AS BIGINT) AS _v
         FROM fd_t WHERE page_count > 0),
fd_c AS (SELECT b.tile_x, b.tile_y, b._v, o.idx, o.dir,
                COALESCE(n._v, 0) AS nv
         FROM fd_b b
         JOIN (VALUES {vals}) o(idx, dx, dy, dir)
           ON b.tile_x + o.dx BETWEEN 0 AND {n_side - 1}
          AND b.tile_y + o.dy BETWEEN 0 AND {n_side - 1}
         LEFT JOIN fd_b n
           ON n.tile_x = b.tile_x + o.dx
          AND n.tile_y = b.tile_y + o.dy),
fd_m AS (SELECT tile_x, tile_y, _v,
                MIN(CASE WHEN nv < _v THEN
                    STRUCT_PACK(neg_drop := nv - _v, idx := idx,
                                dir := dir) END) AS best
         FROM fd_c GROUP BY 1, 2, 3),
fd_d AS (SELECT CASE WHEN best IS NULL THEN 'sink' ELSE best.dir END
                    AS dir,
                CASE WHEN best IS NULL THEN 0
                     ELSE -best.neg_drop END AS drop
         FROM fd_m)
SELECT dir, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(drop) AS BIGINT) AS sum_drop
FROM fd_d GROUP BY 1"""


def lacunarity(
    tiles: DataFrame,
    zoom: int,
    box_sizes: "tuple[int, ...]" = (1, 2, 4),
) -> DataFrame:
    """Grid-aligned lacunarity profile — the multi-scale gappiness /
    texture gauge of the density surface (Λ(r) → 1 for translation-
    invariant mass, large for clumpy fractal-like patterns; how Λ
    decays with box size r separates megacity clumping from uniform
    crawl cover): per box size ``Λ(r) = N_r·ΣS² / (ΣS)²`` over ALL
    ``(2^zoom / r)²`` grid-aligned r×r boxes (absent boxes are mass 0
    and enter via the closed-form box count — the grid never
    materializes).  One row per r: ``(r, n_boxes, s, q, lac_mil)``,
    FULLY exact integer (``lac_mil = (q·N_r·10^6) div s²``; NULL on an
    empty surface).  Box sizes must divide ``2^zoom``.

    Scale design: one parent-key fold per box size over the
    grid-bounded tile table (each is map-side combinable; the r > 1
    folds shrink r² per step), one 1-row moment projection each, a
    bounded union.  No join, no window, no Python.
    """
    n_side = 2 ** zoom
    d = "decimal(38,0)"
    parts = []
    for r in box_sizes:
        if r < 1 or n_side % r != 0:
            raise ValueError(f"box size {r} must divide {n_side}")
        n_boxes = (n_side // r) ** 2
        boxes = tiles.groupBy(
            F.floor(F.col("tile_x").cast("long") / F.lit(r)).alias("bx"),
            F.floor(F.col("tile_y").cast("long") / F.lit(r)).alias("by"),
        ).agg(F.sum(F.col("page_count").cast("long")).alias("sv"))
        agg = boxes.agg(
            F.sum(F.col("sv").cast(d)).alias("s"),
            F.sum(F.col("sv").cast(d) * F.col("sv")).alias("q"),
        )
        parts.append(
            agg.selectExpr(
                f"CAST({r} AS INT) AS r",
                f"CAST({n_boxes} AS BIGINT) AS n_boxes",
                "CAST(s AS BIGINT) AS s",
                "CAST(q AS BIGINT) AS q",
                "CASE WHEN s = 0 THEN CAST(NULL AS BIGINT)"
                f" ELSE CAST((q * {n_boxes} * 1000000) div (s * s)"
                " AS BIGINT) END AS lac_mil",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lacunarity_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`lacunarity` (int-div ``//``)."""
    n_side = 2 ** zoom
    parts = []
    for r in (1, 2, 4):
        if r < 1 or n_side % r != 0:
            raise ValueError(f"box size {r} must divide {n_side}")
        n_boxes = (n_side // r) ** 2
        parts.append(f"""SELECT CAST({r} AS INT) AS r,
       CAST({n_boxes} AS BIGINT) AS n_boxes,
       CAST(s AS BIGINT) AS s,
       CAST(q AS BIGINT) AS q,
       CASE WHEN s = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((q * {n_boxes} * 1000000) // (s * s) AS BIGINT)
       END AS lac_mil
FROM (SELECT CAST(SUM(sv) AS HUGEINT) AS s,
             CAST(SUM(sv * sv) AS HUGEINT) AS q
      FROM (SELECT SUM(CAST(page_count AS HUGEINT)) AS sv
            FROM lc_t GROUP BY tile_x // {r}, tile_y // {r}))""")
    return f"WITH lc_t AS ({tiles_cte})\n" + "\nUNION ALL\n".join(parts)


_PAIR_CORRELATION_MAX_RING = 3


def pair_correlation(tiles: DataFrame, zoom: int) -> DataFrame:
    """Pair-correlation function g(k) — the ring-wise (non-cumulative)
    sibling of Ripley's K: for each Chebyshev distance ``k``, the
    ratio of OBSERVED ordered occupied-cell pairs at exactly ``k`` to
    the CSR expectation on the same grid, FULLY exact::

        g_mil(k) = (pairs_k · N·(N−1) · 10^6) div (n·(n−1) · W_k)

    with ``N = 4^zoom``, ``n`` the occupied count and ``W_k`` the
    closed-form grid total of ordered pairs at distance k
    (:func:`_ring_w_total`).  g > 1e6 = clustering at that range,
    < 1e6 = inhibition.  One row per k ``(k, n_pairs, w_k, g_mil)``
    (NULL when n < 2); every k in the spine present.

    Scale design: ONE ring-vote explode over all lags, one
    grid-bounded equi-join of votes onto occupied cells, one per-k
    fold; the spine/denominators are broadcast literals.
    """
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    d = "decimal(38,0)"
    base = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
    )
    entries = []
    for k in range(1, _PAIR_CORRELATION_MAX_RING + 1):
        entries += [
            F.struct(F.lit(k).alias("k"), F.lit(dx).alias("dx"),
                     F.lit(dy).alias("dy"))
            for dx, dy in _ring_offsets(k)
        ]
    votes = (
        base.select(
            "tile_x", "tile_y",
            F.explode(F.array(*entries)).alias("off"),
        )
        .select(
            (F.col("tile_x") + F.col("off.dx")).alias("vx"),
            (F.col("tile_y") + F.col("off.dy")).alias("vy"),
            F.col("off.k").alias("k"),
        )
        .filter(
            (F.col("vx") >= 0) & (F.col("vx") < n_side)
            & (F.col("vy") >= 0) & (F.col("vy") < n_side)
        )
    )
    occ = base.select(
        F.col("tile_x").alias("vx"), F.col("tile_y").alias("vy")
    )
    hits = votes.join(occ, ["vx", "vy"]).groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    spine = tiles.sparkSession.range(1, _PAIR_CORRELATION_MAX_RING + 1).select(
        F.col("id").cast("int").alias("k")
    )
    w_case = "CASE " + " ".join(
        f"WHEN k = {k} THEN CAST({_ring_w_total(n_side, k)} AS BIGINT)"
        for k in range(1, _PAIR_CORRELATION_MAX_RING + 1)
    ) + " END"
    return (
        spine.join(F.broadcast(hits), "k", "left")
        .crossJoin(F.broadcast(n_row))
        .selectExpr(
            "CAST(k AS INT) AS k",
            "CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs",
            f"{w_case} AS w_k",
            "CASE WHEN n_occ < 2 THEN CAST(NULL AS BIGINT)"
            f" ELSE CAST((CAST(COALESCE(n_pairs, 0) AS {d})"
            f" * {n_grid} * ({n_grid} - 1) * 1000000)"
            f" div (CAST(n_occ AS {d}) * (n_occ - 1) * ({w_case}))"
            " AS BIGINT) END AS g_mil",
        )
    )


def pair_correlation_sql(tiles_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`pair_correlation` (int-div ``//``)."""
    n_side = 2 ** zoom
    n_grid = 4 ** zoom
    vals = []
    for k in range(1, _PAIR_CORRELATION_MAX_RING + 1):
        vals += [f"({k}, {dx}, {dy})" for dx, dy in _ring_offsets(k)]
    spine = ", ".join(f"({k})" for k in range(1, _PAIR_CORRELATION_MAX_RING + 1))
    w_case = "CASE " + " ".join(
        f"WHEN s.k = {k} THEN CAST({_ring_w_total(n_side, k)} AS BIGINT)"
        for k in range(1, _PAIR_CORRELATION_MAX_RING + 1)
    ) + " END"
    return f"""WITH pc_t AS ({tiles_cte}),
pc_b AS (SELECT CAST(tile_x AS BIGINT) AS tile_x,
                CAST(tile_y AS BIGINT) AS tile_y
         FROM pc_t),
pc_v AS (SELECT b.tile_x + o.dx AS vx, b.tile_y + o.dy AS vy, o.k
         FROM pc_b b, (VALUES {", ".join(vals)}) o(k, dx, dy)
         WHERE b.tile_x + o.dx BETWEEN 0 AND {n_side - 1}
           AND b.tile_y + o.dy BETWEEN 0 AND {n_side - 1}),
pc_h AS (SELECT v.k, CAST(COUNT(*) AS BIGINT) AS n_pairs
         FROM pc_v v JOIN pc_b b
           ON b.tile_x = v.vx AND b.tile_y = v.vy
         GROUP BY 1),
pc_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_occ FROM pc_b)
SELECT CAST(s.k AS INT) AS k,
       CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs,
       {w_case} AS w_k,
       CASE WHEN n.n_occ < 2 THEN CAST(NULL AS BIGINT)
            ELSE CAST((CAST(COALESCE(h.n_pairs, 0) AS HUGEINT)
                 * {n_grid} * ({n_grid} - 1) * 1000000)
                 // (CAST(n.n_occ AS HUGEINT) * (n.n_occ - 1)
                     * ({w_case})) AS BIGINT) END AS g_mil
FROM (VALUES {spine}) s(k)
LEFT JOIN pc_h h ON h.k = s.k, pc_n n"""
