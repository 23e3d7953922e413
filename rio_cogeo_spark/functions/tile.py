"""Tile assignment and k-ring expansion as Spark built-in expressions.

The Spark-facing wrappers around rio_cogeo_spark.grid: every function
returns a Column made of JVM built-ins, so whole-stage codegen evaluates
it with no Python boundary. Mirrors the reference's pixel→tile alignment
(rio_cogeo/utils.py:125-140) as a *computed key* — tile assignment is a
projection, not a shuffle (SURVEY.md §2.3 J1).

``tile_xy_sql`` emits the equivalent ANSI-SQL (DuckDB-runnable) formula so
the driver's oracle reproduces the exact same integer tile ids: the only
transcendental step (``ln(tan(...))``) is IEEE double in both engines and
feeds a ``floor`` whose argument is never within ulp-distance of an
integer for hash-derived coordinates.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from rio_cogeo_spark import grid

_CELL_MASK = (1 << 29) - 1


def _tile_xy_cols(
    lon: Column,
    lat: Column,
    zoom: int,
    tms: grid.TileMatrixSet = grid.WEB_MERCATOR_QUAD,
) -> "tuple[Column, Column]":
    """The one Spark implementation of ``TileMatrixSet.tile_index``: the
    grid's driver constants (bbox, matrix size, projection, row
    coalescing) become literals of a JVM expression. On WebMercatorQuad
    it is the Column form of :func:`tile_xy_sql`, operator-for-operator
    (same literals, same association order), so the DuckDB oracle twins
    evaluate the identical formula. Equality with the numpy
    ``tile_index`` on quad, geographic and variable-width grids is
    asserted by tests/test_tile_expr.py."""
    minx, miny, maxx, maxy = (float(v) for v in tms.bbox)
    nx, ny = tms.matrix_size(zoom)
    if tms.geographic:
        x, y = lon, lat
    else:
        lat_c = F.least(
            F.greatest(lat, F.lit(float(-grid.MAX_LAT))), F.lit(float(grid.MAX_LAT))
        )
        x = lon * F.lit(float(grid.ORIGIN_SHIFT)) / F.lit(180.0)
        y = (
            F.log(F.tan((F.lit(90.0) + lat_c) * F.lit(math.pi) / F.lit(360.0)))
            * F.lit(float(grid.EARTH_RADIUS))
        )

    def clipped_index(offset: Column, span: float, n: int) -> Column:
        return F.least(
            F.greatest(
                F.floor(offset / F.lit(span) * F.lit(float(n))).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(n - 1).cast("bigint"),
        )

    tx = clipped_index(x + F.lit(-minx), maxx - minx, nx)
    ty = clipped_index(F.lit(maxy) - y, maxy - miny, ny)
    spans = tms.row_spans(zoom)
    if spans:
        # coalesced rows snap tile_x to the leftmost constituent column;
        # wrapping each span around the previous ones makes later spans win
        c = F.lit(1).cast("bigint")
        for r0, r1, k in spans:
            c = F.when(
                ty.between(int(r0), int(r1)), F.lit(int(k)).cast("bigint")
            ).otherwise(c)
        tx = F.call_function("div", tx, c) * c
    return tx, ty


def tile_assign(
    lon: Column, lat: Column, zoom: int, tms: "grid.TileMatrixSet | None" = None
) -> Column:
    """(lon, lat) → struct(tile_x, tile_y) at ``zoom`` on ``tms``
    (default WebMercatorQuad) — a pure JVM expression
    (:func:`_tile_xy_cols`), on every grid."""
    tx, ty = _tile_xy_cols(
        lon, lat, zoom, grid.WEB_MERCATOR_QUAD if tms is None else tms
    )
    return F.struct(tx.alias("tile_x"), ty.alias("tile_y"))


def cell_id(lon: Column, lat: Column, zoom: int) -> Column:
    """(lon, lat) → packed int64 cell id (z<<58 | x<<29 | y) on
    WebMercatorQuad; pure JVM expression (:func:`_tile_xy_cols`)."""
    tx, ty = _tile_xy_cols(lon, lat, zoom)
    return _pack(F.lit(int(zoom)).cast("bigint"), tx, ty)


def _pack(z: Column, tx: Column, ty: Column) -> Column:
    return F.shiftleft(z, 58).bitwiseOR(F.shiftleft(tx, 29)).bitwiseOR(ty)


def k_ring_cells(cell: Column, k: "int | Column" = 1) -> Column:
    """Packed cell id → array of packed neighbor cell ids within
    Chebyshev distance ``k`` (kNN candidate expansion, SURVEY.md §2.3
    J3): the built-in twin of ``grid.k_ring``, same cells in the same
    order. ``k`` is a constant or a per-row Column (the adaptive kNN
    phase 2). Rows clamp to the matrix; columns wrap around the
    antimeridian over at most ``2^zoom`` of them, so no cell repeats."""
    k = (F.lit(k) if isinstance(k, int) else k).cast("bigint")
    z = F.shiftright(cell, 58)
    x = F.shiftright(cell, 29).bitwiseAND(F.lit(_CELL_MASK))
    y = cell.bitwiseAND(F.lit(_CELL_MASK))
    n = F.call_function("shiftleft", F.lit(1).cast("bigint"), z.cast("int"))
    rows = F.sequence(F.greatest(y - k, F.lit(0).cast("bigint")), F.least(y + k, n - 1))
    cols = F.transform(
        F.sequence(F.lit(0).cast("bigint"), F.least(k * 2 + 1, n) - 1),
        lambda i: F.pmod(x - k + i, n),
    )
    return F.flatten(
        F.transform(rows, lambda r: F.transform(cols, lambda c: _pack(z, c, r)))
    )


# --------------------------------------------------------------------------
# Oracle SQL twins (DuckDB + Spark SQL compatible)
# --------------------------------------------------------------------------

ORIGIN = grid.ORIGIN_SHIFT
MAX_LAT = grid.MAX_LAT


def mercator_sql(lon_expr: str, lat_expr: str) -> tuple[str, str]:
    lat_c = f"least(greatest({lat_expr}, CAST(-{MAX_LAT!r} AS DOUBLE)), CAST({MAX_LAT!r} AS DOUBLE))"
    mx = f"({lon_expr}) * CAST({ORIGIN!r} AS DOUBLE) / CAST(180 AS DOUBLE)"
    my = (
        f"ln(tan((CAST(90 AS DOUBLE) + {lat_c}) * pi() / CAST(360 AS DOUBLE)))"
        f" * CAST({grid.EARTH_RADIUS!r} AS DOUBLE)"
    )
    return mx, my


def tile_xy_sql(lon_expr: str, lat_expr: str, zoom: int) -> tuple[str, str]:
    """SQL expressions for (tile_x, tile_y) matching grid.tile_index."""
    mx, my = mercator_sql(lon_expr, lat_expr)
    n = 1 << zoom
    span = 2.0 * ORIGIN
    tx = (
        f"least(greatest(CAST(floor((({mx}) + CAST({ORIGIN!r} AS DOUBLE)) / "
        f"CAST({span!r} AS DOUBLE) * CAST({n} AS DOUBLE)) AS BIGINT), 0), {n - 1})"
    )
    ty = (
        f"least(greatest(CAST(floor((CAST({ORIGIN!r} AS DOUBLE) - ({my})) / "
        f"CAST({span!r} AS DOUBLE) * CAST({n} AS DOUBLE)) AS BIGINT), 0), {n - 1})"
    )
    return tx, ty


# --------------------------------------------------------------------------
# Z-order (Morton) spatial key — 2-D locality clustering for tile layouts
# --------------------------------------------------------------------------

# bit-spread masks: interleave a 32-bit value into the even bits of 64
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_bits(v: Column) -> Column:
    v = v.bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in _SPREAD:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def morton_key(tile_x: Column, tile_y: Column) -> Column:
    """Z-order key: interleave the bits of (tile_x, tile_y) so tiles
    close in 2-D are close in the 1-D key — the layout key for
    range-partitioned writes where bbox reads should touch few files.
    Row-major COG order (``zoom, tile_y, tile_x`` — translate.py
    write_tiles) optimizes full-row scans; Z-order optimizes square
    window reads. Pure BIGINT shift/mask expressions, whole-stage
    codegen, bit-identical in DuckDB (:func:`morton_sql`).

    Domain: tile_y < 2^31 and tile_x < 2^32 (i.e. any zoom <= 31) keeps
    the interleaved key below 2^63 — nonnegative in a signed BIGINT, so
    range-partition ordering is correct. Beyond that the top bit would
    flip the sign and break ordering (hypothesis-asserted bound in
    tests/test_pipeline_properties.py). Web-mercator zooms stop at ~23,
    so the whole practical grid is safely inside.
    """
    return _spread_bits(tile_x.cast("long")).bitwiseOR(
        F.shiftleft(_spread_bits(tile_y.cast("long")), 1)
    )


def morton_sql(x_expr: str, y_expr: str) -> str:
    """DuckDB/ANSI twin of :func:`morton_key`.

    ``x_expr``/``y_expr`` MUST be simple column references (or cheap
    scalars): every spread round textually doubles the operand, so the
    emitted SQL contains ~32 copies of each input expression. A complex
    expression should be bound to a column in a CTE first — passing it
    here inflates the generated SQL exponentially."""

    def spread(e: str) -> str:
        v = f"(CAST({e} AS BIGINT) & 4294967295)"
        for shift, mask in _SPREAD:
            v = f"(({v} | ({v} << {shift})) & {mask})"
        return v

    return f"({spread(x_expr)} | ({spread(y_expr)} << 1))"


def _morton_scalar(x: int, y: int) -> int:
    """Driver-side scalar twin of :func:`morton_key` (same spread table)."""
    out = 0
    for v, off in ((int(x), 0), (int(y), 1)):
        v &= 0xFFFFFFFF
        for shift, mask in _SPREAD:
            v = (v | (v << shift)) & mask
        out |= v << off
    return out


def morton_bbox_ranges(
    x0: int, y0: int, x1: int, y1: int, zoom: int
) -> "list[tuple[int, int]]":
    """Exact quadtree decomposition of a tile bbox into Z-order ranges.

    The payoff of the Z-order layout (:func:`morton_key`,
    translate.py ``layout='zorder'``): a rectangular window read
    ``x0..x1 x y0..y1`` (inclusive) becomes a SHORT list of contiguous
    ``(lo, hi)`` inclusive morton-key ranges — a handful of sequential
    scans over a morton-sorted file instead of 4^zoom point lookups,
    and each range prunes parquet row groups via min/max stats.

    Classic recursion: a quad cell fully inside the bbox emits its
    whole contiguous key block ``[morton(corner), +size^2-1]`` (quad-
    aligned blocks ARE contiguous under bit interleave); a disjoint
    cell emits nothing; a straddling cell recurses into its 4 children.
    Adjacent ranges are merged, so the result is the MINIMAL sorted
    disjoint cover: filtering any tile set by these ranges is exactly
    the bbox filter (hash-asserted by the ``morton_range`` contract
    query and a hypothesis sweep).  Driver-side pure function — the
    range count is O(perimeter) = O(2^zoom), evaluated once per query,
    never per row.
    """
    if not (0 <= x0 <= x1 < 2 ** zoom and 0 <= y0 <= y1 < 2 ** zoom):
        raise ValueError(
            f"bbox ({x0},{y0})..({x1},{y1}) out of zoom-{zoom} grid"
        )
    ranges: "list[tuple[int, int]]" = []

    def rec(qx: int, qy: int, level: int) -> None:
        size = 1 << (zoom - level)
        cx0, cy0 = qx * size, qy * size
        cx1, cy1 = cx0 + size - 1, cy0 + size - 1
        if cx0 > x1 or cx1 < x0 or cy0 > y1 or cy1 < y0:
            return
        if cx0 >= x0 and cx1 <= x1 and cy0 >= y0 and cy1 <= y1:
            lo = _morton_scalar(cx0, cy0)
            ranges.append((lo, lo + size * size - 1))
            return
        for dy in (0, 1):
            for dx in (0, 1):
                rec(qx * 2 + dx, qy * 2 + dy, level + 1)

    rec(0, 0, 0)
    ranges.sort()
    merged = [ranges[0]]
    for lo, hi in ranges[1:]:
        if lo == merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], hi)
        else:
            merged.append((lo, hi))
    return merged


def morton_range_filter(
    morton_col: Column, ranges, or_chain_max: int = 16
) -> Column:
    """Membership predicate over :func:`morton_bbox_ranges` output.

    Two shapes, picked by range count:

    * ``len(ranges) <= or_chain_max`` → an OR-of-BETWEEN chain of plain
      comparisons.  When ``morton_col`` is a STORED column of a
      morton-sorted table this pushes to the parquet scan and prunes
      row groups by min/max — the layout payoff.  (To force this path
      for a big decomposition, coarsen with :func:`coarsen_ranges` and
      AND the exact bbox predicate as a refine.)
    * otherwise → ``exists()`` over a LITERAL array of (lo, hi)
      structs.  On a COMPUTED key Catalyst's projection collapse would
      inline the ~10-round spread expression into every OR term —
      2 x len(ranges) textual copies, a codegen/heap blowup at ~100
      ranges — whereas the higher-order form evaluates the key once
      per row against a constant array.
    """
    if not ranges:
        raise ValueError("empty range list")
    if len(ranges) <= or_chain_max:
        pred = None
        for lo, hi in ranges:
            term = (morton_col >= F.lit(int(lo))) & (
                morton_col <= F.lit(int(hi))
            )
            pred = term if pred is None else pred | term
        return pred
    arr = F.array(*[
        F.struct(
            F.lit(int(lo)).cast("long").alias("lo"),
            F.lit(int(hi)).cast("long").alias("hi"),
        )
        for lo, hi in ranges
    ])
    return F.exists(
        arr, lambda r: (morton_col >= r["lo"]) & (morton_col <= r["hi"])
    )


def coarsen_ranges(ranges, max_ranges: int) -> "list[tuple[int, int]]":
    """Merge the smallest inter-range gaps until ``<= max_ranges``
    remain — a SUPERSET cover (reads a few extra keys; pair with the
    exact bbox predicate as a refine).  This is how a scan planner
    trades range count (seek/pushdown cost) against over-read: keep
    the ``max_ranges`` largest gaps, close the rest.
    """
    if max_ranges < 1:
        raise ValueError("max_ranges must be >= 1")
    if len(ranges) <= max_ranges:
        return list(ranges)
    gaps = sorted(
        range(1, len(ranges)),
        key=lambda i: ranges[i][0] - ranges[i - 1][1],
        reverse=True,
    )[: max_ranges - 1]
    cuts = sorted(gaps)
    out = []
    start = 0
    for c in cuts + [len(ranges)]:
        out.append((ranges[start][0], ranges[c - 1][1]))
        start = c
    return out
