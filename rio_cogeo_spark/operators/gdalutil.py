"""GDAL command-line utility analogs over the tile grid.

The reference (rio-cogeo) rides on GDAL/rasterio for every raster
utility around the COG pipeline — ``gdalinfo -hist``, ``gdal_translate
-scale``, ``gdallocationinfo``, ``gdal_merge.py``, ``gdaldem
color-relief`` (reference cogeo.py delegates to rasterio dataset reads,
utils.py:125-140 to the block grid). These are their Spark-first forms
over the fixed ``(tile_x, tile_y, page_count)`` grid: exact integer
contracts, broadcast-only small sides, and the corpus-facing fold
pinned so it never runs twice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def raster_hist(tiles: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Value histogram of the tile grid — the ``gdalinfo -hist`` analog
    (GDAL reports a bucketed pixel-value histogram per band). Buckets
    are ``n_buckets`` equal-width integer bins over the OBSERVED
    ``[vmin, vmax]``: ``bucket = min(n−1, ((v − vmin)·n) div (vmax −
    vmin + 1))`` — pure BIGINT, no doubles, and the ``+1`` keeps the
    max value inside the last bucket without a special case.
    Zero-count buckets are emitted (the chi_square full-marginal
    convention). Returns ``(bucket, lo, hi, n_cells)`` where
    ``[lo, hi]`` are the bucket's inclusive integer bounds.

    Scale design: the tile fold is read by the (vmin, vmax) 1-row
    aggregate AND the bucket fold — localCheckpoint-pinned so it
    computes ONCE; both joins broadcast (1-row
    bounds, ``n_buckets``-row bucket spine).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    spark = tiles.sparkSession
    # the bounds aggregate and the bucket fold both read this
    vals = tiles.select(
        F.col("page_count").cast("long").alias("v")
    ).localCheckpoint(eager=False)
    bounds = vals.agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    width = F.col("vmax") - F.col("vmin") + F.lit(1)
    obs = (
        vals.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(n_buckets - 1),
                F.expr(f"((v - vmin) * {n_buckets}) div (vmax - vmin + 1)"),
            ).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_cells"))
    )
    spine = spark.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    ).crossJoin(F.broadcast(bounds))
    return (
        spine.join(F.broadcast(obs), "bucket", "left")
        .select(
            "bucket",
            F.expr(
                f"vmin + (bucket * (vmax - vmin + 1)) div {n_buckets}"
            ).cast("long").alias("lo"),
            F.expr(
                f"vmin + ((bucket + 1) * (vmax - vmin + 1)) div {n_buckets}"
                " - 1"
            ).cast("long").alias("hi"),
            F.coalesce(F.col("n_cells"), F.lit(0)).cast("long")
            .alias("n_cells"),
        )
    )


def raster_hist_sql(base_cte: str) -> str:
    """DuckDB twin of :func:`raster_hist` — ``base_cte`` exposes
    ``base`` with ``page_count`` (WITH included)."""
    return f"""{base_cte}
, rh_v AS (SELECT CAST(page_count AS BIGINT) AS v FROM base)
, rh_b AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM rh_v)
, rh_o AS (SELECT least(15,
                        ((v - vmin) * 16) // (vmax - vmin + 1))
                      AS bucket,
                  COUNT(*) AS n_cells
           FROM rh_v CROSS JOIN rh_b GROUP BY 1)
, rh_s AS (SELECT r.range AS bucket, b.vmin, b.vmax
           FROM range(16) r CROSS JOIN rh_b b)
SELECT CAST(s.bucket AS BIGINT) AS bucket,
       CAST(s.vmin + (s.bucket * (s.vmax - s.vmin + 1)) // 16
            AS BIGINT) AS lo,
       CAST(s.vmin + ((s.bucket + 1) * (s.vmax - s.vmin + 1))
            // 16 - 1 AS BIGINT) AS hi,
       CAST(COALESCE(o.n_cells, 0) AS BIGINT) AS n_cells
FROM rh_s s LEFT JOIN rh_o o ON s.bucket = o.bucket"""


def scale_bytes(tiles: DataFrame, lo: int = 0, hi: int = 255) -> DataFrame:
    """Linear rescale of the tile values onto ``[lo, hi]`` — the
    ``gdal_translate -scale`` analog (GDAL maps src min/max onto the
    dst range; the classic byte-ification before visual tiling).
    Exact integer contract: ``scaled = lo + ((v − vmin)·(hi − lo))
    div max(1, vmax − vmin)`` — the ``max(1, ·)`` makes a constant
    input map to ``lo`` (GDAL's degenerate-range behavior) instead of
    dividing by zero. Returns ``(tile_x, tile_y, v, scaled)``.

    Scale design: the (vmin, vmax) 1-row aggregate broadcasts back
    onto the pinned tile fold; the rescale is one projection.
    """
    if hi < lo:
        raise ValueError(f"hi must be >= lo, got [{lo}, {hi}]")
    base = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("v"),
    ).localCheckpoint(eager=False)
    bounds = base.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
    return base.crossJoin(F.broadcast(bounds)).select(
        "tile_x", "tile_y", "v",
        F.expr(
            f"{lo} + ((v - vmin) * {hi - lo}) div greatest(1, vmax - vmin)"
        ).cast("long").alias("scaled"),
    )


def scale_bytes_sql(base_cte: str) -> str:
    """DuckDB twin of :func:`scale_bytes`."""
    return f"""{base_cte}
, sb_v AS (SELECT tile_x, tile_y, CAST(page_count AS BIGINT) AS v
           FROM base)
, sb_b AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM sb_v)
SELECT tile_x, tile_y, v,
       CAST(0 + ((v - vmin) * 255)
            // greatest(1, vmax - vmin) AS BIGINT) AS scaled
FROM sb_v CROSS JOIN sb_b"""


def locationinfo(tiles: DataFrame, points: DataFrame, zoom: int) -> DataFrame:
    """Point query against the tile grid — the ``gdallocationinfo``
    analog: for each named (lon, lat) point, the value of the tile it
    falls in (NULL when the tile is absent — GDAL's nodata report).
    ``points`` must expose ``(name, lon, lat)``. Returns
    ``(name, tile_x, tile_y, value)``.

    Scale design: the point set is tiny and BROADCASTS as the build
    side of an INNER join against the streamed tile table (one corpus
    scan, zero tile shuffle); the absent-point NULLs come from a
    point-bounded left join of the point spine onto those hits — the
    big side never carries the outer join.
    """
    from .translate import assign_tiles

    pts = assign_tiles(points, zoom).select(
        "name", F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
    )
    hits = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("value"),
    ).join(F.broadcast(pts), ["tile_x", "tile_y"], "inner")
    return (
        pts.join(F.broadcast(hits.select("name", "value")), "name", "left")
        .select("name", "tile_x", "tile_y", "value")
    )


def locationinfo_sql(
    base_cte: str,
    points_values: str,
    tx_sql: str,
    ty_sql: str,
) -> str:
    """DuckDB twin of :func:`locationinfo`. ``points_values`` is a SQL
    VALUES list ``(name, lon, lat)``; ``tx_sql``/``ty_sql`` are the
    shared tile-index expressions over ``lon``/``lat``
    (:func:`rio_cogeo_spark.functions.tile.tile_xy_sql`)."""
    return f"""{base_cte}
, li_p AS (SELECT name, {tx_sql} AS tile_x, {ty_sql} AS tile_y
           FROM (VALUES {points_values}) pts(name, lon, lat))
SELECT p.name AS name, p.tile_x, p.tile_y,
       CAST(b.page_count AS BIGINT) AS value
FROM li_p p LEFT JOIN base b USING (tile_x, tile_y)"""


def mosaic(a: DataFrame, b: DataFrame) -> DataFrame:
    """Priority mosaic of two tile grids — the ``gdal_merge.py`` analog
    (last-listed wins in GDAL; here grid ``a`` wins where both are
    present, the documented priority). Returns ``(tile_x, tile_y,
    value, src)`` with ``src ∈ {'a', 'b'}``.

    Scale design: ONE co-partitioned full-outer shuffle join on the
    tile key (both sides tile-bounded — never corpus-bounded); the
    coalesce is a projection.
    """
    pa = a.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_va"),
    )
    pb = b.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_vb"),
    )
    return pa.join(pb, ["tile_x", "tile_y"], "full_outer").select(
        "tile_x", "tile_y",
        F.coalesce(F.col("_va"), F.col("_vb")).cast("long").alias("value"),
        F.when(F.col("_va").isNotNull(), F.lit("a")).otherwise(F.lit("b"))
        .alias("src"),
    )


def mosaic_sql(a_cte: str, b_cte: str) -> str:
    """DuckDB twin of :func:`mosaic`. ``a_cte``/``b_cte`` are SELECTs
    exposing ``(tile_x, tile_y, page_count)``."""
    return f"""
WITH mo_a AS ({a_cte}), mo_b AS ({b_cte})
SELECT COALESCE(a.tile_x, b.tile_x) AS tile_x,
       COALESCE(a.tile_y, b.tile_y) AS tile_y,
       CAST(COALESCE(a.page_count, b.page_count) AS BIGINT) AS value,
       CASE WHEN a.page_count IS NOT NULL THEN 'a' ELSE 'b' END AS src
FROM mo_a a FULL OUTER JOIN mo_b b
  ON a.tile_x = b.tile_x AND a.tile_y = b.tile_y"""


def color_relief(
    tiles: DataFrame,
    breaks: "list[tuple[int, str]]",
) -> DataFrame:
    """Classified relief of the tile values — the ``gdaldem
    color-relief`` analog in its EXACT-class form (GDAL's default
    interpolates colors between ramp entries; the ``-exact-color-entry``
    mode assigns the band, which is the form a class map needs).
    ``breaks`` is an ascending list of ``(threshold, label)``; a cell
    gets the label of the LARGEST threshold ≤ its value, or
    ``'below'`` when under the first. Pure projection — the ramp is a
    plan literal; zero joins, zero shuffles. Returns
    ``(tile_x, tile_y, v, cls)``.
    """
    if not breaks:
        raise ValueError("breaks must be non-empty")
    ts = [t for t, _ in breaks]
    if ts != sorted(ts) or len(set(ts)) != len(ts):
        raise ValueError("break thresholds must be strictly ascending")
    expr = F.lit("below")
    for t, label in breaks:  # ascending: later (larger) wins
        expr = F.when(F.col("v") >= F.lit(t), F.lit(label)).otherwise(expr)
    return tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("v"),
    ).withColumn("cls", expr)


def color_relief_sql(base_cte: str, breaks: "list[tuple[int, str]]") -> str:
    """DuckDB twin of :func:`color_relief`."""
    if not breaks:
        raise ValueError("breaks must be non-empty")
    cases = " ".join(
        f"WHEN v >= {t} THEN '{label}'" for t, label in reversed(breaks)
    )
    return f"""{base_cte}
SELECT tile_x, tile_y, CAST(page_count AS BIGINT) AS v,
       CASE {cases} ELSE 'below' END AS cls
FROM base"""


def equalize(tiles: DataFrame, levels: int = 256) -> DataFrame:
    """Histogram equalization of the tile values — the classic CDF
    remap GDAL users reach via ``gdal_translate -scale`` pipelines and
    QGIS's "equalize" contrast enhancement: ``eq = ((cdf(v) − cdf_min)
    · (L − 1)) div max(1, N − cdf_min)`` — the exact-integer floor form
    of the textbook formula, so equal values share a level, the lowest
    observed value maps to 0, the highest to ``L − 1``, and a constant
    grid degenerates to 0 (the ``scale_bytes`` convention). Returns
    ``(tile_x, tile_y, v, eq)``.

    Scale design: the corpus folds ONCE into the value-frequency table
    (localCheckpoint-pinned base feeds that fold AND the final remap
    join); the CDF is ONE cumulative window on the value table (bounded
    by the distinct-value count, never corpus-sized); the (cdf_min, N)
    1-row aggregate and the finished remap table both BROADCAST back.
    """
    if levels < 2:
        raise ValueError(f"levels must be >= 2, got {levels}")
    # the frequency fold and the remap join both read this
    base = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("v"),
    ).localCheckpoint(eager=False)
    freq = base.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = freq.select("v", F.sum("cnt").over(w).alias("cum"))
    bounds = cdf.agg(
        F.min("cum").alias("cmin"), F.max("cum").alias("n")
    )
    remap = cdf.crossJoin(F.broadcast(bounds)).select(
        "v",
        F.expr(
            f"((cum - cmin) * {levels - 1}) div greatest(1, n - cmin)"
        ).cast("long").alias("eq"),
    )
    return base.join(F.broadcast(remap), "v").select(
        "tile_x", "tile_y", "v", "eq"
    )


def equalize_sql(base_cte: str, levels: int = 256) -> str:
    """DuckDB twin of :func:`equalize`."""
    return f"""{base_cte}
, eq_v AS (SELECT tile_x, tile_y, CAST(page_count AS BIGINT) AS v
           FROM base)
, eq_f AS (SELECT v, COUNT(*) AS cnt FROM eq_v GROUP BY v)
, eq_c AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM eq_f)
, eq_b AS (SELECT MIN(cum) AS cmin, MAX(cum) AS n FROM eq_c)
, eq_m AS (SELECT v,
                  ((cum - cmin) * {levels - 1})
                    // greatest(1, n - cmin) AS eq
           FROM eq_c CROSS JOIN eq_b)
SELECT t.tile_x, t.tile_y, t.v, CAST(m.eq AS BIGINT) AS eq
FROM eq_v t JOIN eq_m m USING (v)"""


def clip(
    tiles: DataFrame,
    zoom: int,
    bbox: "tuple[float, float, float, float]",
) -> DataFrame:
    """Crop the tile grid to a geographic window — the ``gdalwarp -te
    west south east north`` analog (reference cog_translate crops via
    rasterio windows, cogeo.py dst_kwargs bounds). The lon/lat box is
    resolved to an inclusive tile range at ``zoom`` ON THE DRIVER
    (:func:`rio_cogeo_spark.grid.tile_index` — the same math every tile
    in the grid was assigned with), so the operator is a pure
    plan-literal range filter plus the window re-origin: ``col_off =
    tile_x − tx0``, ``row_off = tile_y − ty0`` (GDAL's dst window
    addressing). Zero joins, zero shuffles; the range predicate is
    min/max-pruneable at the parquet scan. Returns
    ``(tile_x, tile_y, col_off, row_off, value)``.
    """
    from ..grid import tile_index

    west, south, east, north = bbox
    if not (west < east and south < north):
        raise ValueError(f"invalid bbox: {bbox}")
    # NW corner -> (tx0, ty0), SE corner -> (tx1, ty1); ty grows south
    tx0, ty0 = tile_index(west, north, zoom)
    tx1, ty1 = tile_index(east, south, zoom)
    tx0, ty0, tx1, ty1 = int(tx0), int(ty0), int(tx1), int(ty1)
    return tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("value"),
    ).filter(
        (F.col("tile_x") >= tx0) & (F.col("tile_x") <= tx1)
        & (F.col("tile_y") >= ty0) & (F.col("tile_y") <= ty1)
    ).select(
        "tile_x", "tile_y",
        (F.col("tile_x") - F.lit(tx0)).cast("long").alias("col_off"),
        (F.col("tile_y") - F.lit(ty0)).cast("long").alias("row_off"),
        "value",
    )


def clip_window(
    zoom: int, bbox: "tuple[float, float, float, float]"
) -> "tuple[int, int, int, int]":
    """The inclusive (tx0, ty0, tx1, ty1) tile window :func:`clip`
    resolves ``bbox`` to — exposed so the SQL twin can inline the SAME
    driver-computed constants."""
    from ..grid import tile_index

    west, south, east, north = bbox
    tx0, ty0 = tile_index(west, north, zoom)
    tx1, ty1 = tile_index(east, south, zoom)
    return int(tx0), int(ty0), int(tx1), int(ty1)


def clip_sql(base_cte: str, window: "tuple[int, int, int, int]") -> str:
    """DuckDB twin of :func:`clip` — ``window`` from
    :func:`clip_window`."""
    tx0, ty0, tx1, ty1 = window
    return f"""{base_cte}
SELECT tile_x, tile_y,
       CAST(tile_x - {tx0} AS BIGINT) AS col_off,
       CAST(tile_y - {ty0} AS BIGINT) AS row_off,
       CAST(page_count AS BIGINT) AS value
FROM base
WHERE tile_x BETWEEN {tx0} AND {tx1}
  AND tile_y BETWEEN {ty0} AND {ty1}"""


_UPSAMPLE_FACTOR = 2


def upsample(tiles: DataFrame) -> DataFrame:
    """Nearest-neighbor upsample of the tile grid by a factor of 2
    — the ``gdal_translate -outsize 200% 200%`` analog (and the inverse
    of one overview decimation step): every tile becomes its
    ``factor²`` children at the finer grid with the value copied.
    Pure explode projection — the child-offset array is a plan literal;
    zero joins, zero shuffles. Returns ``(tile_x, tile_y, value)`` in
    child-grid coordinates (``child_x = tile_x·2 + i``).
    """
    off = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
            for i in range(_UPSAMPLE_FACTOR) for j in range(_UPSAMPLE_FACTOR)
        ])
    ).alias("off")
    return tiles.select(
        F.col("tile_x").cast("long").alias("_tx"),
        F.col("tile_y").cast("long").alias("_ty"),
        F.col("page_count").cast("long").alias("value"),
        off,
    ).select(
        (F.col("_tx") * _UPSAMPLE_FACTOR + F.col("off.i")).cast("long")
        .alias("tile_x"),
        (F.col("_ty") * _UPSAMPLE_FACTOR + F.col("off.j")).cast("long")
        .alias("tile_y"),
        "value",
    )


def upsample_sql(base_cte: str) -> str:
    """DuckDB twin of :func:`upsample`."""
    return f"""{base_cte}
SELECT CAST(b.tile_x * {_UPSAMPLE_FACTOR} + o1.range AS BIGINT) AS tile_x,
       CAST(b.tile_y * {_UPSAMPLE_FACTOR} + o2.range AS BIGINT) AS tile_y,
       CAST(b.page_count AS BIGINT) AS value
FROM base b CROSS JOIN range({_UPSAMPLE_FACTOR}) o1 CROSS JOIN range({_UPSAMPLE_FACTOR}) o2"""


_CALC_OPS = {
    "add": "va + vb",
    "sub": "va - vb",
    "mul": "va * vb",
    "min": "least(va, vb)",
    "max": "greatest(va, vb)",
}


def raster_calc(a: DataFrame, b: DataFrame, op: str = "sub") -> DataFrame:
    """Cell-wise algebra between two aligned tile grids — the
    ``gdal_calc.py -A .. -B .. --calc`` analog. A cell absent from one
    grid contributes 0 (the density-grid convention: an unmaterialized
    tile has zero pages — NOT GDAL's nodata-propagates default, which
    :func:`mosaic` covers; documented divergence). ``op`` is one of
    ``add | sub | mul | min | max``. Returns
    ``(tile_x, tile_y, va, vb, res)``.

    Scale design: ONE co-partitioned full-outer shuffle join on the
    tile key (both sides tile-bounded); the algebra is a projection.
    """
    if op not in _CALC_OPS:
        raise ValueError(f"op must be one of {sorted(_CALC_OPS)}, got {op!r}")
    pa = a.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_va"),
    )
    pb = b.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_vb"),
    )
    return (
        pa.join(pb, ["tile_x", "tile_y"], "full_outer")
        .select(
            "tile_x", "tile_y",
            F.coalesce(F.col("_va"), F.lit(0)).cast("long").alias("va"),
            F.coalesce(F.col("_vb"), F.lit(0)).cast("long").alias("vb"),
        )
        .withColumn("res", F.expr(_CALC_OPS[op]).cast("long"))
    )


def raster_calc_sql(a_cte: str, b_cte: str) -> str:
    """DuckDB twin of :func:`raster_calc`. ``a_cte``/``b_cte`` are
    SELECTs exposing ``(tile_x, tile_y, page_count)``."""
    return f"""
WITH rc_a AS ({a_cte}), rc_b AS ({b_cte})
, rc_j AS (SELECT COALESCE(a.tile_x, b.tile_x) AS tile_x,
                  COALESCE(a.tile_y, b.tile_y) AS tile_y,
                  CAST(COALESCE(a.page_count, 0) AS BIGINT) AS va,
                  CAST(COALESCE(b.page_count, 0) AS BIGINT) AS vb
           FROM rc_a a FULL OUTER JOIN rc_b b
             ON a.tile_x = b.tile_x AND a.tile_y = b.tile_y)
SELECT tile_x, tile_y, va, vb, CAST({_CALC_OPS["sub"]} AS BIGINT) AS res
FROM rc_j"""


def raster_compare(a: DataFrame, b: DataFrame) -> DataFrame:
    """Structural diff of two tile grids — the ``gdalcompare.py``
    analog (GDAL reports band checksum/pixel differences; this is the
    grid-shaped summary a regression harness wants). ONE row:
    ``(n_only_a, n_only_b, n_both, n_same, n_diff, max_abs_diff,
    sum_abs_diff)`` — ``n_same``/``n_diff`` partition ``n_both``, the
    diff stats cover only co-present cells.

    Scale design: one co-partitioned full-outer tile join straight
    into ONE combinable aggregate — nothing corpus-sized survives.
    """
    pa = a.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_va"),
    )
    pb = b.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("page_count").cast("long").alias("_vb"),
    )
    j = pa.join(pb, ["tile_x", "tile_y"], "full_outer")
    both = F.col("_va").isNotNull() & F.col("_vb").isNotNull()
    diff = F.abs(F.col("_va") - F.col("_vb"))
    return j.agg(
        F.sum(
            (F.col("_va").isNotNull() & F.col("_vb").isNull()).cast("long")
        ).alias("n_only_a"),
        F.sum(
            (F.col("_va").isNull() & F.col("_vb").isNotNull()).cast("long")
        ).alias("n_only_b"),
        F.sum(both.cast("long")).alias("n_both"),
        F.sum(
            (both & (F.col("_va") == F.col("_vb"))).cast("long")
        ).alias("n_same"),
        F.sum(
            (both & (F.col("_va") != F.col("_vb"))).cast("long")
        ).alias("n_diff"),
        F.coalesce(
            F.max(F.when(both, diff)), F.lit(0)
        ).cast("long").alias("max_abs_diff"),
        F.coalesce(
            F.sum(F.when(both, diff)), F.lit(0)
        ).cast("long").alias("sum_abs_diff"),
    )


def raster_compare_sql(a_cte: str, b_cte: str) -> str:
    """DuckDB twin of :func:`raster_compare`."""
    return f"""
WITH cp_a AS ({a_cte}), cp_b AS ({b_cte})
, cp_j AS (SELECT CAST(a.page_count AS BIGINT) AS va,
                  CAST(b.page_count AS BIGINT) AS vb
           FROM cp_a a FULL OUTER JOIN cp_b b
             ON a.tile_x = b.tile_x AND a.tile_y = b.tile_y)
SELECT CAST(COALESCE(SUM(CASE WHEN va IS NOT NULL AND vb IS NULL
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_only_a,
       CAST(COALESCE(SUM(CASE WHEN va IS NULL AND vb IS NOT NULL
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_only_b,
       CAST(COALESCE(SUM(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_both,
       CAST(COALESCE(SUM(CASE WHEN va = vb THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_same,
       CAST(COALESCE(SUM(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
                              AND va <> vb THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_diff,
       CAST(COALESCE(MAX(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
                              THEN abs(va - vb) END), 0) AS BIGINT)
         AS max_abs_diff,
       CAST(COALESCE(SUM(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
                              THEN abs(va - vb) END), 0) AS BIGINT)
         AS sum_abs_diff
FROM cp_j"""


# slope expression shared by both engines: percent slope in mil —
# gdaldem slope -p with cellsize 1 is 100·sqrt(gx²+gy²) with
# (gx, gy) = (gx8, gy8)/8, so pct_mil = 100000·sqrt(slope_sq)/8.
# ONE pinned IEEE sqrt (the spearman discipline: both engines evaluate
# the identical double expression tree, so the floor is deterministic).
SLOPE_PCT_MIL = (
    "CAST(FLOOR(sqrt(CAST(slope_sq AS DOUBLE)) * 100000.0 / 8.0)"
    " AS BIGINT)"
)


def slope_pct(tiles: DataFrame, zoom: int) -> DataFrame:
    """Percent slope of the density surface — the ``gdaldem slope -p``
    analog completing the gdaldem family (hillshade / aspect / TRI /
    TPI / roughness / color-relief are siblings). Horn '81 gradients
    ride :func:`rio_cogeo_spark.operators.focal.aspect8`'s exact
    integer fold (``slope_sq = gx8² + gy8²`` BIGINT); the only
    non-integer step is ONE pinned IEEE sqrt shared verbatim with the
    oracle (``SLOPE_PCT_MIL``), floored to mil. Returns
    ``(tile_x, tile_y, gx8, gy8, slope_sq, slope_pct_mil)``.

    Scale design: inherits aspect8's shape — one literal-offset vote
    explode + ONE combinable 9-slot aggregate + projections; no join,
    no window, no trig.
    """
    from .focal import aspect8

    return aspect8(tiles, zoom).select(
        "tile_x", "tile_y", "gx8", "gy8", "slope_sq",
        F.expr(SLOPE_PCT_MIL).alias("slope_pct_mil"),
    )


def slope_pct_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`slope_pct` — wraps
    :func:`rio_cogeo_spark.operators.focal.aspect8_sql`."""
    from .focal import aspect8_sql

    inner = aspect8_sql(base_cte, zoom)
    return f"""WITH sp_a AS ({inner})
SELECT tile_x, tile_y, gx8, gy8, slope_sq,
       {SLOPE_PCT_MIL} AS slope_pct_mil
FROM sp_a"""


def footprint(
    tiles: DataFrame,
    zoom: int,
    rounds: int = 4,
) -> DataFrame:
    """Data-footprint extraction — the ``gdal_footprint`` analog
    (GDAL 3.8's footprint utility vectorizes the valid-data mask; here
    each rook-connected region of OCCUPIED tiles reports its bounding
    box and fill ratio). Rides :func:`
    rio_cogeo_spark.operators.focal.polygonize` on the occupancy mask
    (value projected to 1 so ONLY adjacency merges regions; exact for
    region diameter ≤ ``rounds`` — the shared bounded-round contract).
    Returns ``(label, n_cells, min_x, min_y, max_x, max_y, fill_ppm)``
    where ``fill_ppm = n_cells·10⁶ div (bbox_w·bbox_h)`` — exact
    BIGINT.

    Scale design: polygonize's ``rounds`` bounded vote shuffles + ONE
    label-key aggregate (bounded by occupied cells).
    """
    from .focal import polygonize

    occ = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.lit(1).cast("long").alias("page_count"),
    )
    regions = polygonize(occ, zoom, rounds=rounds)
    return (
        regions.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.min("tile_x").cast("long").alias("min_x"),
            F.min("tile_y").cast("long").alias("min_y"),
            F.max("tile_x").cast("long").alias("max_x"),
            F.max("tile_y").cast("long").alias("max_y"),
        )
        .select(
            "label", "n_cells", "min_x", "min_y", "max_x", "max_y",
            F.expr(
                "(n_cells * 1000000) div"
                " ((max_x - min_x + 1) * (max_y - min_y + 1))"
            ).cast("long").alias("fill_ppm"),
        )
    )


def footprint_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`footprint` — wraps
    :func:`rio_cogeo_spark.operators.focal.polygonize_sql` on the
    occupancy projection."""
    from .focal import polygonize_sql

    occ_cte = f"""WITH fp_base AS ({base_cte}
SELECT tile_x, tile_y, 1 AS page_count FROM base),
base AS (SELECT * FROM fp_base)"""
    inner = polygonize_sql(occ_cte, zoom)
    return f"""WITH fp_r AS ({inner})
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MIN(tile_x) AS BIGINT) AS min_x,
       CAST(MIN(tile_y) AS BIGINT) AS min_y,
       CAST(MAX(tile_x) AS BIGINT) AS max_x,
       CAST(MAX(tile_y) AS BIGINT) AS max_y,
       CAST((COUNT(*) * 1000000)
            // ((MAX(tile_x) - MIN(tile_x) + 1)
                * (MAX(tile_y) - MIN(tile_y) + 1)) AS BIGINT) AS fill_ppm
FROM fp_r GROUP BY label"""


def _idw_weights(radius: int) -> "dict[int, int]":
    """Integer inverse-square weights: scale 1/d² by lcm{d²} so every
    weight is exact BIGINT — w(d) = lcm(1..R²)/d²."""
    import math

    lcm = math.lcm(*[d * d for d in range(1, radius + 1)])
    return {d: lcm // (d * d) for d in range(1, radius + 1)}


_IDW_RADIUS = 2


def idw(tiles: DataFrame, zoom: int) -> DataFrame:
    """Inverse-distance-weighted interpolation — the ``gdal_grid
    invdist`` analog with the EXACT-integer kernel: weights are
    ``lcm{d²}/d²`` over Chebyshev distance ``d ≤ 2`` (the scaled
    1/d² — identical ordering to GDAL's invdist power-2, but every
    weight is BIGINT so the quotient is deterministic). An OCCUPIED
    node reports its own value exactly (GDAL's behavior when a sample
    sits on the node); an empty node within range reports
    ``floor(1000·Σw·v / Σw)``. Returns ``(tile_x, tile_y, value_mil,
    n_votes, src)`` with ``src ∈ {'data', 'interp'}``.

    Scale design: the aspect8 shape — one literal-offset vote explode
    ((2R+1)² slots) + ONE combinable aggregate + a projection; no
    join, no window.
    """
    w = _idw_weights(_IDW_RADIUS)
    n = F.lit(2 ** zoom)
    offs = [
        (dx, dy, 0 if (dx == 0 and dy == 0) else w[max(abs(dx), abs(dy))])
        for dx in range(-_IDW_RADIUS, _IDW_RADIUS + 1)
        for dy in range(-_IDW_RADIUS, _IDW_RADIUS + 1)
    ]
    off = F.explode(
        F.array(*[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                F.lit(wt).alias("wt"),
            )
            for dx, dy, wt in offs
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
        F.max((F.col("wt") == 0).cast("int")).alias("_occ"),
        F.max(F.when(F.col("wt") == 0, F.col("_v"))).alias("_self_v"),
        F.sum(
            F.when(
                F.col("wt") > 0,
                F.col("wt").cast("decimal(38,0)") * F.col("_v"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("_num"),
        F.sum(F.when(F.col("wt") > 0, F.col("wt")).otherwise(F.lit(0)))
        .alias("_den"),
        F.sum((F.col("wt") > 0).cast("long")).alias("n_votes"),
    )
    return agg.select(
        F.col("nx").alias("tile_x"), F.col("ny").alias("tile_y"),
        F.when(F.col("_occ") == 1, F.col("_self_v") * 1000)
        .otherwise(
            F.expr("cast((_num * 1000) div _den as bigint)")
        ).cast("long").alias("value_mil"),
        F.col("n_votes").cast("long").alias("n_votes"),
        F.when(F.col("_occ") == 1, F.lit("data")).otherwise(F.lit("interp"))
        .alias("src"),
    )


def idw_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`idw`."""
    w = _idw_weights(_IDW_RADIUS)
    edge = 2 ** zoom - 1
    rows = ", ".join(
        f"({dx}, {dy}, "
        f"{0 if (dx == 0 and dy == 0) else w[max(abs(dx), abs(dy))]})"
        for dx in range(-_IDW_RADIUS, _IDW_RADIUS + 1)
        for dy in range(-_IDW_RADIUS, _IDW_RADIUS + 1)
    )
    return f"""{base_cte}
, iw_v AS (SELECT b.tile_x + o.dx AS nx, b.tile_y + o.dy AS ny,
                  o.wt, CAST(b.page_count AS BIGINT) AS v
           FROM base b, (VALUES {rows}) o(dx, dy, wt)
           WHERE b.tile_x + o.dx BETWEEN 0 AND {edge}
             AND b.tile_y + o.dy BETWEEN 0 AND {edge})
, iw_a AS (SELECT nx, ny,
                  MAX(CASE WHEN wt = 0 THEN 1 ELSE 0 END) AS occ,
                  MAX(CASE WHEN wt = 0 THEN v END) AS self_v,
                  SUM(CASE WHEN wt > 0
                           THEN CAST(wt AS HUGEINT) * v
                           ELSE 0 END) AS num,
                  SUM(CASE WHEN wt > 0 THEN wt ELSE 0 END) AS den,
                  SUM(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS n_votes
           FROM iw_v GROUP BY nx, ny)
SELECT CAST(nx AS BIGINT) AS tile_x, CAST(ny AS BIGINT) AS tile_y,
       CAST(CASE WHEN occ = 1 THEN self_v * 1000
                 ELSE (num * 1000) // den END AS BIGINT) AS value_mil,
       CAST(n_votes AS BIGINT) AS n_votes,
       CASE WHEN occ = 1 THEN 'data' ELSE 'interp' END AS src
FROM iw_a"""


def tindex(tiles: DataFrame, zoom: int) -> DataFrame:
    """Tile-bounds index — the ``gdaltindex`` analog (GDAL emits a
    vector layer with one bbox feature per raster; here one row per
    tile with its EPSG:3857 bounds). Bounds are pinned doubles floored
    to millimeter BIGINTs: ``west_mm = floor((tx·span − OS)·1000)``
    with ``span = 2·OS/2^z`` computed ON THE DRIVER and inlined as the
    SAME literal in both engines (the spearman pinned-float
    discipline: identical IEEE expression tree ⇒ identical floor).
    Pure projection — zero joins, zero shuffles. Returns ``(tile_x,
    tile_y, west_mm, south_mm, east_mm, north_mm, value)``.
    """
    from ..grid import ORIGIN_SHIFT

    span = 2.0 * ORIGIN_SHIFT / (2 ** zoom)
    os_l = F.lit(float(ORIGIN_SHIFT))
    sp_l = F.lit(float(span))
    tx = F.col("tile_x").cast("double")
    ty = F.col("tile_y").cast("double")
    return tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.floor((tx * sp_l - os_l) * F.lit(1000.0)).cast("long")
        .alias("west_mm"),
        F.floor((os_l - (ty + F.lit(1.0)) * sp_l) * F.lit(1000.0))
        .cast("long").alias("south_mm"),
        F.floor(((tx + F.lit(1.0)) * sp_l - os_l) * F.lit(1000.0))
        .cast("long").alias("east_mm"),
        F.floor((os_l - ty * sp_l) * F.lit(1000.0)).cast("long")
        .alias("north_mm"),
        F.col("page_count").cast("long").alias("value"),
    )


def tindex_sql(base_cte: str, zoom: int) -> str:
    """DuckDB twin of :func:`tindex` — the same driver-computed
    literals, the same IEEE expression tree."""
    from ..grid import ORIGIN_SHIFT

    span = 2.0 * ORIGIN_SHIFT / (2 ** zoom)
    os_r, sp_r = repr(float(ORIGIN_SHIFT)), repr(float(span))
    return f"""{base_cte}
SELECT tile_x, tile_y,
       CAST(FLOOR((CAST(tile_x AS DOUBLE) * {sp_r} - {os_r}) * 1000.0)
            AS BIGINT) AS west_mm,
       CAST(FLOOR(({os_r} - (CAST(tile_y AS DOUBLE) + 1.0) * {sp_r})
                  * 1000.0) AS BIGINT) AS south_mm,
       CAST(FLOOR(((CAST(tile_x AS DOUBLE) + 1.0) * {sp_r} - {os_r})
                  * 1000.0) AS BIGINT) AS east_mm,
       CAST(FLOOR(({os_r} - CAST(tile_y AS DOUBLE) * {sp_r}) * 1000.0)
            AS BIGINT) AS north_mm,
       CAST(page_count AS BIGINT) AS value
FROM base"""
