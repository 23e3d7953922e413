"""Rasterized pixel tiles: the literal 512x512-block analog.

Where translate.py aggregates one scalar per tile cell, this operator
materializes each tile as a **pixel grid** (density raster) — the direct
counterpart of the reference's per-block pixel windows
(/root/reference/rio_cogeo/cogeo.py:362-379) — and downsamples parent
pixels with the reference's resampling kernels (cogeo.py:46-58: nearest,
average, mode, rms, plus warp 'sum', cogeo.py:60-72).

Execution: ``groupBy(tile).applyInPandas`` — per-tile 2D histogram via one
vectorized ``np.bincount`` per group; hot megacity tiles are bounded by
the tile's pixel count (the histogram is O(points) regardless of
density). Pixel arrays are ``array<long>`` rows of length px*px
(px=512 default; tests use smaller for speed).

Skew note (north_star): a single hot tile's points all land in one group.
For 10^12-page scale, ``rasterize_tiles(salt_partials=True)`` computes
per-salt partial histograms in parallel and sums them — the manual
partial/final aggregation pattern (SURVEY.md §4) — at the cost of one
extra (tiny, tiles x n_salt) shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rio_cogeo_spark import grid
from rio_cogeo_spark.operators.translate import assign_tiles

# Kernel-name sets live in grid.py (shared, zero-Spark); re-exported here
# as the natural import site for raster consumers.
RIO_KERNELS = grid.RIO_KERNELS
WARP_KERNELS = grid.WARP_KERNELS
ALL_KERNELS = grid.ALL_KERNELS


def _pixel_schema(px: int, weight_cols=()) -> str:
    base = "tile_x long, tile_y long, pixels array<long>"
    for c in weight_cols:
        base += f", px_{c} array<double>"
    return base


def rasterize_tiles(
    pages: DataFrame,
    zoom: int,
    px: int = grid.DEFAULT_BLOCKSIZE,
    salt_partials: bool = False,
    n_salt: int = 8,
    weight_cols: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """Per-tile point-density raster: pixels[r*px + c] = #pages in that
    sub-cell. Returns (zoom, tile_x, tile_y, pixels[, px_<col>...]).

    ``weight_cols`` adds one band per numeric column — the multi-band
    analog of the reference's per-band block writes (cogeo.py:362-375):
    ``px_<col>[r*px + c]`` = sum of that column over the sub-cell's pages
    (one extra weighted ``np.bincount`` per band, same single pass).
    """
    n = 1 << zoom
    span = 2.0 * grid.ORIGIN_SHIFT
    origin = grid.ORIGIN_SHIFT
    weight_cols = tuple(weight_cols)

    def _hist(pdf: pd.DataFrame) -> pd.DataFrame:
        tx = int(pdf["tile_x"].iloc[0])
        ty = int(pdf["tile_y"].iloc[0])
        mx, my = grid.lonlat_to_mercator(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
        fx = (mx + origin) / span * n - tx
        fy = (origin - my) / span * n - ty
        col = np.clip((fx * px).astype(np.int64), 0, px - 1)
        row = np.clip((fy * px).astype(np.int64), 0, px - 1)
        flat_idx = row * px + col
        out = {
            "tile_x": [tx],
            "tile_y": [ty],
            "pixels": [np.bincount(flat_idx, minlength=px * px).astype(np.int64)],
        }
        for c in weight_cols:
            out[f"px_{c}"] = [
                np.bincount(
                    flat_idx,
                    weights=pdf[c].to_numpy(dtype=np.float64),
                    minlength=px * px,
                )
            ]
        return pd.DataFrame(out)

    assigned = assign_tiles(pages, zoom).select(
        "tile_x", "tile_y", "lon", "lat", *weight_cols
    )

    band_cols = ["pixels"] + [f"px_{c}" for c in weight_cols]
    if not salt_partials:
        out = assigned.groupBy("tile_x", "tile_y").applyInPandas(
            _hist, _pixel_schema(px, weight_cols)
        )
    else:
        # manual partial/final agg: per-(tile, salt) histograms in
        # parallel, then elementwise vector sum per tile and band
        salted = assigned.withColumn(
            "salt", F.pmod(F.hash("lon", "lat"), F.lit(n_salt))
        )

        def _hist_salted(pdf: pd.DataFrame) -> pd.DataFrame:
            return _hist(pdf)

        partial = salted.groupBy("tile_x", "tile_y", "salt").applyInPandas(
            _hist_salted, _pixel_schema(px, weight_cols)
        )

        def _vec_sum(col_name: str, zero):
            return F.aggregate(
                F.collect_list(col_name),
                F.array_repeat(zero, px * px),
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            ).alias(col_name)

        aggs = [_vec_sum("pixels", F.lit(0).cast("long"))]
        aggs += [_vec_sum(f"px_{c}", F.lit(0.0)) for c in weight_cols]
        out = partial.groupBy("tile_x", "tile_y").agg(*aggs)
    return out.withColumn("zoom", F.lit(zoom).cast("int")).select(
        "zoom", "tile_x", "tile_y", *band_cols
    )


# --------------------------------------------------------------------------
# Resampling kernels over 2x2 child pixel blocks (cogeo.py:46-72).
#
# Full RIOResampling kernel set (cogeo.py:49-58): nearest, bilinear, cubic,
# cubic_spline, lanczos, average, mode, gauss, rms — plus warp 'sum'
# (cogeo.py:60-72) and min/max. Window kernels (nearest/average/mode/rms/
# sum/min/max) reduce each 2x2 child block; interpolating kernels
# (bilinear/cubic/cubic_spline/lanczos/gauss) are separable 1D convolutions
# sampled at the destination pixel center — which for exact 2x decimation
# falls on the corner between 4 source pixels, so every tap offset is a
# half-integer. Borders clamp to the tile edge (per-tile kernel; at
# cluster scale a halo exchange of 1-2 px rows between neighbor tiles
# removes the seam — documented divergence from GDAL, which convolves the
# full raster).
# --------------------------------------------------------------------------


def _kernel_taps(kernel: str) -> np.ndarray:
    """1D half-integer tap weights (normalized) for interpolating kernels.

    Offsets are symmetric half-integers around the sample point: 4-tap
    kernels use [-1.5, -0.5, 0.5, 1.5], lanczos(a=3) uses 6 taps.
    """
    if kernel == "bilinear":
        # triangle weights at ±0.5 → the 2-tap box (exact for 2x)
        return np.array([0.5, 0.5])
    if kernel == "cubic":
        # Keys cubic, a = -0.5 (Catmull-Rom): w(0.5)=0.5625, w(1.5)=-0.0625
        return np.array([-0.0625, 0.5625, 0.5625, -0.0625])
    if kernel == "cubic_spline":
        # cubic B-spline: B(0.5)=23/48, B(1.5)=1/48
        return np.array([1.0, 23.0, 23.0, 1.0]) / 48.0
    if kernel == "lanczos":
        # Lanczos a=3: L(x)=sinc(x)sinc(x/3) at ±0.5, ±1.5, ±2.5, normalized
        x = np.array([-2.5, -1.5, -0.5, 0.5, 1.5, 2.5])
        w = np.sinc(x) * np.sinc(x / 3.0)
        return w / w.sum()
    if kernel == "gauss":
        # gaussian sigma=1 at ±0.5, ±1.5, normalized (GDAL gauss analog)
        x = np.array([-1.5, -0.5, 0.5, 1.5])
        w = np.exp(-0.5 * x * x)
        return w / w.sum()
    raise ValueError(f"unknown interpolating kernel: {kernel}")


_INTERPOLATING = {"bilinear", "cubic", "cubic_spline", "lanczos", "gauss"}


def _sep_decimate(block: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Separable 2x decimation: 1D convolution with ``w`` (taps at
    half-integer offsets) along rows then columns, edge-clamped."""
    t = len(w)
    pad = t // 2 - 1
    x = block.astype(np.float64)
    xp = np.pad(x, ((pad, pad), (0, 0)), mode="edge")
    rows = np.arange(x.shape[0] // 2) * 2
    out = sum(w[k] * xp[rows + k, :] for k in range(t))
    outp = np.pad(out, ((0, 0), (pad, pad)), mode="edge")
    cols = np.arange(x.shape[1] // 2) * 2
    return sum(w[k] * outp[:, cols + k] for k in range(t))


def _decimate(block: np.ndarray, kernel: str) -> np.ndarray:
    """block: (2h, 2w) → (h, w) by 2x2 windows (window kernels) or a
    separable convolution (interpolating kernels)."""
    if kernel in _INTERPOLATING:
        out = _sep_decimate(block, _kernel_taps(kernel))
        if np.issubdtype(block.dtype, np.integer):
            return np.rint(out).astype(block.dtype)
        return out.astype(block.dtype)
    h2, w2 = block.shape
    q = block.reshape(h2 // 2, 2, w2 // 2, 2).transpose(0, 2, 1, 3).reshape(
        h2 // 2, w2 // 2, 4
    )
    if kernel == "nearest":
        return q[:, :, 0]
    if kernel == "sum":
        return q.sum(axis=2)
    if kernel == "average":
        return q.mean(axis=2).astype(block.dtype)
    if kernel == "rms":
        return np.sqrt((q.astype(np.float64) ** 2).mean(axis=2)).astype(block.dtype)
    if kernel == "mode":
        s = np.sort(q, axis=2)
        runs = np.concatenate(
            [np.ones(s.shape[:2] + (1,), dtype=np.int64),
             (s[:, :, 1:] != s[:, :, :-1]).cumsum(axis=2) + 1],
            axis=2,
        )
        # count occurrences per run id, pick value of the longest run
        best = np.empty(s.shape[:2], dtype=block.dtype)
        for i in range(s.shape[0]):  # small loop: px/2 rows
            for j in range(s.shape[1]):
                vals, counts = np.unique(s[i, j], return_counts=True)
                best[i, j] = vals[np.argmax(counts)]
        return best
    if kernel == "min":
        return q.min(axis=2)
    if kernel == "max":
        return q.max(axis=2)
    raise ValueError(f"unknown kernel: {kernel}")


def downsample_pixel_level(tiles_px: DataFrame, px: int, kernel: str = "sum") -> DataFrame:
    """One overview level of pixel tiles: assemble up to 2x2 children into
    the parent's (2px)² grid, decimate 2x2→1 with ``kernel``. Missing
    children are zero (sparse-safe, the reference's sparse.tif case).

    Input/output schema: (zoom, tile_x, tile_y, pixels array<long>).
    """
    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        z = int(pdf["zoom"].iloc[0])
        ptx = int(pdf["ptx"].iloc[0])
        pty = int(pdf["pty"].iloc[0])
        big = np.zeros((2 * px, 2 * px), dtype=np.int64)
        for _, r in pdf.iterrows():
            dy = int(r["tile_y"]) - 2 * pty
            dx = int(r["tile_x"]) - 2 * ptx
            big[dy * px:(dy + 1) * px, dx * px:(dx + 1) * px] = np.asarray(
                r["pixels"], dtype=np.int64
            ).reshape(px, px)
        dec = _decimate(big, kernel)
        return pd.DataFrame(
            {
                "zoom": [z - 1],
                "tile_x": [ptx],
                "tile_y": [pty],
                "pixels": [dec.reshape(-1).astype(np.int64)],
            }
        )

    with_parent = tiles_px.withColumn(
        "ptx", F.floor(F.col("tile_x") / 2).cast("long")
    ).withColumn("pty", F.floor(F.col("tile_y") / 2).cast("long"))
    # zoom is in the key so a multi-zoom frame never mixes levels in one group
    return (
        with_parent.groupBy("zoom", "ptx", "pty")
        .applyInPandas(_merge, "zoom int, tile_x long, tile_y long, pixels array<long>")
    )


def build_pixel_pyramid(
    pages: DataFrame,
    max_zoom: int,
    levels: int,
    px: int = grid.DEFAULT_BLOCKSIZE,
    kernel: str = "sum",
) -> DataFrame:
    """Rasterized overview pyramid: base density tiles at ``max_zoom``,
    then ``levels`` pixel-level overview builds with ``kernel`` — the
    literal per-block analog of the reference's overview chain
    (cogeo.py:381-393 with overview_resampling, cogeo.py:46-58).

    Output: (zoom, tile_x, tile_y, pixels array<long>) for zooms
    ``max_zoom .. max_zoom - levels``. Each level's groupBy shuffles ~4x
    fewer, fixed-size rows (px*px longs). Nothing is persisted: each
    level is both a union branch and the next level's input, and
    exchange reuse shares its input exchange between the two, so each
    level's ``applyInPandas`` merge runs at most twice per action and
    nothing stays cached after it.
    """
    if kernel not in ALL_KERNELS:
        raise ValueError(
            f"Invalid overview resampling kernel: {kernel}. "
            f"Should be one of {sorted(ALL_KERNELS)}."
        )
    level = rasterize_tiles(pages, max_zoom, px)
    out = level
    for _ in range(levels):
        level = downsample_pixel_level(level, px, kernel)
        out = out.unionByName(level)
    return out


def rle_encode_tiles(tiles: DataFrame) -> DataFrame:
    """Run-length encoding of per-tile pixel arrays — the declarative
    form of the reference's block compression step (COG blocks deflate
    per tile, cogeo.py profile ``compress=``; for the sparse integer
    density rasters this engine builds, RLE is the textbook codec and
    the run table IS the compressed store: ``run_len`` sums back to the
    pixel count, ``value`` repeats reconstruct the block).

    Output ``(tile_x, tile_y, run_idx, value, run_len)`` — ``run_idx``
    0-based in raster order; exact ints end to end.

    Scale design (100 TB): pixels explode with position, run boundaries
    come from one LAG and run ids from one running SUM — BOTH windows
    partition by the tile key and are bounded by the block's pixel
    count (px², a constant — the same per-block bound the reference's
    deflate has), never by corpus or grid size; the final fold is a
    combinable count/min per (tile, run).
    """
    w = Window.partitionBy("tile_x", "tile_y").orderBy("pos")
    ex = tiles.select(
        F.col("tile_x"), F.col("tile_y"),
        F.posexplode(F.col("pixels")).alias("pos", "value"),
    )
    runs = (
        ex.withColumn(
            "_new_run",
            F.when(
                F.lag("value").over(w).isNull()
                | (F.lag("value").over(w) != F.col("value")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("_run_id", F.sum("_new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return (
        runs.groupBy("tile_x", "tile_y", "_run_id")
        .agg(
            F.min("pos").alias("_start"),
            F.first("value").alias("value"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .select(
            "tile_x", "tile_y",
            (F.col("_run_id") - 1).cast("long").alias("run_idx"),
            F.col("value").cast("long").alias("value"),
            F.col("run_len").cast("long").alias("run_len"),
        )
    )


def rle_encode_tiles_sql(tiles_cte: str) -> str:
    """DuckDB twin of :func:`rle_encode_tiles` (``tiles_cte`` exposes
    ``(tile_x, tile_y, pixels)``)."""
    return f"""
WITH rle_t AS ({tiles_cte}),
rle_e AS (SELECT tile_x, tile_y, u.i - 1 AS pos, u.v AS value
          FROM rle_t,
               unnest(list_transform(pixels,
                      (x, i) -> struct_pack(i := i, v := x))) AS t(u)),
rle_b AS (SELECT tile_x, tile_y, pos, value,
                 CASE WHEN lag(value) OVER w IS NULL
                        OR lag(value) OVER w <> value
                      THEN 1 ELSE 0 END AS new_run
          FROM rle_e
          WINDOW w AS (PARTITION BY tile_x, tile_y ORDER BY pos)),
rle_r AS (SELECT tile_x, tile_y, pos, value,
                 SUM(new_run) OVER (PARTITION BY tile_x, tile_y
                                    ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS run_id
          FROM rle_b)
SELECT tile_x, tile_y,
       CAST(run_id - 1 AS BIGINT) AS run_idx,
       CAST(MIN(value) AS BIGINT) AS value,
       CAST(COUNT(*) AS BIGINT) AS run_len
FROM rle_r GROUP BY tile_x, tile_y, run_id"""


def rle_decode_tiles(runs: DataFrame) -> DataFrame:
    """Inverse of :func:`rle_encode_tiles`: rebuild ``(tile_x, tile_y,
    pixels)`` from the run table. Each run explodes into its pixels via
    a ``sequence`` (zero-shuffle projection) and the block reassembles
    with one per-tile sorted fold (bounded by the block pixel count,
    as the encoder's windows are)."""
    w_runs = runs.select(
        F.col("tile_x"), F.col("tile_y"), "run_idx", "value", "run_len"
    )
    # absolute start offset of each run = sum of earlier runs' lengths
    w = Window.partitionBy("tile_x", "tile_y").orderBy("run_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ex = (
        w_runs.withColumn(
            "_start", F.coalesce(F.sum("run_len").over(w), F.lit(0))
        )
        .select(
            "tile_x", "tile_y", "value",
            F.explode(
                F.sequence(
                    F.col("_start"), F.col("_start") + F.col("run_len") - 1
                )
            ).alias("pos"),
        )
    )
    return (
        ex.groupBy("tile_x", "tile_y")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "value"))),
                lambda st: st["value"],
            ).alias("pixels")
        )
    )
