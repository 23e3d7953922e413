"""``cog_translate`` analog: pages → per-zoom tile pyramid + tiles_meta.

Reference lifecycle (/root/reference/rio_cogeo/cogeo.py:75-467, SURVEY.md §3.1):

* stage 1 analyze  — infer bands/nodata/extent        → here: bounds agg + BandSpecs
* stage 2 plan     — vrt_params / aligned output grid → here: :class:`TileJobPlan`
* stage 3 execute  — per-block read/write loop        → here: ONE tile-assignment
  projection (JVM expression, no shuffle) + base-zoom groupBy (partial agg map-side)
* stage 4 aggregate— build_overviews([base**j ...])   → here: per-level
  ``groupBy(tx // base, ty // base)`` chain (cogeo.py:381-390)
* stage 5 finalize — ordered COG copy                 → here: deterministic
  write order ``zoom ASC, tile_y, tile_x`` (smallest overview first, main
  image last — cogeo.py:544-548,654-679)

Scale design (100 TB): the pages scan happens once; every pyramid level
re-aggregates the previous level (rows shrink ~4x per level), so shuffle
bytes are bounded by the base tile count, not the page count. All band
aggregates must be *mergeable* (sum/min/max/count, HLL sketch for distinct)
— the same constraint GDAL's overview resampling kernels satisfy.
Hot-cell skew at the base groupBy is absorbed by map-side partial
aggregation; AQE handles residual reducer skew.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

import warnings

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rio_cogeo_spark import grid
from rio_cogeo_spark.errors import IncompatibleOptions, NodataAlphaMaskWarning
from rio_cogeo_spark.functions.tile import tile_assign


@dataclass(frozen=True)
class BandSpec:
    """One tile band: a base aggregate over pages plus a merge rule for
    pyramid levels (the resampling-kernel analog, cogeo.py:46-58).

    merge ∈ {sum, min, max, hll} — mergeable aggregates only; ``avg`` is
    expressed as a (sum, count) pair by callers, ``rms`` as sum of squares.
    """

    name: str
    base: Callable[[], Column]
    merge: str = "sum"


def default_bands() -> List[BandSpec]:
    """The 3-band default mirroring FIXTURES.md §4 image_rgb mapping:
    page count, total chars, and max doc_id (a deterministic 'nearest'
    stand-in: picks a representative child value)."""
    return [
        BandSpec("page_count", lambda: F.count(F.lit(1)).cast("long"), "sum"),
        BandSpec("sum_chars", lambda: F.sum("n_chars").cast("long"), "sum"),
        BandSpec("max_doc_id", lambda: F.max("doc_id").cast("long"), "max"),
    ]


_MERGE_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    # mergeable distinct-count sketch (Datasketches HLL): base level
    # builds sketches, every overview level unions them — the only way a
    # distinct-count band can re-aggregate through the pyramid without
    # re-reading pages (COUNT(DISTINCT) is not mergeable)
    "hll": F.hll_union_agg,
    # GDAL builds each overview FROM the previous overview, so
    # average-of-averages and rms-of-rms are exactly the reference's
    # level-chain semantics for these kernels (cogeo.py:389 builds
    # factor-by-factor) — not an approximation of a from-base resample.
    "avg": F.avg,
    "rms": lambda name: F.sqrt(F.avg(F.col(name) * F.col(name))),
}

# Warp resampling kernels meaningful for POINT-feature rasterization
# (reference WarpResampling, cogeo.py:60-72): interpolating kernels
# (bilinear/cubic/lanczos/...) are defined over pixel neighborhoods and
# have no point-aggregation meaning, so they are rejected loudly.
WARP_BAND_KERNELS = ("sum", "average", "min", "max", "rms")


def warp_bands(resampling: str = "sum") -> List[BandSpec]:
    """Default band set under a warp resampling kernel — the
    tile-assignment-time analog of the reference's separate
    ``--resampling`` option (scripts/cli.py:165-171, distinct from
    ``--overview-resampling``). The value band aggregates page chars
    with the kernel; ``page_count`` stays the density band and
    ``max_doc_id`` the deterministic nearest stand-in.
    """
    if resampling not in WARP_BAND_KERNELS:
        raise IncompatibleOptions(
            f"Invalid warp resampling kernel for point features: "
            f"{resampling}. Should be one of {sorted(WARP_BAND_KERNELS)}."
        )
    if resampling == "sum":
        return default_bands()
    value = {
        "average": BandSpec("avg_chars", lambda: F.avg("n_chars"), "avg"),
        "min": BandSpec("min_chars", lambda: F.min("n_chars").cast("long"), "min"),
        "max": BandSpec("max_chars", lambda: F.max("n_chars").cast("long"), "max"),
        "rms": BandSpec(
            "rms_chars",
            lambda: F.sqrt(F.avg(F.col("n_chars") * F.col("n_chars"))),
            "rms",
        ),
    }[resampling]
    b = default_bands()
    return [b[0], value, b[2]]


def hll_band(name: str, col: str) -> BandSpec:
    """A mergeable distinct-count band: ``hll_sketch_agg(col)`` at the
    base level, ``hll_union_agg`` at every overview level. Read the
    estimate with :func:`with_hll_estimates`. Exact for small per-tile
    cardinalities (the sketch stays in sparse mode), ~2% error beyond
    2**12."""
    return BandSpec(name, lambda: F.hll_sketch_agg(F.col(col), 12), "hll")


def with_hll_estimates(tiles: DataFrame, bands: List[BandSpec]) -> DataFrame:
    """Replace every hll band's binary sketch with its integer estimate
    (``<name>_estimate``)."""
    out = tiles
    for spec in bands:
        if spec.merge == "hll":
            out = out.withColumn(
                f"{spec.name}_estimate", F.hll_sketch_estimate(spec.name)
            ).drop(spec.name)
    return out


@dataclass
class TileJobPlan:
    """The logical plan — the ``vrt_params`` / web-optimized grid analog
    (cogeo.py:261-298, utils.py:88-147)."""

    max_zoom: int
    min_zoom: int
    decimation_base: int = 2
    blocksize: int = grid.DEFAULT_BLOCKSIZE
    # overview storage tile size (GDAL_TIFF_OVR_BLOCKSIZE analog,
    # reference scripts/cli.py:130-132); None → same as blocksize
    overview_blocksize: Optional[int] = None
    overview_resampling: str = "sum"
    extent: Optional[Tuple[int, int, int, int]] = None  # (tx0, ty0, tx1, ty1) @max_zoom
    width_px: int = 0
    height_px: int = 0
    decimations: List[int] = field(default_factory=list)
    # dataset tags / table properties (cogeo.py:395-437 forwarding rules)
    properties: Dict[str, str] = field(default_factory=dict)
    # per-band metadata: {band: {"scale":…, "offset":…, "description":…}}
    band_meta: Dict[str, Dict[str, object]] = field(default_factory=dict)
    colormap: Optional[Dict[int, Tuple[int, int, int, int]]] = None
    # namespaced dataset tags (cogeo.py:428-433 forward_ns_tags analog):
    # {namespace: {key: value}}; surfaced by cog_info as nested Tags
    ns_tags: Dict[str, Dict[str, str]] = field(default_factory=dict)

    @property
    def tms_aligned(self) -> bool:
        """Zoom labels are true WebMercatorQuad zooms only when the
        decimation base is a power of two (tile coords divided by base**j
        land on the TMS grid at zoom - j*log2(base)); otherwise labels
        are synthetic level indices and grid.tile_bounds_mercator must
        NOT be applied to overview rows."""
        b = self.decimation_base
        return b >= 2 and (b & (b - 1)) == 0

    @property
    def level_zoom_decs(self) -> List[Tuple[int, int]]:
        """(zoom_label, decimation) per level, full resolution first.

        Power-of-two bases step the zoom label by log2(decimation) so
        (zoom, tile_x, tile_y) stays a valid TMS address at every level;
        other bases fall back to one synthetic label per level."""
        out = [(self.max_zoom, 1)]
        for j, dec in enumerate(self.decimations, start=1):
            if self.tms_aligned:
                z = self.max_zoom - (int(dec).bit_length() - 1)
            else:
                z = self.max_zoom - j
            out.append((z, int(dec)))
        return out

    @property
    def zooms(self) -> List[int]:
        return [z for z, _ in self.level_zoom_decs]


def plan_tile_job(
    pages: DataFrame,
    max_zoom: int,
    overview_level: Optional[int] = None,
    decimation_base: int = 2,
    blocksize: int = grid.DEFAULT_BLOCKSIZE,
    aligned_levels: Optional[int] = None,
    overview_blocksize: Optional[int] = None,
    tms: Optional[grid.TileMatrixSet] = None,
) -> TileJobPlan:
    """Stage 1+2: compute the aligned extent and the overview chain.

    Dataset 'pixel' width = tile-cell count x blocksize (SURVEY.md §1.4:
    a TMS tile cell is the 512x512 internal-block analog), so the
    reference's overview-count rule (cogeo.py:381-384) transfers directly.

    ``aligned_levels`` k snaps the extent outward to whole tiles at
    ``max_zoom - k`` — the web-optimized alignment rule
    (utils.py:120-140; reference tests/test_web.py:241-300), so every
    overview level down to k stays tile-aligned.
    """
    tms = tms or grid.WEB_MERCATOR_QUAD
    if not tms.is_quad:
        # variable-width / explicit-matrix grids address tiles fine
        # (grid.TileMatrixSet.tile_index) but have no power-of-2 parent
        # relation, so overview decimation (tx // base) is undefined
        raise IncompatibleOptions(
            f"TMS {tms.id!r} is not a quad (power-of-2) tile matrix set; "
            "tile-job plans and pyramids require quad parent-cell decimation. "
            "Use tile_assign/assign_tiles for addressing on this grid."
        )
    plan = TileJobPlan(max_zoom=max_zoom, min_zoom=max_zoom, decimation_base=decimation_base,
                       blocksize=blocksize, overview_blocksize=overview_blocksize)
    if overview_level is not None:
        # an explicit level count fixes the zoom labels: reject a chain
        # that runs below zoom 0 before the extent scan starts a Spark job
        plan.decimations = grid.overview_decimations(overview_level, decimation_base)
        if plan.level_zoom_decs[-1][0] < 0:
            raise IncompatibleOptions(
                f"overview_level={overview_level} with decimation_base="
                f"{decimation_base} labels levels below zoom 0 "
                f"(zooms {plan.zooms}) from max_zoom={max_zoom}"
            )
    b = pages.agg(
        F.min("lon").alias("w"),
        F.max("lon").alias("e"),
        F.min("lat").alias("s"),
        F.max("lat").alias("n"),
    ).first()
    if b is None or b["w"] is None:
        raise ValueError("cannot plan a tile job over an empty pages table")
    # tile_index is floor + clip of a per-axis monotonic map on quad
    # grids, so the tile extent of the lon/lat bounds is the extent of
    # the per-page tile indices that tile_assign computes (the two agree
    # point for point: tests/test_tile_expr.py)
    txs, tys = tms.tile_index([b["w"], b["e"]], [b["n"], b["s"]], max_zoom)
    tx0, tx1 = int(txs[0]), int(txs[1])
    ty0, ty1 = int(tys[0]), int(tys[1])
    if aligned_levels:
        base_zoom = max(max_zoom - aligned_levels, 0)
        shift = max_zoom - base_zoom
        # snap UL down and LR up to whole base_zoom tiles (ul_tile /
        # lr_tile+1 rule, utils.py:125-137)
        tx0 = (tx0 >> shift) << shift
        ty0 = (ty0 >> shift) << shift
        tx1 = (((tx1 >> shift) + 1) << shift) - 1
        ty1 = (((ty1 >> shift) + 1) << shift) - 1
    plan.extent = (tx0, ty0, tx1, ty1)
    plan.width_px = (tx1 - tx0 + 1) * blocksize
    plan.height_px = (ty1 - ty0 + 1) * blocksize
    if overview_level is None:
        # inferred levels stop at one tile across, never below zoom 0
        plan.decimations = grid.overview_decimations(
            None, decimation_base, plan.width_px, plan.height_px, minsize=blocksize
        )
    plan.min_zoom = plan.level_zoom_decs[-1][0]
    return plan


def assign_tiles(
    pages: DataFrame, zoom: int, tms: Optional[grid.TileMatrixSet] = None
) -> DataFrame:
    """Stage 3a: the tile-assignment projection — a computed key via one
    built-in JVM expression, NO shuffle (SURVEY.md §2.3 J1). ``tms``
    selects a non-default tile matrix set (reference cogeo.py:86)."""
    t = tile_assign(F.col("lon"), F.col("lat"), zoom, tms=tms)
    return pages.withColumn("tile_x", t["tile_x"]).withColumn("tile_y", t["tile_y"])


def base_tiles(
    pages: DataFrame,
    zoom: int,
    bands: Optional[List[BandSpec]] = None,
    tms: Optional[grid.TileMatrixSet] = None,
) -> DataFrame:
    """Stage 3b: base-zoom aggregation. One shuffle on (tile_x, tile_y)
    with map-side partial aggregation absorbing megacity skew."""
    bands = bands or default_bands()
    aggs = [spec.base().alias(spec.name) for spec in bands]
    return (
        assign_tiles(pages, zoom, tms=tms)
        .groupBy("tile_x", "tile_y")
        .agg(*aggs)
        .withColumn("zoom", F.lit(zoom).cast("int"))
    )


def _merge_aggs(bands: List[BandSpec]) -> List[Column]:
    """The merge aggregate of every band, named after the band — the one
    band-merge algebra of overview levels, the fold and pyramid merges."""
    bad = [s.name for s in bands if s.merge not in _MERGE_FNS]
    if bad:
        raise IncompatibleOptions(
            f"bands {bad} have no merge rule (merge must be one of "
            f"{sorted(_MERGE_FNS)})"
        )
    return [_MERGE_FNS[s.merge](s.name).alias(s.name) for s in bands]


def next_level(tiles: DataFrame, zoom: int, base: int, bands: List[BandSpec]) -> DataFrame:
    """Stage 4 step: one overview level — ``groupBy(tx // base, ty // base)``
    (cogeo.py:389). Input rows shrink ~base² per level, so each successive
    shuffle is smaller; floor-division keys keep partition locality."""
    return (
        tiles.groupBy(
            F.floor(F.col("tile_x") / base).cast("long").alias("tile_x"),
            F.floor(F.col("tile_y") / base).cast("long").alias("tile_y"),
        )
        .agg(*_merge_aggs(bands))
        .withColumn("zoom", F.lit(zoom).cast("int"))
    )


# Fold threshold for the tiny top-of-pyramid levels: once a level's
# extent-derived tile-count upper bound is at or below this, every
# remaining level is derived from it in ONE explode+groupBy stage
# instead of one shuffle stage per level. The top levels hold tens to
# thousands of rows; paying fixed stage-scheduling cost per level is
# pure serial fraction (Amdahl) that caps scaling efficiency, while the
# folded stage's input is bounded by FOLD_CELLS x n_levels rows —
# trivial at any corpus size because the bound is geometric in the
# extent, not the page count. sum/min/max/hll merges are associative,
# so deriving level z directly from the last materialized level is
# value-identical to the level-by-level chain.
#
# 2**20 covers a full-globe z10 base extent (1024x1024), so a global
# pyramid with a fold-safe band set derives EVERY overview from the base
# level in one stage (2 shuffles total: base agg + fold). The folded
# exchange stays tiny regardless: map-side partial aggregation reduces
# the exploded rows to the output tile count (~bound/3) before any bytes
# move, so the shuffle is bounded by the extent geometry, never the
# corpus size.
FOLD_CELLS = 1_048_576

# Merges where a direct multi-level derivation equals the level chain,
# and merge(pyramid(A), pyramid(B)) == pyramid(A ∪ B) (operators/
# incremental.py): avg/rms are chain-dependent (avg over 16 grandchildren
# != avg of 4 child avgs when child counts differ — GDAL's
# overview-from-overview semantics), so pyramids carrying them never fold
# and never merge.
FOLD_SAFE_MERGES = frozenset({"sum", "min", "max", "hll"})


def fold_levels(
    tiles: DataFrame,
    rel_factors: List[Tuple[int, int]],
    bands: List[BandSpec],
) -> DataFrame:
    """Stage 4 tail: ALL remaining overview levels in one stage.

    ``rel_factors`` = [(zoom_label, factor_relative_to_input), ...].
    Each input tile explodes to one row per remaining level, then a
    single ``groupBy(zoom, tile_x, tile_y)`` merges every level at once
    — one Exchange for the whole pyramid tail (cogeo.py:389 builds
    overviews level-by-level because GDAL must write each IFD; a
    mergeable-band table has no such constraint).
    """
    lv = F.explode(
        F.array(*[
            F.struct(
                F.lit(z).cast("int").alias("zoom"),
                F.lit(f).cast("long").alias("f"),
            )
            for z, f in rel_factors
        ])
    ).alias("lv")
    band_cols = [s.name for s in bands]
    return (
        tiles.select(lv, "tile_x", "tile_y", *band_cols)
        .groupBy(
            F.col("lv.zoom").alias("zoom"),
            F.floor(F.col("tile_x") / F.col("lv.f")).cast("long").alias("tile_x"),
            F.floor(F.col("tile_y") / F.col("lv.f")).cast("long").alias("tile_y"),
        )
        .agg(*_merge_aggs(bands))
    )


def apply_nodata(
    pages: DataFrame,
    nodata: Optional[float] = None,
    validity_col: Optional[str] = None,
) -> Tuple[DataFrame, DataFrame]:
    """Nodata/alpha semantics (SURVEY.md §2.2 P2/P4/P5):

    * ``nodata`` — sentinel lat/lon value marking an invalid point (the
      reference's nodata pixel, cogeo.py:80,276-279); NaN coordinates are
      always invalid (NaN-nodata case, reference tests/test_cogeo.py:236-255).
    * ``validity_col`` — boolean alpha/mask analog (utils.py:14-33).
    * both given → warn and prioritize the sentinel (cogeo.py:225-229).

    Returns (valid_pages, invalid_pages) — invalid rows feed the mask band
    (P6: mask = count of valid points per cell; invalid are excluded from
    every data band, exactly as masked pixels are).
    """
    invalid = F.isnan("lat") | F.isnan("lon") | F.col("lat").isNull() | F.col("lon").isNull()
    if nodata is not None:
        if validity_col is not None:
            warnings.warn(
                "Nodata value and alpha/validity column are both set; "
                "ignoring the alpha band (using the nodata sentinel).",
                NodataAlphaMaskWarning,
            )
        invalid = invalid | (F.col("lat") == F.lit(nodata)) | (
            F.col("lon") == F.lit(nodata)
        )
    elif validity_col is not None:
        invalid = invalid | ~F.col(validity_col)
    return pages.filter(~invalid), pages.filter(invalid)


def cog_translate(
    pages: DataFrame,
    max_zoom: Optional[int] = None,
    overview_level: Optional[int] = None,
    decimation_base: int = 2,
    bands: Optional[List[BandSpec]] = None,
    nodata: Optional[float] = None,
    validity_col: Optional[str] = None,
    add_mask: bool = False,
    colormap: Optional[Dict[int, Tuple[int, int, int, int]]] = None,
    tags: Optional[Dict[str, str]] = None,
    band_tags: Optional[Dict[str, Dict[str, str]]] = None,
    ns_tags: Optional[Dict[str, Dict[str, str]]] = None,
    additional_cog_metadata: Optional[Dict[str, str]] = None,
    band_scales: Optional[List[float]] = None,
    band_offsets: Optional[List[float]] = None,
    dtype: Optional[str] = None,
    overview_resampling: str = "sum",
    overview_blocksize: Optional[int] = None,
    web_optimized: bool = False,
    zoom_level_strategy: str = "auto",
    zoom_level: Optional[int] = None,
    aligned_levels: Optional[int] = None,
    source_resolution: Optional[float] = None,
    tms: Optional[grid.TileMatrixSet] = None,
) -> Tuple[DataFrame, TileJobPlan]:
    """Full pyramid: union of all levels, ordered smallest-overview-first.

    Returns (tiles, plan); tiles schema:
    ``zoom int, tile_x long, tile_y long, <band columns>``.

    Web-optimized mode (reference cogeo.py:86,134-145, utils.py:88-147):
    ``web_optimized=True`` aligns the output grid to WebMercatorQuad —
    the base zoom comes from ``zoom_level`` (overrides the strategy,
    cogeo.py:141-143), or from ``source_resolution`` via
    ``tms.zoom_for_res(zoom_level_strategy)``, or from an explicit
    ``max_zoom``; ``aligned_levels`` k snaps the extent outward to whole
    tiles at ``max_zoom - k`` so every overview down to k stays
    tile-aligned (reference tests/test_web.py:241-300).

    The result is a lazy plan that caches nothing: each level is both a
    union branch and the next level's input, and Spark's exchange reuse
    shares it between the two.
    """
    bands = bands or default_bands()
    tms = tms or grid.WEB_MERCATOR_QUAD

    # option validation + rewrites — reference stage 1 (cogeo.py:225-255)
    if overview_resampling not in grid.ALL_KERNELS:
        raise IncompatibleOptions(
            f"Invalid overview resampling kernel: {overview_resampling}. "
            f"Should be one of {sorted(grid.ALL_KERNELS)}."
        )
    if colormap and len(bands) > 1:
        raise IncompatibleOptions(
            "Cannot add a colormap for multiple bands data."
        )
    # zoom resolution (cogeo.py:134-145 / utils.py:106-117): an explicit
    # zoom_level wins; else an explicit max_zoom; else derive from the
    # source resolution with the zoom_level_strategy
    if zoom_level is not None:
        max_zoom = zoom_level
    elif max_zoom is None:
        if source_resolution is None:
            raise ValueError(
                "one of max_zoom, zoom_level or source_resolution is required"
            )
        max_zoom = tms.zoom_for_res(
            source_resolution, zoom_level_strategy=zoom_level_strategy
        )
    valid_pages, invalid_pages = apply_nodata(pages, nodata, validity_col)
    if add_mask or nodata is not None or validity_col is not None:
        # P6: the mask band — per-cell count of VALID points, the
        # dataset_mask analog (cogeo.py:376-379)
        bands = list(bands) + [
            BandSpec("mask_count", lambda: F.count(F.lit(1)).cast("long"), "sum")
        ]

    # Plan extent from a scan-only min/max over the page coordinates
    # (plan_tile_job, which also rejects non-quad grids), never from the
    # base aggregation, which would run as a separate planning job before
    # the caller's first action.
    plan = plan_tile_job(
        valid_pages,
        max_zoom,
        overview_level,
        decimation_base,
        aligned_levels=(aligned_levels if web_optimized else None),
        overview_blocksize=overview_blocksize,
        tms=tms,
    )
    level = base_tiles(valid_pages, max_zoom, bands, tms=tms)

    # tag forwarding — reference stage 5 (cogeo.py:395-437)
    props: Dict[str, str] = dict(tags or {})
    props["OVERVIEW_RESAMPLING"] = overview_resampling.upper()
    props["TILING_SCHEME_NAME"] = tms.id
    props["TILING_SCHEME_ZOOM_LEVEL"] = str(max_zoom)
    if web_optimized and aligned_levels:
        # reference tag name, cogeo.py:423
        props["TILING_SCHEME_ALIGNED_LEVELS"] = str(aligned_levels)
    if nodata is not None:
        props["NODATA"] = str(nodata)
    if additional_cog_metadata:
        props.update({k: str(v) for k, v in additional_cog_metadata.items()})
    if nodata is not None or validity_col is not None:
        # masked points have no placeable coordinates; record the global
        # masked count (the mask band itself carries per-cell valid counts)
        props["N_MASKED"] = str(invalid_pages.count())
    plan.properties.update(props)
    plan.colormap = colormap
    # namespaced dataset tags (cogeo.py:428-433 forward_ns_tags: every
    # source namespace except DERIVED_SUBDATASETS/IMAGE_STRUCTURE is
    # forwarded; here the namespaces are an explicit input since a pages
    # table carries no GDAL tag namespaces)
    for ns, kv in (ns_tags or {}).items():
        if ns in ("DERIVED_SUBDATASETS", "IMAGE_STRUCTURE"):
            continue
        plan.ns_tags[ns] = {str(k): str(v) for k, v in kv.items()}
    band_tags = band_tags or {}
    known = {s.name for s in bands}
    unknown = set(band_tags) - known
    if unknown:
        raise ValueError(f"band_tags for unknown bands: {sorted(unknown)}")
    for i, spec in enumerate(bands):
        plan.band_meta[spec.name] = {
            "scale": band_scales[i] if band_scales and i < len(band_scales) else 1.0,
            "offset": band_offsets[i] if band_offsets and i < len(band_offsets) else 0.0,
            "merge": spec.merge,
            # per-band tags (cogeo.py:397-398 forward_band_tags analog)
            "tags": {str(k): str(v) for k, v in band_tags.get(spec.name, {}).items()},
        }

    levels = [level]
    pairs = plan.level_zoom_decs
    tx0, ty0, tx1, ty1 = plan.extent
    w_cells, h_cells = tx1 - tx0 + 1, ty1 - ty0 + 1
    folded = None
    can_fold = all(s.merge in FOLD_SAFE_MERGES for s in bands)
    prev_dec = 1
    i = 1
    while i < len(pairs):
        # extent-derived tile-count upper bound of the INPUT level —
        # static (no count job), so the fold decision is deterministic
        bound = (-(-w_cells // prev_dec)) * (-(-h_cells // prev_dec))
        if can_fold and len(pairs) - i >= 2 and bound <= FOLD_CELLS:
            folded = fold_levels(
                level,
                [(z, dec // prev_dec) for z, dec in pairs[i:]],
                bands,
            )
            break
        z, dec = pairs[i]
        level = next_level(level, z, decimation_base, bands)
        levels.append(level)
        prev_dec = dec
        i += 1

    cols = ["zoom", "tile_x", "tile_y"] + [s.name for s in bands]
    out = levels[0].select(cols)
    for lv in levels[1:]:
        out = out.unionByName(lv.select(cols))
    if folded is not None:
        out = out.unionByName(folded.select(cols))
    if dtype is not None:
        # P3: output dtype override (reference cogeo.py:81,221,262 — the
        # VRT dtype cast). Applied AFTER aggregation so band merges run
        # at full precision, exactly as GDAL casts on write.
        out = out.select(
            "zoom", "tile_x", "tile_y",
            *[F.col(s.name).cast(dtype).alias(s.name) for s in bands],
        )
        for s in bands:
            plan.band_meta[s.name]["dtype"] = dtype
    return out, plan


def tiles_meta(tiles: DataFrame, plan: TileJobPlan) -> DataFrame:
    """The IFD-table analog (reference models.py:18-25): one row per level
    with extent, blocksize, decimation and tile count, plus the write-order
    index (``write_index``: 0 = smallest overview — the COG layout rule,
    cogeo.py:654-679)."""
    spark = tiles.sparkSession
    rows = []
    tx0, ty0, tx1, ty1 = plan.extent  # type: ignore[misc]
    ovr_bs = plan.overview_blocksize or plan.blocksize
    pairs = plan.level_zoom_decs  # index j IS the IFD level (0 = full res)
    order = sorted(range(len(pairs)), key=lambda j: pairs[j][0])  # write: smallest first
    for i, j in enumerate(order):
        z, dec = pairs[j]
        w_cells = (tx1 // dec) - (tx0 // dec) + 1
        h_cells = (ty1 // dec) - (ty0 // dec) + 1
        # overview levels use the overview blocksize (GDAL_TIFF_OVR_BLOCKSIZE
        # analog); the full-resolution level (dec == 1) keeps the base size
        bs = plan.blocksize if dec == 1 else ovr_bs
        rows.append(
            (
                z,
                j,
                int(w_cells * plan.blocksize // 1),
                int(h_cells * plan.blocksize // 1),
                bs,
                bs,
                dec,
                i,
            )
        )
    # built from pandas, so the plan reads it as a JVM local relation and
    # no action starts a Python worker to scan the rows
    meta = spark.createDataFrame(
        pd.DataFrame(rows, columns=[
            "zoom", "level", "width", "height", "blocksize_x", "blocksize_y",
            "decimation", "write_index",
        ]),
        "zoom int, level int, width long, height long, blocksize_x int, "
        "blocksize_y int, decimation int, write_index long",
    )
    counts = tiles.groupBy("zoom").agg(F.count(F.lit(1)).alias("n_tiles"))
    return meta.join(counts, "zoom", "left").na.fill({"n_tiles": 0})


def write_tiles(tiles: DataFrame, path: str, num_partitions: int = 32) -> None:
    """Stage 5: deterministic COG-ordered write — range partition + sort by
    ``(zoom ASC, tile_y, tile_x)`` so on-disk order satisfies the V9/V10
    ordering checks (cogeo.py:588-679); partitioned by zoom for partition
    pruning on read."""
    (
        tiles.repartitionByRange(num_partitions, "zoom", "tile_y", "tile_x")
        .sortWithinPartitions("zoom", "tile_y", "tile_x")
        .write.mode("overwrite")
        .partitionBy("zoom")
        .parquet(path)
    )


def write_tiles_zorder(
    tiles: DataFrame, path: str, num_partitions: int = 32
) -> None:
    """Z-order-clustered write: range partition + sort by the Morton
    interleave of ``(tile_x, tile_y)`` so spatially-adjacent tiles land
    in the same files — a bbox/window read touches O(few) files instead
    of one file per crossed row. Complements :func:`write_tiles`'s
    row-major COG order (V9/V10 checks assume row-major; a Z-ordered
    artifact is a query-layout copy, not the validated COG layout).
    Parquet min/max stats on ``zkey`` give file-level pruning when
    readers filter on a Morton range.
    """
    from rio_cogeo_spark.functions.tile import morton_key

    keyed = tiles.withColumn(
        "zkey", morton_key(F.col("tile_x"), F.col("tile_y"))
    )
    (
        keyed.repartitionByRange(num_partitions, "zoom", "zkey")
        .sortWithinPartitions("zoom", "zkey")
        .write.mode("overwrite")
        .partitionBy("zoom")
        .parquet(path)
    )
