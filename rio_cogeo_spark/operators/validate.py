"""``cog_validate`` analog — the reference's structural check suite
(/root/reference/rio_cogeo/cogeo.py:470-703) re-expressed as DataFrame
assertions over ``tiles`` + ``tiles_meta`` + table properties
(SURVEY.md §2.8 V1-V13). Returns the reference's exact triple shape
``(is_valid, errors, warnings)`` (cogeo.py:701-703).

All checks are metadata-scale: aggregates over the per-level meta table
plus a handful of counts — no pixel/page data is read (matching the
reference, which validates from TIFF tags only).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BLOCKSIZE = 512


# Canonical failure message per named structural check — shared by the
# error list (reference parity, cogeo.py:512-688) and the per-check
# report rows so the two surfaces can never drift apart.
CHECK_MSGS = {
    "v1_format": "The file is not a supported tiled table format.",
    "v2_no_external_overviews": "Overviews found in external files.",
    "v3_tiled": "The file is greater than 512x512, but is not tiled.",
    "v4_overviews_present": (
        "The file is greater than 512x512, it is recommended to "
        "include internal overviews."
    ),
    "v5_header_first": "The offset of the main IFD is too large (header not first).",
    "v6_not_modified": (
        "The offset of the main IFD is not consistent: file was modified "
        "after creation (KNOWN_INCOMPATIBLE edition)."
    ),
    "v7_overviews_sorted": "Overviews are not sorted.",
    "v8_decimation_gt1": "Invalid decimation value (<=1) in overview levels.",
    "v9_write_order": "The IFD/write order of the levels is not consistent.",
    "v10_no_duplicate_tiles": "Duplicate tile keys break block-offset ordering.",
    "v11_overview_blocksize": (
        "Overview levels are not tiled or have inconsistent blocksizes."
    ),
    "v14_aligned_levels": (
        "Dataset extent is not aligned to the tiling scheme at the "
        "declared aligned level."
    ),
}


def cog_validate(
    tiles: DataFrame,
    meta: DataFrame,
    properties: Optional[Dict[str, str]] = None,
    strict: bool = False,
) -> Tuple[bool, List[str], List[str]]:
    """Run V1-V13. ``properties`` is the table-property dict (the ghost
    header / driver analog)."""
    errors, warnings, _ = _validate_impl(tiles, meta, properties, strict)
    return (len(errors) == 0), errors, warnings


def _validate_impl(
    tiles: DataFrame,
    meta: DataFrame,
    properties: Optional[Dict[str, str]] = None,
    strict: bool = False,
) -> Tuple[List[str], List[str], List[Tuple[str, bool]]]:
    errors: List[str] = []
    warnings: List[str] = []
    checks: List[Tuple[str, bool]] = []
    properties = properties or {}

    def check(name: str, ok: bool, warn: bool = False) -> bool:
        checks.append((name, bool(ok)))
        if not ok:
            (warnings if warn else errors).append(CHECK_MSGS[name])
        return bool(ok)

    # V1 (cogeo.py:512-519): driver must be GTiff → table format must be
    # the engine's tiled parquet/iceberg layout.
    fmt = properties.get("format", "parquet")
    if not check("v1_format", fmt in ("parquet", "iceberg")):
        return errors, warnings, checks

    meta_rows = (
        meta.select(
            "zoom", "level", "width", "height", "blocksize_x", "blocksize_y",
            "decimation", "write_index", "n_tiles",
        )
        .orderBy("zoom")
        .collect()
    )
    if not meta_rows:
        errors.append("tiles_meta is empty: no levels written.")
        return errors, warnings, checks

    max_zoom_row = meta_rows[-1]
    width, height = max_zoom_row["width"], max_zoom_row["height"]

    # V6 (cogeo.py:563-571): ghost-header KNOWN_INCOMPATIBLE edition.
    check(
        "v6_not_modified",
        properties.get("cog.known_incompatible", "NO") != "YES",
    )

    # V5 (cogeo.py:539-555): header-first layout → metadata snapshot must
    # have been committed before/with the data write.
    check("v5_header_first", properties.get("meta_written_first", "YES") == "YES")

    # V2 (cogeo.py:521-524): no external overviews — every zoom present in
    # the tiles table must be declared in tiles_meta.
    declared = {r["zoom"] for r in meta_rows}
    present = {r["zoom"] for r in tiles.select("zoom").distinct().collect()}
    check("v2_no_external_overviews", not (present - declared))

    # V3 (cogeo.py:527-531): a big dataset must be tiled. The reference
    # checks `src.is_tiled` (ANY declared block shape qualifies — 256-px
    # web-optimized or custom --blocksize outputs are tiled), not a fixed
    # 512; the fixed size only names the bigness threshold.
    v3_ok = True
    if width > BLOCKSIZE and height > BLOCKSIZE:
        bx, by = max_zoom_row["blocksize_x"], max_zoom_row["blocksize_y"]
        # striped analog: a GDAL strip has block width == raster width and
        # block height < raster height (`src.is_tiled` False) — full-width
        # blocks on a big dataset mean the layout is row-striped, not tiled
        striped = bx >= width and by < height
        v3_ok = not (bx <= 0 or by <= 0 or striped)
    check("v3_tiled", v3_ok)

    # V4 (cogeo.py:533-537): big and no overviews → warning.
    n_levels = len(meta_rows)
    check(
        "v4_overviews_present",
        not (width > BLOCKSIZE and height > BLOCKSIZE and n_levels < 2),
        warn=True,
    )

    # V7 (cogeo.py:573-574): decimations sorted ascending.
    decs = [r["decimation"] for r in meta_rows if r["level"] > 0]
    decs_in_level_order = [
        r["decimation"] for r in sorted(meta_rows, key=lambda r: r["level"]) if r["level"] > 0
    ]
    check("v7_overviews_sorted", decs_in_level_order == sorted(decs_in_level_order))

    # V8 (cogeo.py:576-584): every decimation > 1.
    check("v8_decimation_gt1", not any(d <= 1 for d in decs))

    # V9 (cogeo.py:588-608): write order strictly increasing
    # smallest-overview-first: write_index must strictly increase with zoom.
    widx = [r["write_index"] for r in meta_rows]  # meta_rows sorted by zoom
    check("v9_write_order", not any(b <= a for a, b in zip(widx, widx[1:])))

    # V11 (cogeo.py:681-688): every overview level itself tiled — it must
    # declare positive block sizes (custom --overview-blocksize values are
    # legal), and all overview levels must share one blocksize.
    ovr_bs = set()
    v11_ok = True
    for r in meta_rows:
        if r["level"] > 0:
            if r["blocksize_x"] <= 0 or r["blocksize_y"] <= 0:
                v11_ok = False
            else:
                ovr_bs.add((r["blocksize_x"], r["blocksize_y"]))
    check("v11_overview_blocksize", v11_ok and len(ovr_bs) <= 1)

    # V14 (web-optimized alignment, reference tests/test_web.py:241-300):
    # when the dataset declares TILING_SCHEME_ALIGNED_LEVELS=k, the base
    # extent must cover whole tiles at max_zoom - k, i.e. its pixel
    # dimensions are multiples of 2^k blocks.
    aligned = properties.get("TILING_SCHEME_ALIGNED_LEVELS")
    v14_ok = True
    if aligned:
        snap = 1 << int(aligned)
        v14_ok = not (
            max_zoom_row["width"] % (snap * max_zoom_row["blocksize_x"])
            or max_zoom_row["height"] % (snap * max_zoom_row["blocksize_y"])
        )
    check("v14_aligned_levels", v14_ok)

    # V10 (cogeo.py:611-679): block offsets ordered; sparse levels (zero
    # tiles) are valid (reference sparse.tif case, tests/test_validate.py:72-76).
    # Data-level discipline: within every zoom the engine's write key is
    # (tile_y, tile_x); verify no duplicate tile keys (a duplicate would
    # break the one-block-one-offset contract).
    dupes = (
        tiles.groupBy("zoom", "tile_x", "tile_y")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    )
    check("v10_no_duplicate_tiles", dupes == 0)

    # V12 (cogeo.py:475,701): strict mode promotes warnings to errors.
    if strict:
        errors.extend(warnings)
        warnings = []

    return errors, warnings, checks


# Per-check report row order: summary first, then checks by number.
CHECK_ORDER = [
    "v1_format", "v2_no_external_overviews", "v3_tiled",
    "v4_overviews_present", "v5_header_first", "v6_not_modified",
    "v7_overviews_sorted", "v8_decimation_gt1", "v9_write_order",
    "v10_no_duplicate_tiles", "v11_overview_blocksize",
    "v14_aligned_levels",
]


def validate_report(tiles: DataFrame, meta: DataFrame,
                    properties: Optional[Dict[str, str]] = None) -> DataFrame:
    """Full validation report as a DataFrame — one row per structural
    check ``(check_name, ok, detail)`` plus a ``valid`` summary row —
    the queryable form of the reference's (is_valid, errors, warnings)
    triple (cogeo.py:701-703). ``detail`` carries the reference-parity
    failure message when a check fails, else ''."""
    errors, warnings, checks = _validate_impl(tiles, meta, properties)
    spark = tiles.sparkSession
    rows = [("valid", len(errors) == 0, "")]
    rows += [
        (name, ok, "" if ok else CHECK_MSGS[name]) for name, ok in checks
    ]
    # built from pandas: a JVM local relation, no Python worker per action
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["check_name", "ok", "detail"]),
        "check_name string, ok boolean, detail string",
    )


def check_write_order(df_read_back: DataFrame) -> bool:
    """Verify the on-disk order discipline of :func:`write_tiles` — the
    sandbox stand-in for the reference's byte-offset scan (cogeo.py:611-679).
    Reads back the written table in file order and asserts the key order
    (zoom ASC, tile_y, tile_x) is non-decreasing per file."""
    w = Window.partitionBy(F.input_file_name()).orderBy(F.monotonically_increasing_id())
    key = (
        F.col("zoom").cast("long") * F.lit(1 << 58)
        + F.col("tile_y") * F.lit(1 << 29)
        + F.col("tile_x")
    )
    bad = (
        df_read_back.withColumn("k", key)
        .withColumn("prev", F.lag("k").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("k") < F.col("prev")))
        .limit(1)
        .count()
    )
    return bad == 0
