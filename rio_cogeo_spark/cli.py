"""CLI mirroring the reference's ``rio cogeo`` subcommands
(/root/reference/rio_cogeo/scripts/cli.py:84-480): create / validate /
info, re-targeted at pages→tiles pyramid builds.

Usage:
  python -m rio_cogeo_spark.cli create  <pages_path> <out_dir> [--max-zoom Z]
      [--overview-level N] [--decimation-base B] [--profile NAME]
  python -m rio_cogeo_spark.cli validate <tiles_dir> [--strict]
  python -m rio_cogeo_spark.cli info     <tiles_dir> [--json]

``create`` always resumes: levels already committed under ``out_dir``
(``resumable_pyramid``'s per-level manifests) are kept, not rebuilt,
whatever options built them.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _session(cpus: int):
    """Returns (session, owns): reuse a caller's active session without
    stopping it on exit (in-process/test callers); only sessions the CLI
    itself creates are stopped."""
    from pyspark.sql import SparkSession

    existing = SparkSession.getActiveSession()
    if existing is not None:
        return existing, False
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("rio_cogeo_spark_cli")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s, True


def _meta_from_dir(spark, tiles_dir):
    from rio_cogeo_spark.operators.translate import TileJobPlan, tiles_meta
    from rio_cogeo_spark.sources.pages import read_pyramid

    tiles = read_pyramid(spark, tiles_dir)
    zooms = sorted(r["zoom"] for r in tiles.select("zoom").distinct().collect())
    plan_path = os.path.join(tiles_dir, "_plan.json")
    with open(plan_path) as f:
        pj = json.load(f)
    plan = TileJobPlan(
        max_zoom=pj["max_zoom"],
        min_zoom=pj["min_zoom"],
        decimation_base=pj["decimation_base"],
        blocksize=pj["blocksize"],
        overview_blocksize=pj.get("overview_blocksize"),
        extent=tuple(pj["extent"]),
        width_px=pj["width_px"],
        height_px=pj["height_px"],
        decimations=pj["decimations"],
    )
    plan.band_meta = pj.get("band_meta") or {}
    # resolved profile options (post --co): surface the codec and the
    # patched options as table properties so info/validate see them
    for k, v in (pj.get("profile_options") or {}).items():
        plan.properties[str(k)] = str(v)
    if pj.get("colormap"):
        plan.colormap = {int(k): tuple(v) for k, v in pj["colormap"].items()}
    if pj.get("nodata") is not None:
        plan.properties["NODATA"] = str(pj["nodata"])
    if pj.get("web_optimized") and pj.get("aligned_levels"):
        plan.properties["TILING_SCHEME_ALIGNED_LEVELS"] = str(pj["aligned_levels"])
    return tiles, tiles_meta(tiles, plan), plan, zooms


def parse_nodata(value):
    """Nodata option parse — the reference's NodataParamType
    (scripts/cli.py:46-63): 'nan' → NaN, 'none'/'nil' → None, else float;
    anything else is a usage error."""
    if value is None:
        return None
    v = value.lower()
    if v == "nan":
        return float("nan")
    if v in ("none", "nil"):
        return None
    try:
        return float(value)
    except ValueError as exc:
        raise argparse.ArgumentTypeError(f"{value} is not a valid nodata value") from exc


def parse_bidx(value):
    """Band-index option parse — the reference's BdxParamType
    (scripts/cli.py:29-43): comma-separated 1-based indexes."""
    if value is None:
        return None
    try:
        idx = [int(p) for p in value.split(",")]
        if not idx or any(i < 1 for i in idx):
            raise ValueError
        return idx
    except ValueError as exc:
        raise argparse.ArgumentTypeError(
            f"{value} is not a valid band index list (e.g. '1,2,3')"
        ) from exc


# rasterio dtype names (the reference's options.dtype_opt choices) →
# Spark SQL types. Spark has no unsigned integers, so each uN widens to
# the smallest signed type that holds its full range — value-preserving,
# never lossy.
GDAL_TO_SPARK_DTYPE = {
    "int8": "tinyint",
    "uint8": "smallint",
    "int16": "smallint",
    "uint16": "int",
    "int32": "int",
    "uint32": "bigint",
    "int64": "bigint",
    "float32": "float",
    "float64": "double",
}


_SPARK_TO_GDAL_DTYPE = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
}


def parse_dtype(value):
    """--dtype parse (reference options.dtype_opt): a rasterio dtype
    name (canonical form returned); Spark type names also accepted."""
    if value is None:
        return None
    v = value.lower()
    if v in GDAL_TO_SPARK_DTYPE:
        return v
    if v in _SPARK_TO_GDAL_DTYPE:
        return _SPARK_TO_GDAL_DTYPE[v]
    raise argparse.ArgumentTypeError(
        f"{value} is not a valid dtype "
        f"(one of {sorted(GDAL_TO_SPARK_DTYPE)})"
    )


# GDAL COMPRESS= codec names → parquet codecs, same analog mapping the
# profile registry uses (profiles.py _PROFILES).
_GDAL_CODECS = {
    "deflate": "gzip",
    "lzw": "lz4",
    "packbits": "snappy",
    "none": "uncompressed",
    "raw": "uncompressed",
}


def parse_co(pairs):
    """--co NAME=VALUE creation options (reference options.creation_options
    / scripts/cli.py:270-271 ``output_profile.update(creation_options)``):
    keys lowercased; COMPRESS→compression with GDAL codec names mapped to
    their parquet analogs."""
    out = {}
    for item in pairs or []:
        if "=" not in item:
            raise argparse.ArgumentTypeError(
                f"--co expects NAME=VALUE, got {item!r}"
            )
        k, v = item.split("=", 1)
        k = k.strip().lower()
        if k == "compress":
            k = "compression"
        if k == "compression":
            v = _GDAL_CODECS.get(v.strip().lower(), v.strip().lower())
        out[k] = v
    return out


def resolve_blocksizes(blocksize, overview_blocksize, web_optimized):
    """Blocksize precedence (reference scripts/cli.py:282-306;
    tests/test_cli.py:235-314):

    * web-optimized + no --blocksize → TMS tile size (WebMercatorQuad 256);
    * web-optimized + no --overview-blocksize → same as blocksize;
    * otherwise --overview-blocksize > $GDAL_TIFF_OVR_BLOCKSIZE > blocksize.
    """
    from rio_cogeo_spark import grid

    if web_optimized:
        if not blocksize:
            print(
                "Defining `blocksize` from WebMercatorQuad tileWidth/tileHeight",
                file=sys.stderr,
            )
            blocksize = grid.TMS_TILE_PX
        if not overview_blocksize:
            print(
                "Defining overview's `blocksize` to match the high "
                f"resolution `blocksize`: {blocksize}",
                file=sys.stderr,
            )
            overview_blocksize = blocksize
    blocksize = blocksize or grid.DEFAULT_BLOCKSIZE
    overview_blocksize = (
        overview_blocksize
        or os.environ.get("GDAL_TIFF_OVR_BLOCKSIZE")
        or blocksize
    )
    return int(blocksize), int(overview_blocksize)


def cmd_create(args) -> int:
    spark, _owns = _session(args.cpus)
    from rio_cogeo_spark import grid
    from rio_cogeo_spark.errors import IncompatibleOptions
    from rio_cogeo_spark.operators.translate import warp_bands
    from rio_cogeo_spark.profiles import cog_profiles
    from rio_cogeo_spark.sources.pages import read_pages, resumable_pyramid

    profile = cog_profiles.get(args.profile)  # KeyError on unknown
    try:
        # reference scripts/cli.py:270-271: --co patches the resolved
        # profile (copy-on-get, so the registry is never mutated)
        profile.update(parse_co(args.creation_options))
    except argparse.ArgumentTypeError as exc:
        print(str(exc), file=sys.stderr)
        return 2
    if args.overview_resampling not in grid.ALL_KERNELS:
        print(f"Invalid overview resampling: {args.overview_resampling}",
              file=sys.stderr)
        return 2
    # warp (tile-assignment-time) kernel — distinct from the overview
    # kernel, mirroring reference scripts/cli.py:165-171
    try:
        bands = warp_bands(args.resampling)
    except IncompatibleOptions as exc:
        print(str(exc), file=sys.stderr)
        return 2
    tms = grid.WEB_MERCATOR_QUAD
    if args.tms:
        # custom TileMatrixSet from a JSON file (reference --tms,
        # scripts/cli.py:214-219)
        with open(args.tms) as f:
            try:
                tms = grid.tms_from_dict(json.load(f))
            except ValueError as exc:
                print(f"Invalid TMS file: {exc}", file=sys.stderr)
                return 2
    band_tags = {}
    if args.band_tags:
        # per-band tags from a JSON file {band: {key: value}} — the
        # --forward-band-tags analog (reference scripts/cli.py:193-199)
        with open(args.band_tags) as f:
            band_tags = {
                str(b): {str(k): str(v) for k, v in kv.items()}
                for b, kv in json.load(f).items()
            }
    if args.bidx:
        try:
            bands = [bands[i - 1] for i in args.bidx]
        except IndexError:
            print(f"band index out of range (1..{len(bands)}): {args.bidx}",
                  file=sys.stderr)
            return 2
    if args.add_mask:
        # reference --add-mask (scripts/cli.py:111-117): force an
        # internal mask band — per-cell count of valid points (P6)
        from pyspark.sql import functions as F

        from rio_cogeo_spark.operators.translate import BandSpec

        bands = list(bands) + [
            BandSpec("mask_count", lambda: F.count(F.lit(1)).cast("long"), "sum")
        ]
    if band_tags:
        # validated against the FINAL band list (post --bidx/--add-mask):
        # tags naming a band dropped by --bidx must fail loudly, not
        # silently vanish from band_meta
        unknown = set(band_tags) - {b.name for b in bands}
        if unknown:
            print(f"--band-tags for unknown bands: {sorted(unknown)}",
                  file=sys.stderr)
            return 2
    blocksize, overview_blocksize = resolve_blocksizes(
        args.blocksize, args.overview_blocksize, args.web_optimized
    )
    # zoom resolution, reference scripts/cli.py:146-156 semantics:
    # --zoom-level wins; else --source-resolution + --zoom-level-strategy
    # (tms.zoom_for_res); else --max-zoom. A non-default strategy with
    # nothing to apply it to is a usage error, never a silent no-op.
    if args.zoom_level is not None:
        max_zoom = args.zoom_level
    elif args.source_resolution is not None:
        max_zoom = tms.zoom_for_res(
            args.source_resolution, zoom_level_strategy=args.zoom_level_strategy
        )
        print(f"Deriving zoom level {max_zoom} from source resolution "
              f"{args.source_resolution} ({args.zoom_level_strategy})",
              file=sys.stderr)
    else:
        if args.zoom_level_strategy != "auto":
            print("--zoom-level-strategy has no effect without "
                  "--source-resolution or --zoom-level", file=sys.stderr)
            return 2
        max_zoom = args.max_zoom
    colormap = None
    if args.colormap:
        with open(args.colormap) as f:
            colormap = {int(k): tuple(v) for k, v in json.load(f).items()}
        if len(bands) > 1:
            # same guard as cog_translate (reference cogeo.py:225-228)
            print("Cannot add a colormap for multiple bands data.",
                  file=sys.stderr)
            return 2
    pages = read_pages(spark, args.pages_path)
    band_meta = {
        b.name: {
            "scale": 1.0, "offset": 0.0, "merge": b.merge,
            "tags": band_tags.get(b.name, {}),
            **({"dtype": args.dtype} if args.dtype else {}),
        }
        for b in bands
    }
    if args.nodata is not None:
        from rio_cogeo_spark.operators.translate import apply_nodata

        pages, _ = apply_nodata(pages, nodata=args.nodata)
    plan, manifests = resumable_pyramid(
        pages,
        args.out_dir,
        max_zoom=max_zoom,
        overview_level=args.overview_level,
        decimation_base=args.decimation_base,
        bands=bands,
        blocksize=blocksize,
        overview_blocksize=overview_blocksize,
        aligned_levels=(args.aligned_levels if args.web_optimized else None),
        tms=tms,
        dtype=(GDAL_TO_SPARK_DTYPE[args.dtype] if args.dtype else None),
        compression=profile.get("compression"),
    )
    with open(os.path.join(args.out_dir, "_plan.json"), "w") as f:
        json.dump(
            {
                "max_zoom": plan.max_zoom,
                "min_zoom": plan.min_zoom,
                "decimation_base": plan.decimation_base,
                "blocksize": plan.blocksize,
                "overview_blocksize": plan.overview_blocksize,
                "extent": list(plan.extent or ()),
                "width_px": plan.width_px,
                "height_px": plan.height_px,
                "decimations": plan.decimations,
                "profile": args.profile,
                # resolved profile AFTER --co patches (the reference
                # writes the patched output_profile, scripts/cli.py:270)
                "profile_options": {k: v for k, v in profile.items()},
                "dtype": args.dtype,
                "add_mask": bool(args.add_mask),
                "overview_resampling": args.overview_resampling,
                "web_optimized": bool(args.web_optimized),
                "aligned_levels": args.aligned_levels,
                "band_meta": band_meta,
                "nodata": args.nodata,
                "colormap": (
                    {str(k): list(v) for k, v in colormap.items()}
                    if colormap else None
                ),
                "zoom_level_strategy": args.zoom_level_strategy,
                "source_resolution": args.source_resolution,
                "resampling": args.resampling,
                "tms": tms.id,
            },
            f,
        )
    for m in manifests:
        print(f"zoom {m['zoom']}: {m['n_tiles']} tiles "
              f"({len(m['partitions'])} partitions)", file=sys.stderr)
    print(f"wrote pyramid zooms {plan.min_zoom}..{plan.max_zoom} to {args.out_dir}",
          file=sys.stderr)
    if _owns:
        spark.stop()
    return 0


def cmd_validate(args) -> int:
    spark, _owns = _session(args.cpus)
    from rio_cogeo_spark.operators.validate import cog_validate

    tiles, meta, plan, _ = _meta_from_dir(spark, args.tiles_dir)
    ok, errors, warnings = cog_validate(
        tiles, meta, {"format": "parquet", **plan.properties}, strict=args.strict
    )
    for e in errors:
        print(f"ERROR: {e}", file=sys.stderr)
    for w in warnings:
        print(f"WARNING: {w}", file=sys.stderr)
    print(f"{args.tiles_dir} is {'a valid' if ok else 'NOT a valid'} cloud "
          f"optimized pyramid")
    if _owns:
        spark.stop()
    return 0 if ok else 1


def cmd_info(args) -> int:
    spark, _owns = _session(args.cpus)
    from rio_cogeo_spark.operators.info import cog_info

    tiles, meta, plan, _ = _meta_from_dir(spark, args.tiles_dir)
    info = cog_info(
        tiles, meta, {"format": "parquet", **plan.properties},
        path=args.tiles_dir, band_meta=plan.band_meta,
        colormap=plan.colormap, ns_tags=plan.ns_tags,
    )
    if args.json:
        print(json.dumps(info.dict(), default=str))
    else:
        d = info.dict()
        print(f"Path: {d['Path']}\nDriver: {d['Driver']}\nCOG: {d['COG']}")
        print(f"Bands: {d['Profile']['Bands']}  "
              f"Size: {d['Profile']['Width']}x{d['Profile']['Height']}")
        print(f"Zoom: {d['GEO']['MinZoom']}..{d['GEO']['MaxZoom']}  "
              f"CRS: {d['GEO']['CRS']}")
        for ifd in d["IFD"]:
            print(f"  level {ifd['Level']}: {ifd['Width']}x{ifd['Height']} "
                  f"dec {ifd['Decimation']}")
    if _owns:
        spark.stop()
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="rio_cogeo_spark")
    p.add_argument("--cpus", type=int, default=8)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create")
    c.add_argument("pages_path")
    c.add_argument("out_dir")
    c.add_argument("--max-zoom", type=int, default=8, dest="max_zoom")
    c.add_argument("--overview-level", type=int, default=None, dest="overview_level")
    c.add_argument("--decimation-base", type=int, default=2, dest="decimation_base")
    c.add_argument("--profile", "-p", default="zstd", dest="profile")
    c.add_argument("--nodata", type=parse_nodata, default=None)
    c.add_argument("--bidx", "-b", type=parse_bidx, default=None,
                   help="Band indexes to copy (1-based, comma-separated).")
    c.add_argument("--dtype", "-t", type=parse_dtype, default=None,
                   help="Output data type (rasterio dtype name, e.g. "
                        "uint16/float32; cast applied on write).")
    c.add_argument("--add-mask", action="store_true", dest="add_mask",
                   help="Force output dataset creation with an internal "
                        "mask band (per-cell valid-point count).")
    c.add_argument("--co", metavar="NAME=VALUE", action="append",
                   default=[], dest="creation_options",
                   help="Creation option patching the resolved profile "
                        "(repeatable), e.g. --co compress=deflate.")
    c.add_argument("--blocksize", type=int, default=None,
                   help="Overwrite profile's tile size.")
    c.add_argument("--overview-blocksize", type=int, default=None,
                   dest="overview_blocksize",
                   help="Overview tile size (default: $GDAL_TIFF_OVR_BLOCKSIZE "
                        "or --blocksize).")
    c.add_argument("--overview-resampling", default="sum",
                   dest="overview_resampling",
                   help="Overview creation resampling algorithm.")
    c.add_argument("--resampling", "-r", default="sum",
                   help="Warp (tile-assignment-time) resampling kernel for "
                        "the value band: sum|average|min|max|rms.")
    c.add_argument("--tms", default=None,
                   help="JSON file describing a custom quad TileMatrixSet "
                        "(id, crs, bbox, tile_px, matrix_width0, "
                        "matrix_height0, geographic).")
    c.add_argument("--band-tags", default=None, dest="band_tags",
                   help="JSON file mapping band name -> {tag: value}; "
                        "surfaced in info Band_Metadata.")
    c.add_argument("--web-optimized", "-w", action="store_true",
                   dest="web_optimized",
                   help="Create a web-optimized (TMS-aligned) pyramid.")
    c.add_argument("--zoom-level-strategy", default="auto",
                   choices=["lower", "upper", "auto"],
                   dest="zoom_level_strategy",
                   help="Strategy to determine zoom level.")
    c.add_argument("--zoom-level", type=int, default=None, dest="zoom_level",
                   help="Zoom level for the highest resolution (overrides "
                        "--max-zoom and --zoom-level-strategy).")
    c.add_argument("--aligned-levels", type=int, default=None,
                   dest="aligned_levels",
                   help="Overview levels whose tiles must align with the "
                        "tiling scheme (web-optimized only).")
    c.add_argument("--source-resolution", type=float, default=None,
                   dest="source_resolution",
                   help="Source ground resolution (mercator m/px) from "
                        "which --zoom-level-strategy derives the max zoom.")
    c.add_argument("--colormap", default=None,
                   help="JSON file mapping pixel value -> [R,G,B,A] "
                        "(single-band datasets only).")
    c.set_defaults(fn=cmd_create)

    v = sub.add_parser("validate")
    v.add_argument("tiles_dir")
    v.add_argument("--strict", action="store_true")
    v.set_defaults(fn=cmd_validate)

    i = sub.add_parser("info")
    i.add_argument("tiles_dir")
    i.add_argument("--json", action="store_true")
    i.set_defaults(fn=cmd_info)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
