"""Sources & sinks (SURVEY.md §2.1 S1-S7) + checkpointed, resumable
pyramid builds.

The reference's resumability story is 'rerun the one-shot pipeline'; ours
(north_star) is **snapshot-per-level checkpointing**: every pyramid level
commits atomically with a manifest carrying per-partition lineage + tile
counts, and a resumed job skips completed levels and rebuilds from the
last good one. With an Iceberg catalog each level would be a table
snapshot (S3/S4 analogs, cogeo.py:29-43,464-467); the parquet fallback
emulates the atomic commit with a directory-rename + manifest protocol.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.translate import (
    BandSpec,
    TileJobPlan,
    base_tiles,
    default_bands,
    next_level,
    plan_tile_job,
)
from rio_cogeo_spark.profiles import CogSparkProfile, cog_profiles


def iceberg_available(spark: SparkSession) -> bool:
    """Iceberg needs its runtime jar + a configured catalog (not in this
    image — gated exactly like the guide's 'import-try' advice)."""
    try:
        spark.conf.get("spark.sql.catalog.spark_catalog")
        jvm_has = (
            spark._jvm.org.apache.iceberg.Schema is not None  # type: ignore[attr-defined]
        )
        return bool(jvm_has)
    except Exception:  # noqa: BLE001
        return False


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """S1: open the pages table (Iceberg table name or parquet path)."""
    if not path.startswith("/") and iceberg_available(spark):
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)


def write_table(df: DataFrame, path: str, profile: Optional[CogSparkProfile] = None,
                partition_by: Optional[List[str]] = None) -> None:
    """S4/S5: final copy-sink with profile-driven creation options
    (compression ↔ the reference's TIFF codecs, profiles.py:154-187)."""
    profile = profile or cog_profiles.get("zstd")
    writer = df.write.mode("overwrite").option("compression", profile["compression"])
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: List[str],
    num_buckets: int = 32,
    sort_cols: Optional[List[str]] = None,
) -> None:
    """Bucketed managed table (SURVEY.md §4): joins/aggregations on
    ``bucket_cols`` between co-bucketed tables need NO exchange — the
    Iceberg equivalent is a bucket partition transform. Used to co-locate
    the pages table with its tiles on the tile key at cluster scale."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a fresh metastore can still collide with a stale managed-table dir
    # left by a previous session — remove it so the commit is idempotent
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.replace("file:", ""), table_name.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc)
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def _level_dir(root: str, zoom: int) -> str:
    return os.path.join(root, f"zoom={zoom}")


def _manifest_path(root: str, zoom: int) -> str:
    return os.path.join(root, f"_manifest_z{zoom}.json")


def _write_level(
    tiles: DataFrame, root: str, zoom: int, options: dict,
    compression: Optional[str] = None,
) -> dict:
    """Atomic level commit: write to a temp dir, fsync the manifest last
    (the parquet stand-in for an Iceberg snapshot commit). The manifest
    records per-partition row counts — the 'per-partition lineage +
    tile-count metrics' of the north_star — and the ``options`` the level
    was built with. ``compression`` is the profile/creation-option
    parquet codec (reference profiles.py:10-18 COMPRESS= creation
    option)."""
    tmp = os.path.join(root, f"_tmp_z{zoom}")
    final = _level_dir(root, zoom)
    w = (
        tiles.repartitionByRange(8, "tile_y", "tile_x")
        .sortWithinPartitions("tile_y", "tile_x")
        .write.mode("overwrite")
    )
    if compression:
        w = w.option("compression", compression)
    w.parquet(tmp)
    back = tiles.sparkSession.read.parquet(tmp)
    per_part = [
        {"partition": int(r["pid"]), "rows": int(r["rows"])}
        for r in back.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    ]
    n_tiles = sum(p["rows"] for p in per_part)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(tmp, final)
    manifest = {
        "zoom": zoom,
        "n_tiles": n_tiles,
        "partitions": per_part,
        "options": options,
        "complete": True,
    }
    with open(_manifest_path(root, zoom), "w") as f:
        json.dump(manifest, f)
    return manifest


def _level_complete(root: str, zoom: int, options: dict) -> bool:
    """The level is committed, and with the same ``options``."""
    mp = _manifest_path(root, zoom)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as f:
            m = json.load(f)
        return bool(m.get("complete")) and m.get("options") == options
    except Exception:  # noqa: BLE001
        return False


def resumable_pyramid(
    pages: DataFrame,
    root: str,
    max_zoom: int,
    overview_level: Optional[int] = None,
    decimation_base: int = 2,
    bands: Optional[List[BandSpec]] = None,
    blocksize: Optional[int] = None,
    overview_blocksize: Optional[int] = None,
    aligned_levels: Optional[int] = None,
    tms=None,
    dtype: Optional[str] = None,
    compression: Optional[str] = None,
) -> Tuple[TileJobPlan, List[dict]]:
    """Checkpointed pyramid build: one committed level at a time,
    max_zoom first (children before parents), skipping levels whose
    manifest is already complete — kill the job between levels and rerun
    to resume. A level committed with other options (decimation base,
    bands and merges, dtype, grid, codec) is rebuilt, and so is every
    level above a rebuilt one, since it is made from it. Returns (plan,
    manifests).

    ``dtype`` (Spark type name) casts every band on write, and each
    overview re-aggregates the CASTED committed level below it — exactly
    GDAL's order of operations under ``--dtype`` (the VRT cast happens at
    translate time, then ``build_overviews`` reads the casted dataset;
    reference cogeo.py:81,221,262). ``compression`` is the profile /
    ``--co`` parquet codec."""
    from rio_cogeo_spark import grid as _grid

    spark = pages.sparkSession
    bands = bands or default_bands()
    os.makedirs(root, exist_ok=True)
    plan = plan_tile_job(
        pages,
        max_zoom,
        overview_level,
        decimation_base,
        blocksize=blocksize or _grid.DEFAULT_BLOCKSIZE,
        aligned_levels=aligned_levels,
        overview_blocksize=overview_blocksize,
        tms=tms,
    )

    manifests = []
    prev: Optional[DataFrame] = None
    rebuilt = False
    for z, dec in plan.level_zoom_decs:
        options = {
            "zoom": z,
            "decimation_base": decimation_base,
            "bands": [[b.name, b.merge] for b in bands],
            "dtype": dtype,
            "grid": (tms or _grid.WEB_MERCATOR_QUAD).id,
            "codec": compression,
        }
        if not rebuilt and _level_complete(root, z, options):
            with open(_manifest_path(root, z)) as f:
                manifests.append(json.load(f))
            prev = spark.read.parquet(_level_dir(root, z))
            continue
        rebuilt = True
        if dec == 1:
            level = base_tiles(pages, z, bands, tms=tms).drop("zoom")
        else:
            assert prev is not None
            level = next_level(prev, z, decimation_base, bands).drop("zoom")
        if dtype is not None:
            level = level.select(
                "tile_x", "tile_y",
                *[F.col(b.name).cast(dtype).alias(b.name) for b in bands],
            )
        manifests.append(_write_level(level, root, z, options, compression=compression))
        prev = spark.read.parquet(_level_dir(root, z))
    return plan, manifests


def read_pyramid(spark: SparkSession, root: str) -> DataFrame:
    """Read all committed levels back as one tiles DataFrame (zoom column
    recovered from the directory partitioning)."""
    return spark.read.option("basePath", root).parquet(
        os.path.join(root, "zoom=*")
    )


def verify_written_tiles(pages: DataFrame, root: str) -> dict:
    """Golden-tile verification of the WRITTEN artifact: re-read the
    committed pyramid from disk, independently recompute every level from
    the source pages, and compare a per-tile digest over all band values —
    the parquet analog of the reference's byte-level internal-tile checks
    (tests/test_web.py:158-238: each tile's bytes must equal a windowed
    read of the source). Distributed end to end: one full-outer join on
    the tile key, only the aggregate counts reach the driver.

    Returns {"n_written", "n_fresh", "n_mismatch"}; a clean artifact has
    n_written == n_fresh and n_mismatch == 0.
    """
    spark = pages.sparkSession
    written = read_pyramid(spark, root)
    zooms = sorted(r["zoom"] for r in written.select("zoom").distinct().collect())
    bands = default_bands()
    band_cols = [c for c in written.columns if c not in ("zoom", "tile_x", "tile_y")]

    # independent recompute of the same level chain (children first)
    fresh = base_tiles(pages, max(zooms), bands)
    levels = [fresh]
    for z in reversed(zooms[:-1]):
        fresh = next_level(fresh, z, 2, bands)
        levels.append(fresh)
    fresh_all = levels[0]
    for lv in levels[1:]:
        fresh_all = fresh_all.unionByName(lv)

    def digest(df: DataFrame, name: str) -> DataFrame:
        # coalesce each band to an explicit marker: concat_ws SKIPS nulls,
        # so (5, NULL, 7) and (5, 7, NULL) would otherwise digest equal
        return df.select(
            "zoom", "tile_x", "tile_y",
            F.md5(F.concat_ws(
                "|",
                *[F.coalesce(F.col(c).cast("string"), F.lit("∅"))
                  for c in band_cols],
            )).alias(name),
        )

    joined = digest(written, "d_written").join(
        digest(fresh_all, "d_fresh"), ["zoom", "tile_x", "tile_y"], "full_outer"
    )
    agg = joined.agg(
        F.count("d_written").alias("n_written"),
        F.count("d_fresh").alias("n_fresh"),
        F.sum(
            F.when(
                F.col("d_written").isNull()
                | F.col("d_fresh").isNull()
                | (F.col("d_written") != F.col("d_fresh")),
                1,
            ).otherwise(0)
        ).alias("n_mismatch"),
    ).first()
    return {
        "n_written": int(agg["n_written"]),
        "n_fresh": int(agg["n_fresh"]),
        "n_mismatch": int(agg["n_mismatch"] or 0),
    }
