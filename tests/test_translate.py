"""End-to-end slice (SURVEY.md §7 step 3): pages → pyramid → validate → info,
asserted against a single-process numpy/pandas oracle (the role GDAL plays
for the reference)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_plan_shapes import plan_of

from rio_cogeo_spark import grid
from rio_cogeo_spark.operators.info import cog_info
from rio_cogeo_spark.operators.translate import (
    cog_translate,
    tiles_meta,
    write_tiles,
)
from rio_cogeo_spark.operators.validate import (
    check_write_order,
    cog_validate,
    validate_report,
)
from rio_cogeo_spark.synth import synth_pages

ZOOM = 8


@pytest.fixture(scope="module")
def pages(spark, sf_small):
    df = synth_pages(spark, sf_small).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pyramid(pages):
    tiles, plan = cog_translate(pages, max_zoom=ZOOM)
    tiles = tiles.cache()
    tiles.count()
    return tiles, plan


def _numpy_oracle(pages_pdf, zoom):
    """Brute-force single-process pyramid."""
    tx, ty = grid.tile_index(pages_pdf["lon"].to_numpy(), pages_pdf["lat"].to_numpy(), zoom)
    df = pages_pdf.assign(tile_x=tx, tile_y=ty)
    base = (
        df.groupby(["tile_x", "tile_y"])
        .agg(page_count=("doc_id", "size"), sum_chars=("n_chars", "sum"), max_doc_id=("doc_id", "max"))
        .reset_index()
    )
    return base


def test_base_level_matches_numpy_oracle(pages, pyramid):
    tiles, plan = pyramid
    pdf = pages.select("doc_id", "lon", "lat", "n_chars").toPandas()
    oracle = _numpy_oracle(pdf, ZOOM).sort_values(["tile_x", "tile_y"]).reset_index(drop=True)
    got = (
        tiles.filter(F.col("zoom") == ZOOM)
        .select("tile_x", "tile_y", "page_count", "sum_chars", "max_doc_id")
        .toPandas()
        .sort_values(["tile_x", "tile_y"])
        .reset_index(drop=True)
    )
    assert len(got) == len(oracle)
    np.testing.assert_array_equal(got["tile_x"], oracle["tile_x"])
    np.testing.assert_array_equal(got["page_count"], oracle["page_count"])
    np.testing.assert_array_equal(got["sum_chars"], oracle["sum_chars"])
    np.testing.assert_array_equal(got["max_doc_id"], oracle["max_doc_id"])


def test_pyramid_level_invariants(pyramid):
    tiles, plan = pyramid
    # Every level conserves page_count mass (sum-merge pyramid).
    per_zoom = (
        tiles.groupBy("zoom").agg(F.sum("page_count").alias("total")).collect()
    )
    totals = {r["zoom"]: r["total"] for r in per_zoom}
    assert len(set(totals.values())) == 1, totals
    # Parent tile of every child exists at the next level up.
    zooms = sorted(totals)
    assert zooms == list(range(plan.min_zoom, ZOOM + 1))
    for z in zooms[:-1]:
        child = (
            tiles.filter(F.col("zoom") == z + 1)
            .select(
                F.floor(F.col("tile_x") / 2).cast("long").alias("tile_x"),
                F.floor(F.col("tile_y") / 2).cast("long").alias("tile_y"),
            )
            .distinct()
        )
        parent = tiles.filter(F.col("zoom") == z).select("tile_x", "tile_y")
        missing = child.exceptAll(parent).count()
        assert missing == 0


def test_decimations_follow_reference_rule(pyramid):
    _, plan = pyramid
    # overview list = [base**j] until min side <= 512 (cogeo.py:381-390).
    assert plan.decimations == [2**j for j in range(1, len(plan.decimations) + 1)]
    lvl = grid.max_overview_level(plan.width_px, plan.height_px, minsize=512)
    assert len(plan.decimations) == lvl


def test_validate_and_info(pyramid):
    tiles, plan = pyramid
    meta = tiles_meta(tiles, plan)
    ok, errors, warnings = cog_validate(tiles, meta, {"format": "parquet"})
    assert ok, (errors, warnings)

    info = cog_info(tiles, meta)
    assert info.COG is True
    assert info.GEO.MaxZoom == ZOOM
    assert info.GEO.MinZoom == plan.min_zoom
    assert info.Profile.Bands == 3
    assert [i.Decimation for i in info.IFD] == [1] + plan.decimations

    # both small driver-built tables are JVM local relations: no action
    # on them pipes rows through a Python worker
    report = validate_report(tiles, meta, {"format": "parquet"})
    assert report.filter(~F.col("ok")).count() == 0
    for df in (meta, report):
        assert "Scan ExistingRDD" not in plan_of(df)


def test_validate_catches_bad_structures(spark, pyramid):
    tiles, plan = pyramid
    meta = tiles_meta(tiles, plan)

    # V6: known-incompatible property.
    ok, errs, _ = cog_validate(tiles, meta, {"cog.known_incompatible": "YES"})
    assert not ok and any("KNOWN_INCOMPATIBLE" in e for e in errs)

    # V7: unsorted decimations (reference validate/image_sorted.tif case).
    bad = meta.withColumn(
        "decimation",
        F.when(F.col("level") == 1, F.lit(8)).otherwise(F.col("decimation")),
    )
    ok, errs, _ = cog_validate(tiles, bad)
    assert not ok and any("not sorted" in e for e in errs)

    # V8: decimation <= 1 (reference validate/image_dec.tif case).
    bad = meta.withColumn(
        "decimation",
        F.when(F.col("level") == 1, F.lit(1)).otherwise(F.col("decimation")),
    )
    ok, errs, _ = cog_validate(tiles, bad)
    assert not ok and any("decimation" in e.lower() for e in errs)

    # V2: zoom present in tiles but not declared (external overview case).
    bad_meta = meta.filter(F.col("level") != 1)
    ok, errs, _ = cog_validate(tiles, bad_meta)
    assert not ok and any("external" in e.lower() for e in errs)

    # V4/V12: single level → warning; strict promotes to error.
    only_base = tiles.filter(F.col("zoom") == ZOOM)
    base_meta = meta.filter(F.col("zoom") == ZOOM).withColumn("write_index", F.lit(0))
    ok, errs, warns = cog_validate(only_base, base_meta)
    assert ok and warns
    ok, errs, _ = cog_validate(only_base, base_meta, strict=True)
    assert not ok


def test_write_order_discipline(tmp_path, spark, pyramid):
    tiles, plan = pyramid
    out = str(tmp_path / "tiles")
    write_tiles(tiles, out, num_partitions=8)
    back = spark.read.parquet(out)
    assert back.count() == tiles.count()
    assert check_write_order(back)


def test_text_extraction_byte_identical(spark, sf_small):
    from rio_cogeo_spark.functions.text import text_from_html

    pages = synth_pages(spark, sf_small, with_html=True)
    bad = pages.withColumn("rt", text_from_html(F.col("html"))).filter(
        F.col("rt") != F.col("text")
    )
    assert bad.count() == 0


def test_text_extraction_python_roundtrip():
    from rio_cogeo_spark.functions.text import build_html, extract_text

    for t in ["hello world", "a < b & c > d", "", "x&amp;y <tag>"]:
        assert extract_text(build_html(t, 1.5, -2.25)) == t
