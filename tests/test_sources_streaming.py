"""Checkpoint/resume, raster tiles, streaming, skew, multimodal tests."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_plan_shapes import plan_of

from rio_cogeo_spark.operators import multimodal as MM
from rio_cogeo_spark.operators import raster as R
from rio_cogeo_spark.operators import skew as SK
from rio_cogeo_spark.operators.translate import base_tiles, default_bands
from rio_cogeo_spark.sources import pages as SRC
from rio_cogeo_spark.streaming import events as EV
from rio_cogeo_spark.synth import synth_pages


@pytest.fixture(scope="module")
def pages(spark, sf_small):
    df = synth_pages(spark, sf_small).cache()
    df.count()
    return df


# ---------------------------------------------------------------------------
# resumable pyramid
# ---------------------------------------------------------------------------


def test_resumable_pyramid_and_resume(tmp_path, spark, pages):
    root = str(tmp_path / "pyr")
    plan, manifests = SRC.resumable_pyramid(pages, root, max_zoom=8, overview_level=3)
    zooms = [m["zoom"] for m in manifests]
    assert zooms == [8, 7, 6, 5]
    assert all(m["complete"] and m["n_tiles"] > 0 for m in manifests)
    assert all(len(m["partitions"]) >= 1 for m in manifests)

    back = SRC.read_pyramid(spark, root)
    assert set(r["zoom"] for r in back.select("zoom").distinct().collect()) == {8, 7, 6, 5}
    totals = back.groupBy("zoom").agg(F.sum("page_count").alias("t")).collect()
    assert len({r["t"] for r in totals}) == 1  # mass conserved per level
    # snapshot rows BEFORE resume (the rewrite invalidates old file listings)
    before = sorted(map(tuple, back.collect()))

    # simulate a crash after z8/z7: delete manifests of z6, z5
    for z in (6, 5):
        os.remove(os.path.join(root, f"_manifest_z{z}.json"))
    # resume must rebuild exactly the missing levels and end identical
    plan2, manifests2 = SRC.resumable_pyramid(pages, root, max_zoom=8, overview_level=3)
    assert [m["zoom"] for m in manifests2] == [8, 7, 6, 5]
    after = sorted(map(tuple, SRC.read_pyramid(spark, root).collect()))
    assert after == before


def test_resume_rebuilds_levels_built_with_other_options(tmp_path, spark, pages, monkeypatch):
    """A level committed with other options is rebuilt, not reused; a
    rerun with the same options commits nothing."""
    root = str(tmp_path / "pyr")
    SRC.resumable_pyramid(pages, root, max_zoom=6, overview_level=2)
    plan, manifests = SRC.resumable_pyramid(pages, root, max_zoom=6, overview_level=2, dtype="int")
    names = {b.name for b in default_bands()}
    for z in plan.zooms:
        types = {f.dataType.simpleString()
                 for f in spark.read.parquet(f"{root}/zoom={z}").schema if f.name in names}
        assert types == {"int"}, (z, types)

    def no_commit(*args, **kwargs):
        raise AssertionError("a level built with the same options was rebuilt")

    monkeypatch.setattr(SRC, "_write_level", no_commit)
    _, again = SRC.resumable_pyramid(pages, root, max_zoom=6, overview_level=2, dtype="int")
    assert again == manifests


def test_write_table_profile_roundtrip(tmp_path, spark, pages):
    from rio_cogeo_spark.profiles import cog_profiles

    out = str(tmp_path / "t")
    tiles = base_tiles(pages, 6)
    SRC.write_table(tiles, out, cog_profiles.get("zstd"), partition_by=["zoom"])
    assert spark.read.parquet(out).count() == tiles.count()


# ---------------------------------------------------------------------------
# raster pixel tiles
# ---------------------------------------------------------------------------


def test_rasterize_conserves_mass_and_matches_salted(pages):
    px = 16
    plain = R.rasterize_tiles(pages, 6, px=px).cache()
    n_pages = pages.count()
    mass = plain.agg(
        F.sum(F.aggregate("pixels", F.lit(0).cast("long"), lambda a, b: a + b))
    ).first()[0]
    assert mass == n_pages

    salted = R.rasterize_tiles(pages, 6, px=px, salt_partials=True, n_salt=4)
    a = {(r["tile_x"], r["tile_y"]): list(r["pixels"]) for r in plain.collect()}
    b = {(r["tile_x"], r["tile_y"]): list(r["pixels"]) for r in salted.collect()}
    assert a == b


def test_rasterize_pixel_counts_match_tile_counts(pages):
    px = 8
    tiles = base_tiles(pages, 6).collect()
    counts = {(r["tile_x"], r["tile_y"]): r["page_count"] for r in tiles}
    rast = R.rasterize_tiles(pages, 6, px=px).collect()
    for r in rast:
        assert sum(r["pixels"]) == counts[(r["tile_x"], r["tile_y"])]


def test_downsample_kernels():
    block = np.array([[1, 2, 3, 4], [5, 6, 7, 8], [1, 1, 2, 2], [1, 1, 2, 2]])
    assert R._decimate(block, "sum").tolist() == [[14, 22], [4, 8]]
    assert R._decimate(block, "nearest").tolist() == [[1, 3], [1, 2]]
    assert R._decimate(block, "max").tolist() == [[6, 8], [1, 2]]
    assert R._decimate(block, "min").tolist() == [[1, 3], [1, 2]]
    assert R._decimate(block, "mode").tolist() == [[1, 3], [1, 2]]
    avg = R._decimate(block.astype(np.float64), "average")
    assert avg.tolist() == [[3.5, 5.5], [1.0, 2.0]]


def test_downsample_pixel_level_conserves_sum(pages):
    px = 8
    base = R.rasterize_tiles(pages, 6, px=px).cache()
    parent = R.downsample_pixel_level(base, px=px, kernel="sum")
    s0 = base.agg(
        F.sum(F.aggregate("pixels", F.lit(0).cast("long"), lambda a, b: a + b))
    ).first()[0]
    s1 = parent.agg(
        F.sum(F.aggregate("pixels", F.lit(0).cast("long"), lambda a, b: a + b))
    ).first()[0]
    assert s0 == s1
    assert parent.select(F.size("pixels")).first()[0] == px * px
    zooms = parent.select("zoom").distinct().collect()
    assert [r["zoom"] for r in zooms] == [5]


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def test_streaming_rollup_equals_batch(spark, sf_small):
    ev_batch = spark.read.parquet(f"{sf_small}/events.parquet")
    expected = {
        (r["hour_sec"], r["event_type"]): (r["n"], r["sum_value"])
        for r in EV.windowed_rollup_batch(ev_batch).collect()
    }
    stream = EV.read_events_stream(spark, sf_small)
    got_df = EV.run_stream_to_memory(EV.windowed_rollup(stream), "rollup_test")
    got = {
        (r["hour_sec"], r["event_type"]): (r["n"], r["sum_value"])
        for r in got_df.collect()
    }
    assert got == expected and len(got) > 0


def test_sessionize(spark, sf_small):
    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    sess = EV.sessionize_batch(ev).cache()
    n_events = ev.count()
    assert sess.agg(F.sum("n_events")).first()[0] == n_events
    assert sess.filter(F.col("t_end_sec") < F.col("t_start_sec")).count() == 0


# ---------------------------------------------------------------------------
# skew helpers
# ---------------------------------------------------------------------------


def test_salted_count_equals_direct(pages):
    from rio_cogeo_spark.operators.translate import assign_tiles

    t = assign_tiles(pages, 6)
    direct = {
        (r["tile_x"], r["tile_y"]): r["count"]
        for r in t.groupBy("tile_x", "tile_y").count().collect()
    }
    salted = {
        (r["tile_x"], r["tile_y"]): r["count"]
        for r in SK.salted_count(t, ["tile_x", "tile_y"], n_salt=4).collect()
    }
    assert direct == salted


def test_key_skew_report(pages):
    from rio_cogeo_spark.operators.translate import assign_tiles

    rep = SK.key_skew_report(assign_tiles(pages, 4), ["tile_x", "tile_y"], top=5)
    rows = rep.collect()
    assert len(rows) == 5
    assert rows[0]["rows"] >= rows[-1]["rows"]
    # hotspot synth data IS skewed: top tile should hold >5% of pages
    assert rows[0]["share"] > 0.05


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_multimodal_pipeline(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    media = MM.attach_media(docs).cache()
    assert media.count() == docs.count()

    feats = MM.extract_features(media, decoder="fake").cache()
    assert feats.count() == docs.count()
    row = feats.first()
    assert len(row["thumb"]) == 16
    assert row["feat_std"] >= 0.0
    # deterministic: re-run equals
    again = MM.extract_features(media, decoder="fake")
    assert feats.exceptAll(again).count() == 0

    frames = MM.sample_frames(media)
    vids = media.filter(F.col("kind") == "video").count()
    assert frames.select("media_id").distinct().count() == vids
    assert frames.agg(F.max("frame_idx")).first()[0] <= 7


def test_multimodal_real_decoder_is_stubbed(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(2)
    media = MM.attach_media(docs)
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        MM.extract_features(media, decoder="real").collect()


# ---------------------------------------------------------------------------
# bucketed co-located join (no exchange)
# ---------------------------------------------------------------------------


def test_bucketed_join_has_no_exchange(spark, pages):
    from rio_cogeo_spark.operators.translate import assign_tiles, base_tiles

    assigned = assign_tiles(pages, 6).select("url", "n_chars", "tile_x", "tile_y")
    tiles = base_tiles(pages, 6)
    SRC.write_bucketed(assigned, "pages_b", ["tile_x", "tile_y"], 8,
                       sort_cols=["tile_x", "tile_y"])
    SRC.write_bucketed(tiles, "tiles_b", ["tile_x", "tile_y"], 8,
                       sort_cols=["tile_x", "tile_y"])
    a = spark.table("pages_b")
    b = spark.table("tiles_b")
    joined = a.join(b, ["tile_x", "tile_y"])
    plan = plan_of(joined)
    # co-bucketed join must not shuffle either side
    assert "Exchange hashpartitioning" not in plan, plan
    # and results are correct
    n = joined.count()
    shuffled = assigned.join(tiles, ["tile_x", "tile_y"]).count()
    assert n == shuffled


def test_written_artifact_tile_verification(tmp_path, spark, pages):
    """Golden-tile check of the WRITTEN parquet (reference
    tests/test_web.py:158-238 byte-level analog): per-tile digest of the
    committed artifact equals an independent recompute — and a corrupted
    artifact is caught."""
    root = str(tmp_path / "pyr")
    SRC.resumable_pyramid(pages, root, max_zoom=8, overview_level=3)
    rep = SRC.verify_written_tiles(pages, root)
    assert rep["n_mismatch"] == 0
    assert rep["n_written"] == rep["n_fresh"] > 0

    # corrupt one level: rewrite z6 with one band value bumped
    z6 = spark.read.parquet(f"{root}/zoom=6")
    (
        z6.withColumn(
            "page_count",
            F.when(F.rand(7) < 0.05, F.col("page_count") + 1).otherwise(
                F.col("page_count")
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{root}/_tmp_corrupt")
    )
    import shutil as _sh

    _sh.rmtree(f"{root}/zoom=6")
    os.rename(f"{root}/_tmp_corrupt", f"{root}/zoom=6")
    rep2 = SRC.verify_written_tiles(pages, root)
    assert rep2["n_mismatch"] > 0
