"""Continuous pyramid maintenance: streaming == batch, exactly-once
commits, replay idempotency (streaming/pyramid.py).
"""

import pytest
from pyspark.sql import functions as F

from rio_cogeo_spark.operators.raster import build_pixel_pyramid
from rio_cogeo_spark.operators.translate import cog_translate, warp_bands
from rio_cogeo_spark.streaming.pyramid import (
    maintain_pyramid,
    read_pyramid_store,
    update_pyramid_store,
)
from rio_cogeo_spark.streaming.tiles import read_pages_stream
from rio_cogeo_spark.synth import synth_pages

SF = "/root/testdata/sf0.001"
ZOOM, LEVELS = 8, 4


def _vals(df):
    return {
        (r.zoom, r.tile_x, r.tile_y): (r.page_count, r.sum_chars, r.max_doc_id)
        for r in df.collect()
    }


def _full(spark):
    tiles, _ = cog_translate(
        synth_pages(spark, SF), max_zoom=ZOOM, overview_level=LEVELS
    )
    return _vals(tiles)


def test_manual_batches_match_full_pyramid(spark, tmp_path):
    store = str(tmp_path / "store")
    pages = synth_pages(spark, SF)
    applied = []
    for i in range(3):
        applied.append(
            update_pyramid_store(
                pages.filter(F.col("doc_id") % 3 == i), i, store, ZOOM, LEVELS
            )
        )
    assert applied == [True, True, True]
    assert _vals(read_pyramid_store(spark, store)) == _full(spark)


def test_replay_and_empty_batch_are_noops(spark, tmp_path):
    store = str(tmp_path / "store")
    pages = synth_pages(spark, SF)
    assert update_pyramid_store(pages, 0, store, ZOOM, LEVELS) is True
    before = _vals(read_pyramid_store(spark, store))
    # checkpoint replay: same batch_id re-applied → guarded no-op
    assert update_pyramid_store(pages, 0, store, ZOOM, LEVELS) is False
    # empty batch → no-op (no version churn)
    assert (
        update_pyramid_store(
            pages.filter(F.lit(False)), 1, store, ZOOM, LEVELS
        )
        is False
    )
    assert _vals(read_pyramid_store(spark, store)) == before


def test_store_starts_empty(spark, tmp_path):
    assert read_pyramid_store(spark, str(tmp_path / "missing")) is None


def test_streaming_available_now_matches_batch(spark, tmp_path):
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = read_pages_stream(spark, SF)
    q = maintain_pyramid(
        stream, store, ZOOM, LEVELS, checkpoint=ckpt
    )
    q.awaitTermination(300)
    got = _vals(read_pyramid_store(spark, store))
    assert got == _full(spark)
    # restarting the drained stream applies nothing new
    q2 = maintain_pyramid(
        read_pages_stream(spark, SF), store, ZOOM, LEVELS,
        checkpoint=ckpt,
    )
    q2.awaitTermination(300)
    assert _vals(read_pyramid_store(spark, store)) == got


def test_pyramid_builds_leave_no_cached_data(spark, tmp_path):
    # cog_translate and build_pixel_pyramid are lazy plans: neither a
    # direct build (the fold path and the level chain of a non-foldable
    # avg band, or the pixel level chain) nor a run of store updates may
    # leave cached data behind in the session
    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    pages = synth_pages(spark, SF)
    for bands in (None, warp_bands("average")):
        tiles, _ = cog_translate(pages, max_zoom=10, overview_level=6, bands=bands)
        assert tiles.count() > 0
        assert cache_empty()
    assert build_pixel_pyramid(pages, max_zoom=5, levels=2, px=4).count() > 0
    assert cache_empty()
    store = str(tmp_path / "store")
    for i in range(3):
        batch = pages.filter(F.col("doc_id") % 3 == i)
        assert update_pyramid_store(batch, i, store, ZOOM, LEVELS)
        assert cache_empty()
