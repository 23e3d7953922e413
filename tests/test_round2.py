"""Round-2 additions: interpolating resampling kernels, web-optimized
wiring, CLI blocksize/bidx parity, colormap info, exact block-matmul
near-dup, md5_60 simhash oracle-hasher, asof NULL semantics, salted
fan-out, and power-of-2 decimation zoom labeling."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from rio_cogeo_spark import grid
from rio_cogeo_spark.cli import parse_bidx, resolve_blocksizes
from rio_cogeo_spark.errors import IncompatibleOptions
from rio_cogeo_spark.operators import dedup as DD
from rio_cogeo_spark.operators import raster as R
from rio_cogeo_spark.operators.asof import asof_join
from rio_cogeo_spark.operators.info import cog_info
from rio_cogeo_spark.operators.skew import salted_count
from rio_cogeo_spark.operators.translate import (
    base_tiles,
    cog_translate,
    plan_tile_job,
    tiles_meta,
)
from rio_cogeo_spark.synth import synth_pages


@pytest.fixture(scope="module")
def pages(spark, sf_small):
    df = synth_pages(spark, sf_small).cache()
    df.count()
    return df


# ---------------------------------------------------------------------------
# Resampling kernels (reference cogeo.py:46-58 full RIOResampling set)
# ---------------------------------------------------------------------------


def test_kernel_taps_sum_to_one():
    for k in ("bilinear", "cubic", "cubic_spline", "lanczos", "gauss"):
        w = R._kernel_taps(k)
        assert abs(w.sum() - 1.0) < 1e-12, k


def test_interpolating_kernels_preserve_constant_field():
    block = np.full((8, 8), 7.0)
    for k in ("bilinear", "cubic", "cubic_spline", "lanczos", "gauss"):
        out = R._decimate(block, k)
        assert out.shape == (4, 4)
        assert np.allclose(out, 7.0), k


def test_bilinear_equals_average_for_2x():
    rng = np.random.default_rng(3)
    block = rng.uniform(0, 100, (8, 8))
    bil = R._decimate(block, "bilinear")
    q = block.reshape(4, 2, 4, 2).transpose(0, 2, 1, 3).reshape(4, 4, 4)
    assert np.allclose(bil, q.mean(axis=2))


def test_cubic_golden_gradient():
    # linear ramps are reproduced exactly by any interpolating kernel with
    # symmetric taps summing to 1 (interior; edges clamp)
    block = np.tile(np.arange(8, dtype=np.float64), (8, 1))
    out = R._decimate(block, "cubic")
    # interior columns: dst col c samples src at 2c+1 boundary → value 2c+0.5
    assert np.allclose(out[:, 1:3], [[2.5, 4.5]] * 4)


def test_interpolating_kernels_integer_rounding():
    block = np.arange(16, dtype=np.int64).reshape(4, 4)
    out = R._decimate(block, "cubic")
    assert out.dtype == np.int64


def test_all_kernels_run_on_pixel_level(pages):
    base = R.rasterize_tiles(pages, zoom=5, px=4)
    for k in ("nearest", "bilinear", "cubic", "lanczos", "gauss", "average",
              "mode", "rms", "sum", "min", "max", "cubic_spline"):
        parent = R.downsample_pixel_level(base, px=4, kernel=k)
        row = parent.first()
        assert row is not None and len(row["pixels"]) == 16, k


def test_build_pixel_pyramid_levels(pages):
    pyr = R.build_pixel_pyramid(pages, max_zoom=5, levels=2, px=4, kernel="sum")
    zooms = sorted(r["zoom"] for r in pyr.select("zoom").distinct().collect())
    assert zooms == [3, 4, 5]
    # mass conservation for the 'sum' warp kernel across all levels
    sums = {
        r["zoom"]: r["s"]
        for r in pyr.select(
            "zoom", F.aggregate("pixels", F.lit(0).cast("long"), lambda a, v: a + v).alias("px")
        ).groupBy("zoom").agg(F.sum("px").alias("s")).collect()
    }
    assert sums[3] == sums[4] == sums[5] == pages.count()


def test_invalid_kernel_rejected(pages):
    with pytest.raises(ValueError):
        R.build_pixel_pyramid(pages, max_zoom=5, levels=1, px=4, kernel="bogus")
    with pytest.raises(IncompatibleOptions):
        cog_translate(pages, max_zoom=5, overview_resampling="bogus")


# ---------------------------------------------------------------------------
# Web-optimized wiring (reference tests/test_web.py:30-124, 241-300)
# ---------------------------------------------------------------------------


def test_web_optimized_aligned_extent(pages):
    tiles, plan = cog_translate(
        pages, max_zoom=8, overview_level=2, web_optimized=True, aligned_levels=2
    )
    tx0, ty0, tx1, ty1 = plan.extent
    # snapped outward to whole z6 (= 8 - 2) tiles: multiples of 4
    assert tx0 % 4 == 0 and ty0 % 4 == 0
    assert (tx1 + 1) % 4 == 0 and (ty1 + 1) % 4 == 0
    assert plan.properties["TILING_SCHEME_ALIGNED_LEVELS"] == "2"
    # unaligned plan extent is within the aligned one
    _, plain = cog_translate(pages, max_zoom=8, overview_level=2)
    px0, py0, px1, py1 = plain.extent
    assert tx0 <= px0 and ty0 <= py0 and tx1 >= px1 and ty1 >= py1


def test_web_optimized_zoom_strategies(pages):
    # maxzoom from source resolution: lower picks one coarser than upper
    # (the reference's z9-vs-z8 shape, tests/test_web.py:56-71)
    res = grid.cell_size(9) * 1.5
    _, up = cog_translate(
        pages, overview_level=1, web_optimized=True,
        source_resolution=res, zoom_level_strategy="upper",
    )
    _, lo = cog_translate(
        pages, overview_level=1, web_optimized=True,
        source_resolution=res, zoom_level_strategy="lower",
    )
    assert up.max_zoom == 9 and lo.max_zoom == 8
    # explicit zoom_level overrides the strategy (cogeo.py:141-143)
    _, zl = cog_translate(
        pages, overview_level=1, web_optimized=True,
        source_resolution=res, zoom_level=7, zoom_level_strategy="upper",
    )
    assert zl.max_zoom == 7


def test_auto_strategy_threshold_matches_morecantile():
    # morecantile's auto threshold is 1.1 (cell(z-1)/res < 1.1 → snap down)
    res = grid.cell_size(8) / 1.05
    assert grid.zoom_for_res(res, zoom_level_strategy="auto") == 8
    res = grid.cell_size(8) / 1.15
    assert grid.zoom_for_res(res, zoom_level_strategy="auto") == 9


# ---------------------------------------------------------------------------
# CLI parity: blocksize precedence + band indexes
# ---------------------------------------------------------------------------


def test_blocksize_precedence(monkeypatch):
    monkeypatch.delenv("GDAL_TIFF_OVR_BLOCKSIZE", raising=False)
    # default: profile blocksize, overview = blocksize
    assert resolve_blocksizes(None, None, False) == (512, 512)
    # explicit blocksize flows into the overview default
    assert resolve_blocksizes(128, None, False) == (128, 128)
    # explicit overview wins
    assert resolve_blocksizes(128, 64, False) == (128, 64)
    # env fills in when no CLI overview (reference tests/test_cli.py:261-279)
    monkeypatch.setenv("GDAL_TIFF_OVR_BLOCKSIZE", "64")
    assert resolve_blocksizes(128, None, False) == (128, 64)
    # CLI overview still beats env
    assert resolve_blocksizes(128, 32, False) == (128, 32)
    # web-optimized: blocksize defaults to the TMS tile size and overview
    # matches it BEFORE the env fallback (scripts/cli.py:282-298)
    assert resolve_blocksizes(None, None, True) == (256, 256)
    monkeypatch.delenv("GDAL_TIFF_OVR_BLOCKSIZE", raising=False)
    assert resolve_blocksizes(512, None, True) == (512, 512)


def test_parse_bidx():
    assert parse_bidx("1") == [1]
    assert parse_bidx("1,3") == [1, 3]
    import argparse

    with pytest.raises(argparse.ArgumentTypeError):
        parse_bidx("0,1")
    with pytest.raises(argparse.ArgumentTypeError):
        parse_bidx("a")


def test_overview_blocksize_in_tiles_meta(pages):
    plan = plan_tile_job(pages, 8, overview_level=2, overview_blocksize=128)
    tiles, _ = cog_translate(pages, max_zoom=8, overview_level=2,
                             overview_blocksize=128)
    meta = tiles_meta(tiles, plan).collect()
    by_dec = {r["decimation"]: (r["blocksize_x"], r["blocksize_y"]) for r in meta}
    assert by_dec[1] == (512, 512)
    assert by_dec[2] == (128, 128) and by_dec[4] == (128, 128)


# ---------------------------------------------------------------------------
# cog_info colormap / colorinterp / scales / nodata (cogeo.py:337-360)
# ---------------------------------------------------------------------------


def test_info_colormap_surfaced(pages):
    from rio_cogeo_spark.operators.translate import BandSpec

    cmap = {0: (0, 0, 0, 255), 1: (255, 0, 0, 255)}
    tiles, plan = cog_translate(
        pages, max_zoom=6, overview_level=1,
        bands=[BandSpec("page_count", lambda: F.count(F.lit(1)).cast("long"), "sum")],
        colormap=cmap, band_scales=[2.0], band_offsets=[1.5], nodata=-9999.0,
    )
    info = cog_info(
        tiles, tiles_meta(tiles, plan), plan.properties,
        band_meta=plan.band_meta, colormap=plan.colormap,
    )
    d = info.dict()
    assert d["Profile"]["ColorMap"] is True
    assert d["Profile"]["ColorInterp"] == ("palette",)
    assert d["Profile"]["Nodata"] == -9999.0
    assert d["Profile"]["Scales"][0] == 2.0 and d["Profile"]["Offsets"][0] == 1.5
    assert d["Profile"]["InternalMask"] is True  # nodata adds the mask band
    assert d["Band_Metadata"]["page_count"]["ColorInterp"] == "palette"


def test_validate_custom_overview_blocksize_ok_and_aligned_check(pages):
    from rio_cogeo_spark.operators.validate import cog_validate

    # V11 must accept a legitimate custom overview blocksize
    tiles, plan = cog_translate(pages, max_zoom=8, overview_level=2,
                                overview_blocksize=128)
    ok, errs, _ = cog_validate(tiles, tiles_meta(tiles, plan), {"format": "parquet"})
    assert ok, errs

    # V3: an untiled declaration (no block shape) on a big dataset errors;
    # any positive blocksize (e.g. 256 web tiles) is tiled
    meta_plain = tiles_meta(tiles, plan)
    untiled = meta_plain.withColumn("blocksize_x", F.lit(0)).withColumn(
        "blocksize_y", F.lit(0)
    )
    ok_untiled, errs_untiled, _ = cog_validate(tiles, untiled, {"format": "parquet"})
    assert not ok_untiled and any("not tiled" in e for e in errs_untiled)

    # V14: web-aligned plan passes with the alignment property set...
    tiles_w, plan_w = cog_translate(pages, max_zoom=8, overview_level=2,
                                    web_optimized=True, aligned_levels=2)
    ok_w, errs_w, _ = cog_validate(
        tiles_w, tiles_meta(tiles_w, plan_w), plan_w.properties
    )
    assert ok_w, errs_w
    # ...and an UNALIGNED extent with the property claimed must fail
    ok_bad, errs_bad, _ = cog_validate(
        tiles, tiles_meta(tiles, plan),
        {"format": "parquet", "TILING_SCHEME_ALIGNED_LEVELS": "2"},
    )
    assert not ok_bad and any("not aligned" in e for e in errs_bad)


def test_info_no_colormap_defaults(pages):
    tiles, plan = cog_translate(pages, max_zoom=6, overview_level=1)
    info = cog_info(tiles, tiles_meta(tiles, plan), plan.properties,
                    band_meta=plan.band_meta)
    d = info.dict()
    assert d["Profile"]["ColorMap"] is False
    assert "page_count" in d["Profile"]["ColorInterp"]


# ---------------------------------------------------------------------------
# asof NULL-valued state semantics (DuckDB ASOF JOIN parity)
# ---------------------------------------------------------------------------


def test_asof_null_valued_state_is_a_match(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10)], "user_id int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 15, None), (2, 50, 7.0)],
        "user_id int, ts int, v double",
    )
    out = asof_join(left, right, on="user_id", ts="ts", value_cols=["v"],
                    how="inner")
    rows = {(r["user_id"], r["ts"]): r["v"] for r in out.collect()}
    # t=20 matches the NULL-valued state at t=15 (most recent), NOT the
    # older 100.0 — and inner keeps it (a match exists, its value is NULL)
    assert rows[(1, 10)] == 100.0
    assert (1, 20) in rows and rows[(1, 20)] is None
    # user 2 has no state at/before t=10 → dropped by inner
    assert (2, 10) not in rows
    left_out = asof_join(left, right, on="user_id", ts="ts", value_cols=["v"],
                         how="left")
    assert left_out.count() == 3


# ---------------------------------------------------------------------------
# salted aggregation actually fans hot keys out
# ---------------------------------------------------------------------------


def test_salted_count_fans_out_hot_keys(spark):
    # one massive hot key + a few cold ones
    hot = spark.range(0, 5000).select(F.lit("HOT").alias("k"))
    cold = spark.range(0, 10).select(F.concat(F.lit("c"), F.col("id")).alias("k"))
    df = hot.unionByName(cold)
    out = {r["k"]: r["count"] for r in salted_count(df, ["k"], n_salt=8).collect()}
    assert out["HOT"] == 5000 and len(out) == 11
    # the partial stage must see the hot key split into multiple salt groups
    salted = df.withColumn("_salt", (F.rand(42) * 8).cast("int"))
    n_partials = (
        salted.filter(F.col("k") == "HOT").select("_salt").distinct().count()
    )
    assert n_partials > 1, "salt failed to split the hot key"


# ---------------------------------------------------------------------------
# power-of-2 decimation bases keep TMS zoom addressing
# ---------------------------------------------------------------------------


def test_decimation_base4_zoom_labels_are_tms_zooms(pages):
    tiles, plan = cog_translate(pages, max_zoom=8, overview_level=2,
                                decimation_base=4)
    assert plan.tms_aligned
    zooms = sorted(r["zoom"] for r in tiles.select("zoom").distinct().collect())
    # decimations [4, 16] → zoom labels 8, 8-2=6, 8-4=4
    assert zooms == [4, 6, 8]
    # geometry check: the z6 overview must EQUAL a direct base aggregation
    # at zoom 6 (grouping z8 tiles by //4 lands on the true z6 grid)
    lvl6 = {
        (r["tile_x"], r["tile_y"]): r["page_count"]
        for r in tiles.filter(F.col("zoom") == 6).collect()
    }
    direct6 = {
        (r["tile_x"], r["tile_y"]): r["page_count"]
        for r in base_tiles(pages, 6).collect()
    }
    assert lvl6 == direct6


def test_decimation_base3_labels_synthetic(pages):
    tiles, plan = cog_translate(pages, max_zoom=8, overview_level=2,
                                decimation_base=3)
    assert not plan.tms_aligned
    zooms = sorted(r["zoom"] for r in tiles.select("zoom").distinct().collect())
    assert zooms == [6, 7, 8]  # one synthetic label per level
    meta = tiles_meta(tiles, plan).collect()
    assert sorted(r["decimation"] for r in meta) == [1, 3, 9]


# ---------------------------------------------------------------------------
# exact block-matmul near-dup + md5_60 simhash
# ---------------------------------------------------------------------------


def test_knn_kring_builds_lazily_without_driver_jobs(spark, pages):
    """Regression for the cluster-scalability property the plan argument
    relies on: building the k-ring kNN plan must trigger ZERO Spark jobs
    (no driver-side collect/loop in the operator body)."""
    from rio_cogeo_spark.operators import join as J

    st = spark.sparkContext.statusTracker()
    q = spark.createDataFrame(
        [("Q0", 35.68, 139.69)], "query_id string, q_lat double, q_lon double"
    )
    before = set(st.getJobIdsForGroup())
    df = J.knn_kring(pages, q, k=5, ring=2)
    after = set(st.getJobIdsForGroup())
    assert before == after, "knn_kring ran driver-side jobs during plan build"
    assert df.count() > 0  # and the plan actually executes


def test_hll_distinct_band_merges_through_pyramid(pages):
    """The HLL band must union correctly through every overview level:
    estimates equal exact per-tile COUNT(DISTINCT lang) (tiny per-tile
    cardinalities keep the sketch exact)."""
    from rio_cogeo_spark.operators.translate import (
        BandSpec,
        assign_tiles,
        hll_band,
        with_hll_estimates,
    )

    bands = [
        BandSpec("page_count", lambda: F.count(F.lit(1)).cast("long"), "sum"),
        hll_band("lang_hll", "lang"),
    ]
    tiles, plan = cog_translate(pages, max_zoom=6, overview_level=2, bands=bands)
    est = with_hll_estimates(tiles, bands)
    got = {
        (r["zoom"], r["tile_x"], r["tile_y"]): r["lang_hll_estimate"]
        for r in est.collect()
    }
    assigned = assign_tiles(pages, 6)
    for z in (6, 5, 4):
        dec = 2 ** (6 - z)
        exact = {
            (z, r["tx"], r["ty"]): r["n"]
            for r in assigned.groupBy(
                F.floor(F.col("tile_x") / dec).cast("long").alias("tx"),
                F.floor(F.col("tile_y") / dec).cast("long").alias("ty"),
            ).agg(F.countDistinct("lang").alias("n")).collect()
        }
        for k, n in exact.items():
            assert got[k] == n, (k, got[k], n)


def test_cog_translate_dtype_cast(pages):
    tiles, plan = cog_translate(pages, max_zoom=6, overview_level=1,
                                dtype="int")
    for band in ("page_count", "sum_chars", "max_doc_id"):
        assert dict(tiles.dtypes)[band] == "int"
        assert plan.band_meta[band]["dtype"] == "int"


def test_ngram_jaccard_auto_df_cap(spark, sf_mid):
    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").limit(100)
    # auto cap must keep planted exact-dup pairs (their shingles are rare)
    dups = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    d = docs.unionByName(dups)
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.9, df_cap="auto").collect()
    planted = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert all((i, i + 100000) in planted for i in range(10))


def test_knn_exact_randomized_adversarial(spark):
    """Randomized exactness: clustered + isolated points, queries in
    dense, sparse, and EMPTY regions (forcing expansion and the brute
    fallback) — two-phase exact kNN must equal brute force for every
    seed."""
    from rio_cogeo_spark.operators import join as J

    for seed in (7, 99):
        rng = np.random.default_rng(seed)
        pts = []
        for c in range(4):  # tight clusters
            clat, clon = rng.uniform(-50, 50), rng.uniform(-150, 150)
            for _ in range(40):
                pts.append((clat + rng.normal(0, 0.2), clon + rng.normal(0, 0.2)))
        for _ in range(20):  # isolated points
            pts.append((rng.uniform(-60, 60), rng.uniform(-179, 179)))
        pages = spark.createDataFrame(
            [(i, f"u{i}", float(la), float(lo)) for i, (la, lo) in enumerate(pts)],
            "doc_id long, url string, lat double, lon double",
        )
        qs = [("QD", pts[0][0], pts[0][1]),          # dense
              ("QS", pts[-1][0], pts[-1][1]),        # sparse
              ("QE", 0.0, -170.0)]                   # mid-ocean / empty
        queries = spark.createDataFrame(
            [(q, float(la), float(lo)) for q, la, lo in qs],
            "query_id string, q_lat double, q_lon double",
        )
        brute = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["dist2"])
            for r in J.knn_bruteforce(pages, queries, k=4).collect()
        }
        exact = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["dist2"])
            for r in J.knn_kring_exact(pages, queries, k=4).collect()
        }
        assert exact == brute, (seed, exact, brute)


def test_block_matmul_equals_all_pairs(spark, sf_mid):
    emb = spark.read.parquet(f"{sf_mid}/embeddings.parquet")
    block = {
        (r["vec_a"], r["vec_b"], r["cos"])
        for r in DD.embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    allp = {
        (r["vec_a"], r["vec_b"], r["cos"])
        for r in DD.embedding_neardup_pairs(emb, threshold=0.4,
                                            candidates="all").collect()
    }
    assert block == allp and len(block) > 0


def test_multiband_rasterize_mass_conservation(spark, pages):
    t = R.rasterize_tiles(pages, zoom=5, px=4, weight_cols=["n_chars"])
    assert "px_n_chars" in t.columns
    sums = t.select(
        F.aggregate("pixels", F.lit(0).cast("long"), lambda a, v: a + v).alias("n"),
        F.aggregate("px_n_chars", F.lit(0.0), lambda a, v: a + v).alias("w"),
    ).agg(F.sum("n").alias("n"), F.sum("w").alias("w")).first()
    exp = pages.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("w")
    ).first()
    assert sums["n"] == exp["n"]
    assert abs(sums["w"] - float(exp["w"])) < 1e-6


def test_multiband_rasterize_salted_equals_plain(spark, pages):
    plain = {
        (r["tile_x"], r["tile_y"]): (list(r["pixels"]), list(r["px_n_chars"]))
        for r in R.rasterize_tiles(
            pages, zoom=4, px=4, weight_cols=["n_chars"]
        ).collect()
    }
    salted = {
        (r["tile_x"], r["tile_y"]): (list(r["pixels"]), list(r["px_n_chars"]))
        for r in R.rasterize_tiles(
            pages, zoom=4, px=4, weight_cols=["n_chars"], salt_partials=True
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k][0] == salted[k][0]
        assert np.allclose(plain[k][1], salted[k][1])


def test_streaming_tile_rollup_equals_batch(spark, sf_small):
    from rio_cogeo_spark.streaming.tiles import (
        read_pages_stream,
        tile_rollup,
        tile_rollup_batch,
    )
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.synth import synth_pages

    stream_pages = read_pages_stream(spark, sf_small)
    assert stream_pages.isStreaming
    got = run_stream_to_memory(
        tile_rollup(stream_pages, zoom=6), "tile_rollup_t"
    ).collect()
    batch_pages = synth_pages(spark, sf_small).withColumn(
        "warc_ts", F.timestamp_seconds(F.col("ts_sec"))
    )
    exp = tile_rollup_batch(batch_pages, zoom=6).collect()
    key = lambda r: (r["window_sec"], r["tile_x"], r["tile_y"])  # noqa: E731
    got_m = {key(r): (r["page_count"], r["sum_chars"]) for r in got}
    exp_m = {key(r): (r["page_count"], r["sum_chars"]) for r in exp}
    assert got_m == exp_m and len(exp_m) > 0


def test_bpe_tokenizer_and_rolling_fingerprint_goldens(spark):
    import hashlib
    import re

    from rio_cogeo_spark.functions import text as TX

    s = "Don't stop! It's 42 degrees, OK?"
    df = spark.createDataFrame([(s,)], "text string")
    row = df.select(
        TX.bpe_tokens(F.col("text")).alias("toks"),
        TX.bpe_token_count(F.col("text")).alias("n"),
        TX.rolling_fingerprint(F.col("text")).alias("fp"),
    ).first()
    exp_toks = re.findall(TX.BPE_PATTERN, s)
    assert row["toks"] == exp_toks and row["n"] == 11
    # pure-python Karp-Rabin twin over whitespace tokens
    mod, base = (1 << 31) - 1, 131
    acc = 0
    for tok in s.split():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % mod
        acc = (acc * base + h) % mod
    assert row["fp"] == acc
    # empty text folds to 0 token-hash of [''] — just assert determinism
    e = spark.createDataFrame([("",), ("",)], "text string")
    vals = [r["fp"] for r in e.select(
        TX.rolling_fingerprint(F.col("text")).alias("fp")).collect()]
    assert vals[0] == vals[1]


def test_cli_end_to_end_web_optimized(spark, sf_small, tmp_path, monkeypatch):
    """create → info → validate through cli.main(), exercising the
    _plan.json persistence chain (band_meta, nodata, alignment tags) and
    the web-optimized blocksize defaults."""
    import json as _json

    from rio_cogeo_spark.cli import main
    from rio_cogeo_spark.synth import synth_pages

    monkeypatch.delenv("GDAL_TIFF_OVR_BLOCKSIZE", raising=False)
    pages_path = str(tmp_path / "pages")
    out_dir = str(tmp_path / "pyr")
    synth_pages(spark, sf_small).write.parquet(pages_path)

    rc = main([
        "--cpus", "8", "create", pages_path, out_dir,
        "--zoom-level", "7", "--overview-level", "2",
        "--web-optimized", "--aligned-levels", "2", "--bidx", "1",
        "--nodata", "nan",
    ])
    assert rc == 0
    pj = _json.load(open(f"{out_dir}/_plan.json"))
    assert pj["web_optimized"] and pj["aligned_levels"] == 2
    assert pj["blocksize"] == 256  # TMS tile size default under -w
    assert set(pj["band_meta"]) == {"page_count"}

    assert main(["--cpus", "8", "validate", out_dir]) == 0

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["--cpus", "8", "info", out_dir, "--json"]) == 0
    d = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert d["COG"] is True
    assert d["Profile"]["Bands"] == 1
    assert d["Tags"]["Image Metadata"].get("TILING_SCHEME_ALIGNED_LEVELS") == "2"


def test_simhash_md5_60_exact_by_construction(spark, sf_mid):
    base = spark.read.parquet(f"{sf_mid}/documents.parquet").limit(200)
    dups = base.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    docs = base.unionByName(dups)
    sh = {r["doc_id"]: r["simhash"]
          for r in DD.simhash(docs, hasher="md5_60").collect()}
    assert all(0 <= v < (1 << 60) for v in sh.values())
    ids = sorted(sh)
    arr = np.array([sh[i] for i in ids], dtype=np.int64).astype(np.uint64)
    brute = set()
    for i in range(len(ids)):
        ham = np.array([bin(int(v)).count("1") for v in (arr[i] ^ arr)])
        for j in np.nonzero(ham <= 3)[0]:
            if ids[i] < ids[j]:
                brute.add((ids[i], ids[j]))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in DD.simhash_pairs(docs, hasher="md5_60").collect()
    }
    assert got == brute
    assert all((i, i + 100000) in got for i in range(20))
