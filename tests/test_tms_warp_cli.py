"""Round-4 surface: custom TileMatrixSet (reference cogeo.py:86 tms
param, scripts/cli.py:214-219 --tms), the warp --resampling CLI knob
(scripts/cli.py:165-171, distinct from --overview-resampling), and the
--band-tags CLI path (--forward-band-tags analog, scripts/cli.py:193-199).
"""

import contextlib
import io
import json as _json

import numpy as np
import pytest

from rio_cogeo_spark import grid
from rio_cogeo_spark.synth import synth_pages


@pytest.fixture(scope="module")
def pages(spark, sf_small):
    df = synth_pages(spark, sf_small).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_path(spark, sf_small, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("tms") / "pages")
    synth_pages(spark, sf_small).write.parquet(p)
    return p


# --- grid: the default TMS is floating-point-identical to the module
# fast path (the oracle SQL twins target the fast path, so any drift
# here would silently split the two surfaces)

def test_web_mercator_quad_is_fp_identical_to_fast_path():
    rng = np.random.default_rng(7)
    # plus the corners plan_tile_job can pass in: the mercator clip
    # bound, the poles, out-of-range latitudes and longitudes
    corners = [(x, y) for x in (180.0, -180.0, 200.0, -200.0)
               for y in (grid.MAX_LAT, -grid.MAX_LAT, 90.0, -90.0, 95.0, -95.0)]
    lon = np.concatenate([rng.uniform(-179, 179, 5000), [c[0] for c in corners]])
    lat = np.concatenate([rng.uniform(-84, 84, 5000), [c[1] for c in corners]])
    q = grid.WEB_MERCATOR_QUAD
    for z in (0, 3, 8, 15, 30):
        tx_a, ty_a = grid.tile_index(lon, lat, z)
        tx_b, ty_b = q.tile_index(lon, lat, z)
        assert (tx_a == tx_b).all() and (ty_a == ty_b).all()
        assert grid.cell_size(z) == q.cell_size(z)
        w1 = grid.tile_bounds_mercator(np.array([5]), np.array([7]), z)
        w2 = q.tile_bounds(np.array([5]), np.array([7]), z)
        for u, v in zip(w1, w2):
            assert float(u[0]) == float(v[0])
    for res in (1000.0, 152.87, 10.0):
        for s in ("auto", "lower", "upper"):
            assert grid.zoom_for_res(res, zoom_level_strategy=s) == q.zoom_for_res(
                res, zoom_level_strategy=s
            )


# --- grid: WorldCRS84Quad semantics (OGC 17-083r2 Annex D: geographic
# CRS, 2x1 zoom-0 matrix) — the reference's tms.zoom_for_res contract at
# a non-default grid

def test_world_crs84_quad_matrix_and_index():
    q = grid.WORLD_CRS84_QUAD
    assert q.matrix_size(0) == (2, 1)
    assert q.cell_size(0) == 360.0 / (2 * 256)
    assert q.cell_size(3) == q.cell_size(2) / 2
    tx, ty = q.tile_index([-180.0, 0.0, 179.999], [90.0, 0.0, -90.0], 0)
    assert list(tx) == [0, 1, 1] and list(ty) == [0, 0, 0]
    tx, ty = q.tile_index([-90.0], [45.0], 2)
    assert (int(tx[0]), int(ty[0])) == (2, 1)
    # tile_bounds inverts tile_index at the tile corner
    w, s, e, n = q.tile_bounds([2], [1], 2)
    assert (float(w[0]), float(n[0])) == (-90.0, 45.0)
    assert float(e[0]) - float(w[0]) == 45.0


def test_world_crs84_zoom_for_res_strategies():
    q = grid.WORLD_CRS84_QUAD
    # exact matrix resolution → that zoom under auto
    assert q.zoom_for_res(q.cell_size(4), zoom_level_strategy="auto") == 4
    # slightly finer than z4 → upper keeps z5, auto snaps back within 10%
    res = q.cell_size(4) * 0.95
    assert q.zoom_for_res(res, zoom_level_strategy="upper") == 5
    assert q.zoom_for_res(res, zoom_level_strategy="auto") == 4
    assert q.zoom_for_res(res, zoom_level_strategy="lower") == 4
    with pytest.raises(ValueError):
        q.zoom_for_res(10.0, zoom_level_strategy="bogus")


def test_tms_from_dict_validation():
    d = {"id": "X", "crs": "EPSG:9999", "bbox": [0, 0, 10, 10],
         "geographic": True}
    t = grid.tms_from_dict(d)
    assert t.cell_size(0) == 10.0 / 256
    with pytest.raises(ValueError):
        grid.tms_from_dict({"id": "X", "crs": "c", "bbox": [1, 0, 0, 1]})
    with pytest.raises(ValueError):
        grid.tms_from_dict({"id": "X", "crs": "c", "bbox": [0, 0, 1, 1],
                            "bogus_key": 1})


# --- translate: a full pyramid over the geographic TMS — tile ids match
# a pandas recompute via tms.tile_index, and band mass is conserved

def test_cog_translate_with_custom_tms(pages):
    import pyspark.sql.functions as F

    from rio_cogeo_spark.operators.translate import cog_translate

    q = grid.WORLD_CRS84_QUAD
    tiles, plan = cog_translate(pages, max_zoom=6, overview_level=2, tms=q)
    assert plan.properties["TILING_SCHEME_NAME"] == "WorldCRS84Quad"

    base = tiles.filter(F.col("zoom") == 6)
    got = {
        (r["tile_x"], r["tile_y"]): r["page_count"]
        for r in base.collect()
    }
    pdf = pages.select("lon", "lat").toPandas()
    tx, ty = q.tile_index(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 6)
    want = {}
    for x, y in zip(tx, ty):
        want[(int(x), int(y))] = want.get((int(x), int(y)), 0) + 1
    assert got == want

    # mass conservation across every level on the non-default grid
    masses = [
        r["m"]
        for r in tiles.groupBy("zoom").agg(F.sum("page_count").alias("m")).collect()
    ]
    assert len(set(masses)) == 1

    # geographic x-indices can exceed the mercator matrix (2x1 layout)
    assert base.agg(F.max("tile_x")).first()[0] <= 2 * 2**6 - 1


# --- CLI: --resampling sum vs average produce the documented different
# value bands (warp kernel at tile-assignment time)

def test_cli_resampling_sum_vs_average(pages_path, tmp_path, spark):
    from rio_cogeo_spark.cli import main
    from rio_cogeo_spark.sources.pages import read_pyramid

    outs = {}
    for kernel in ("sum", "average"):
        out = str(tmp_path / f"pyr_{kernel}")
        rc = main([
            "--cpus", "8", "create", pages_path, out,
            "--max-zoom", "6", "--overview-level", "1",
            "--resampling", kernel,
        ])
        assert rc == 0
        outs[kernel] = out

    t_sum = read_pyramid(spark, outs["sum"])
    t_avg = read_pyramid(spark, outs["average"])
    assert "sum_chars" in t_sum.columns and "avg_chars" in t_avg.columns
    import pyspark.sql.functions as F

    row_s = (t_sum.filter(F.col("zoom") == 6)
             .orderBy("tile_x", "tile_y").select("page_count", "sum_chars")
             .first())
    row_a = (t_avg.filter(F.col("zoom") == 6)
             .orderBy("tile_x", "tile_y").select("page_count", "avg_chars")
             .first())
    # same cell: average = sum / count (and differs from sum for count>1)
    assert row_a["avg_chars"] == pytest.approx(
        row_s["sum_chars"] / row_s["page_count"]
    )
    meta = _json.load(open(f"{outs['average']}/_plan.json"))
    assert meta["resampling"] == "average"
    assert meta["band_meta"]["avg_chars"]["merge"] == "avg"


def test_cli_resampling_invalid_kernel_rejected(pages_path, tmp_path):
    from rio_cogeo_spark.cli import main

    rc = main([
        "--cpus", "8", "create", pages_path, str(tmp_path / "pyr"),
        "--max-zoom", "6", "--overview-level", "1",
        "--resampling", "bilinear",  # interpolating: meaningless for points
    ])
    assert rc == 2


# --- translate: avg-merge pyramids must use GDAL's chain semantics
# (avg-of-avg per level), never the folded direct derivation

def test_avg_pyramid_uses_chain_semantics(pages):
    import pyspark.sql.functions as F

    from rio_cogeo_spark.operators.translate import (
        cog_translate, next_level, warp_bands,
    )

    bands = warp_bands("average")
    tiles, plan = cog_translate(pages, max_zoom=8, overview_level=4,
                                bands=bands)
    # explicit chain recompute of the top level from the base level
    base = tiles.filter(F.col("zoom") == 8).drop("zoom")
    level = base
    for z in (7, 6, 5, 4):
        level = next_level(level, z, 2, bands).drop("zoom")
    want = {
        (r["tile_x"], r["tile_y"]): r["avg_chars"] for r in level.collect()
    }
    got = {
        (r["tile_x"], r["tile_y"]): r["avg_chars"]
        for r in tiles.filter(F.col("zoom") == 4).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


# --- CLI: --band-tags JSON round-trip into info Band_Metadata

def test_cli_band_tags_roundtrip(pages_path, tmp_path):
    from rio_cogeo_spark.cli import main

    tags_path = str(tmp_path / "btags.json")
    with open(tags_path, "w") as f:
        _json.dump({"page_count": {"UNIT": "pages", "SOURCE": "crawl"}}, f)
    out = str(tmp_path / "pyr")
    rc = main([
        "--cpus", "8", "create", pages_path, out,
        "--max-zoom", "6", "--overview-level", "1",
        "--band-tags", tags_path,
    ])
    assert rc == 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["--cpus", "8", "info", out, "--json"]) == 0
    d = _json.loads(buf.getvalue().strip().splitlines()[-1])
    md = d["Band_Metadata"]["page_count"]["Metadata"]
    assert md["UNIT"] == "pages" and md["SOURCE"] == "crawl"


def test_cli_band_tags_unknown_band_rejected(pages_path, tmp_path):
    from rio_cogeo_spark.cli import main

    tags_path = str(tmp_path / "btags.json")
    with open(tags_path, "w") as f:
        _json.dump({"nope": {"A": "1"}}, f)
    rc = main([
        "--cpus", "8", "create", pages_path, str(tmp_path / "pyr"),
        "--max-zoom", "6", "--overview-level", "1",
        "--band-tags", tags_path,
    ])
    assert rc == 2


# --- CLI: --tms JSON file drives the grid

def test_cli_tms_file(pages_path, tmp_path):
    from rio_cogeo_spark.cli import main

    tms_path = str(tmp_path / "tms.json")
    with open(tms_path, "w") as f:
        _json.dump({
            "id": "WorldCRS84Quad", "crs": "OGC:CRS84",
            "bbox": [-180.0, -90.0, 180.0, 90.0],
            "matrix_width0": 2, "matrix_height0": 1, "geographic": True,
        }, f)
    out = str(tmp_path / "pyr")
    rc = main([
        "--cpus", "8", "create", pages_path, out,
        "--max-zoom", "6", "--overview-level", "1", "--tms", tms_path,
    ])
    assert rc == 0
    assert _json.load(open(f"{out}/_plan.json"))["tms"] == "WorldCRS84Quad"

    bad = str(tmp_path / "bad_tms.json")
    with open(bad, "w") as f:
        _json.dump({"id": "B", "crs": "c", "bbox": [1, 0, 0, 1]}, f)
    rc = main([
        "--cpus", "8", "create", pages_path, str(tmp_path / "pyr2"),
        "--max-zoom", "6", "--overview-level", "1", "--tms", bad,
    ])
    assert rc == 2
