"""The Column tile builder (functions/tile.py) against the numpy grid
math it twins: ``tile_assign`` equals ``TileMatrixSet.tile_index`` on
WebMercatorQuad, WorldCRS84Quad and a variable-width grid;
``k_ring_cells`` equals ``grid.k_ring``; and the tile-keyed registry
plans cross no Python boundary."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rio_cogeo_spark import grid
from rio_cogeo_spark.functions.tile import k_ring_cells, tile_assign
from rio_cogeo_spark.operators.translate import assign_tiles
from rio_cogeo_spark.synth import synth_pages
from test_round5 import GNOSISH

GNOSIS_TMS = grid.tms_from_dict(GNOSISH)


@pytest.fixture(scope="module")
def points(spark, sf_mid):
    """20,000 uniform points over the globe, the sf0.01 pages, and the
    edge points lon ±180/±200 x lat ±MAX_LAT/±90/±95 (finite only)."""
    rng = np.random.default_rng(20)
    pages = synth_pages(spark, sf_mid).select("lon", "lat").dropna().toPandas()
    edge_lon, edge_lat = np.meshgrid(
        [-200.0, -180.0, 180.0, 200.0],
        [-95.0, -90.0, -grid.MAX_LAT, grid.MAX_LAT, 90.0, 95.0],
    )
    lon = np.concatenate([rng.uniform(-180, 180, 20_000), pages["lon"], edge_lon.ravel()])
    lat = np.concatenate([rng.uniform(-90, 90, 20_000), pages["lat"], edge_lat.ravel()])
    return pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat})


@pytest.mark.parametrize(
    "tms, zooms",
    [
        (grid.WEB_MERCATOR_QUAD, range(21)),
        (grid.WORLD_CRS84_QUAD, range(21)),
        (GNOSIS_TMS, range(3)),
    ],
    ids=["WebMercatorQuad", "WorldCRS84Quad", "GNOSISish"],
)
def test_tile_assign_equals_numpy_tile_index(spark, points, tms, zooms):
    cols = []
    for z in zooms:
        t = tile_assign(F.col("lon"), F.col("lat"), z, tms=tms)
        cols += [t["tile_x"].alias(f"x{z}"), t["tile_y"].alias(f"y{z}")]
    got = (
        spark.createDataFrame(points).select("i", *cols)
        .toPandas().sort_values("i").reset_index(drop=True)
    )
    for z in zooms:
        tx, ty = tms.tile_index(points["lon"].to_numpy(), points["lat"].to_numpy(), z)
        bad = int(((got[f"x{z}"] != tx) | (got[f"y{z}"] != ty)).sum())
        assert bad == 0, f"{tms.id} zoom {z}: {bad} of {len(points)} differ"


def test_k_ring_cells_equals_grid_k_ring(spark):
    rng = np.random.default_rng(3)
    cases = []
    for i in range(150):
        z = int(rng.integers(0, 9))
        n = 1 << z
        x, y = int(rng.integers(0, n)), int(rng.integers(0, n))
        cases.append((i, int(grid.pack_cell(z, x, y)), int(rng.integers(0, 6)), z, x, y))
    df = spark.createDataFrame(cases, "i int, cell long, k int, z int, x int, y int")
    rows = df.select(
        "i", "k", "z", "x", "y",
        k_ring_cells(F.col("cell"), F.col("k")).alias("ring"),
        k_ring_cells(F.col("cell"), 2).alias("ring2"),
    ).collect()
    assert len(rows) == 150
    for r in rows:
        for k, got in ((r["k"], r["ring"]), (2, r["ring2"])):
            want = [
                int(grid.pack_cell(r["z"], x, y))
                for x, y in grid.k_ring(r["x"], r["y"], r["z"], k)
            ]
            assert list(got) == want
            assert len(set(got)) == len(got)


def test_tile_keyed_plans_cross_no_python_boundary(spark, sf_small):
    import __spark_entry__ as E

    q = E.queries()
    plans = {
        name: q[name](spark, sf_small) for name in ("knn_kring", "knn_exact", "pyramid_crs84")
    }
    plans["assign_tiles_gnosis"] = assign_tiles(synth_pages(spark, sf_small), 1, tms=GNOSIS_TMS)
    for name, df in plans.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
