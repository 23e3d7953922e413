"""Spatial join tests: PIP vs numpy oracle (incl. concave stars where the
cell/bbox prefilter must disagree with the exact refine), kNN k-ring vs
brute force, semi/anti consistency."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from rio_cogeo_spark import grid
from rio_cogeo_spark.operators import join as J
from rio_cogeo_spark.synth import MEGACITIES, synth_pages


@pytest.fixture(scope="module")
def pages(spark, sf_mid):
    df = synth_pages(spark, sf_mid).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def areas():
    return J.build_admin_areas(stars=True)


def _numpy_pip(pages_pdf, areas):
    out = []
    for a in areas:
        inside = J.ray_cast(
            pages_pdf["lon"].to_numpy(),
            pages_pdf["lat"].to_numpy(),
            np.asarray(a.ring_lon),
            np.asarray(a.ring_lat),
        )
        for url in pages_pdf["url"].to_numpy()[inside]:
            out.append((url, a.admin_id))
    return sorted(out)


def test_pip_matches_numpy_oracle_including_concave(pages, areas):
    got = sorted(
        (r["url"], r["admin_id"])
        for r in J.point_in_polygon(pages, areas).select("url", "admin_id").collect()
    )
    pdf = pages.select("url", "lon", "lat").toPandas()
    assert got == _numpy_pip(pdf, areas)


def test_pip_refine_matches_ray_cast_on_hostile_points(spark, areas):
    """The built-in refine equals ``ray_cast`` on points where another
    operation order or edge rule would flip the answer: every ring vertex
    ±1e-12 on each axis, points at each vertex latitude across the ring's
    bbox (the half-open edge rule), and non-finite or out-of-range
    coordinates. The rectangles' horizontal edges have ry[i] == ry[i-1],
    so under ANSI the division must stay behind the crossing test."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    eps = (-1e-12, 0.0, 1e-12)
    pts = []
    for a in areas:
        for vlon, vlat in zip(a.ring_lon[:-1], a.ring_lat[:-1]):
            pts += [(vlon + dx, vlat + dy) for dx in eps for dy in eps]
        lons = np.linspace(min(a.ring_lon), max(a.ring_lon), 3)
        pts += [(float(x), vlat) for vlat in sorted(set(a.ring_lat)) for x in lons]
    pts += [
        (x, y)
        for x in (np.nan, np.inf, -np.inf, 180.0, -180.0, 200.0)
        for y in (np.nan, np.inf, grid.MAX_LAT, -grid.MAX_LAT, 90.0)
    ]
    rows = [(f"h{i}", float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "url string, lon double, lat double")
    got = sorted(
        (r["url"], r["admin_id"])
        for r in J.point_in_polygon(df, areas).select("url", "admin_id").collect()
    )
    with np.errstate(invalid="ignore"):  # 0 * inf in ray_cast's masked-out rows
        want = _numpy_pip(pd.DataFrame(rows, columns=["url", "lon", "lat"]), areas)
    assert len(rows) > 1000 and want
    assert got == want


def _staircase(zoom):
    """A ring whose vertices are cell corners at ``zoom``: its vertical and
    slanted edges start and end on cell borders, where the JVM's cell
    assignment and the numpy cell bounds differ by an ulp."""
    _, _, clat, clon = MEGACITIES[0]
    tx, ty = (int(v[0]) for v in grid.tile_index([clon], [clat], zoom))
    w, _, _, n = grid.tile_bounds_mercator(np.arange(tx, tx + 7), np.arange(ty, ty + 7), zoom)
    lon, lat = grid.mercator_to_lonlat(w, n)
    steps = [(0, 0), (6, 0), (6, 2), (4, 3), (4, 4), (2, 4), (2, 6), (0, 6), (0, 0)]
    return J.AdminArea(
        f"G{zoom}", "staircase",
        tuple(float(lon[i]) for i, _ in steps), tuple(float(lat[j]) for _, j in steps),
    )


# over the antimeridian and past MAX_LAT: its cells are in the grid's
# first row and column, where non-finite and clamped points land
_POLE = J.AdminArea("P000", "antimeridian_pole", (-181.0, -179.0, -179.0, -181.0, -181.0),
                    (84.0, 84.0, 89.0, 89.0, 84.0))


def _near(v):
    """``v`` and its neighbours 1 ulp and 1e-12 away on either side."""
    return (v - 1e-12, np.nextafter(v, -np.inf), v, np.nextafter(v, np.inf), v + 1e-12)


@pytest.mark.parametrize("zoom, min_flips, min_edges", [(J.PREFILTER_ZOOM, 1, 1), (7, 0, 3)])
def test_pip_clipped_edges_exact_at_cell_borders(spark, areas, zoom, min_flips, min_edges):
    """Each boundary cell keeps only the ring edges that can count for a
    point in it and folds those that count for all of them into ``flip``.
    Points at every boundary cell's corners, edge midpoints and centre,
    moved by 1 ulp and by 1e-12 on each axis, sit where a clip with too
    little padding (the JVM puts some points a few ulps outside the numpy
    cell bounds), a wrong span test or a wrong ``flip`` changes the
    answer. Non-finite and out-of-range points land in ``_POLE``'s
    cells, which must stay unbounded on the grid's outer side. The
    result must still be ``ray_cast``'s. One Spark job."""
    areas = [*areas, _staircase(zoom), _POLE]
    xs, ys, flips, most = [], [], 0, 0
    for a in areas:
        for c, interior in J.covering_cells(a, zoom):
            if interior:
                continue
            _, tx, ty = (int(v) for v in grid.unpack_cell(c))
            flip, x0, *_ = J._clip_edges(a, tx, ty, zoom)
            flips, most = flips + flip, max(most, x0.size)
            w, s, e, n = grid.tile_bounds_mercator([tx], [ty], zoom)
            lon, lat = grid.mercator_to_lonlat([w[0], e[0]], [s[0], n[0]])
            for x in (lon[0], (lon[0] + lon[1]) / 2, lon[1]):
                for y in (lat[0], (lat[0] + lat[1]) / 2, lat[1]):
                    near_x, near_y = _near(x), _near(y)
                    xs += [px for px in near_x for _ in near_y]
                    ys += [py for _ in near_x for py in near_y]
    assert flips >= min_flips and most >= min_edges
    outer_x = (np.nan, np.inf, -np.inf, -200.0, -180.5, -180.0, -179.5, 180.0, 200.0)
    outer_y = (np.nan, np.inf, -np.inf, 90.0, 89.0, 86.0, 84.5, grid.MAX_LAT, -grid.MAX_LAT)
    xs += [x for x in outer_x for _ in outer_y]
    ys += [y for _ in outer_x for y in outer_y]
    cols = {"url": [f"b{i}" for i in range(len(xs))], "lon": xs, "lat": ys}
    # pa.table keeps NaN (a pandas round trip would turn it into null)
    got = sorted(
        (r["url"], r["admin_id"])
        for r in J.point_in_polygon(spark.createDataFrame(pa.table(cols)), areas, zoom)
        .select("url", "admin_id").collect()
    )
    with np.errstate(invalid="ignore"):  # 0 * inf in ray_cast's masked-out rows
        assert got == _numpy_pip(pd.DataFrame(cols), areas)


def test_star_differs_from_bbox(pages, areas):
    """The concave star must reject some points its bbox accepts —
    proving the refine actually refines."""
    star = [a for a in areas if a.admin_id.startswith("S")][0]
    pdf = pages.select("url", "lon", "lat").toPandas()
    lon0, lon1 = min(star.ring_lon), max(star.ring_lon)
    lat0, lat1 = min(star.ring_lat), max(star.ring_lat)
    in_bbox = (
        (pdf["lon"] >= lon0) & (pdf["lon"] < lon1)
        & (pdf["lat"] >= lat0) & (pdf["lat"] < lat1)
    ).sum()
    inside = J.ray_cast(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
        np.asarray(star.ring_lon), np.asarray(star.ring_lat),
    ).sum()
    assert inside < in_bbox


def test_interior_cells_exist_for_rects(areas):
    """At z9 the 1.2deg rectangles must produce some interior cells (the
    refine-skip path is actually exercised)."""
    rect = areas[0]
    cells = J.covering_cells(rect, zoom=9)
    assert any(interior for _, interior in cells)
    assert any(not interior for _, interior in cells)


def test_semi_anti_partition(pages, areas):
    n = pages.count()
    semi = J.point_in_polygon(pages, areas, how="semi").count()
    anti = J.point_in_polygon(pages, areas, how="anti").count()
    assert semi + anti == n
    assert semi > 0 and anti > 0


def test_knn_kring_equals_bruteforce(spark, pages):
    rows = [
        (f"Q{cid:02d}", float(lat), float(lon)) for cid, _, lat, lon in MEGACITIES[:10]
    ]
    q = spark.createDataFrame(rows, "query_id string, q_lat double, q_lon double")
    brute = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in J.knn_bruteforce(pages, q, k=5).collect()
    }
    ring = {
        (r["query_id"], r["rank"]): r["doc_id"]
        for r in J.knn_kring(pages, q, k=5, ring=2).collect()
    }
    assert ring == brute
    assert len(brute) == 50


@pytest.mark.parametrize("zoom, ring", [(0, 1), (1, 2)])
def test_knn_kring_wrapping_ring_equals_bruteforce(spark, sf_small, zoom, ring):
    """A ring wider than the matrix (2*ring+1 > 2^zoom) covers the whole
    world once: every neighbour appears once, exactly as brute force."""
    small = synth_pages(spark, sf_small)
    rows = [
        (f"Q{cid:02d}", float(lat), float(lon)) for cid, _, lat, lon in MEGACITIES[:10]
    ]
    q = spark.createDataFrame(rows, "query_id string, q_lat double, q_lon double")
    brute = sorted(tuple(r) for r in J.knn_bruteforce(small, q, k=5).collect())
    got = sorted(
        tuple(r) for r in J.knn_kring(small, q, k=5, zoom=zoom, ring=ring).collect()
    )
    assert got == brute
    assert len(brute) == 50


def test_zonal_counts_consistent(pages, areas):
    rects = [a for a in areas if a.admin_id.startswith("A")]
    z = {r["admin_id"]: r["page_count"] for r in J.zonal_stats(pages, rects).collect()}
    pip_counts = (
        J.point_in_polygon(pages, rects)
        .groupBy("admin_id")
        .count()
        .collect()
    )
    assert z == {r["admin_id"]: r["count"] for r in pip_counts}


def test_knn_exact_handles_empty_regions(spark, pages):
    """Queries in empty ocean regions force ring expansion; result must
    still equal brute force."""
    rows = [
        ("QOCEAN1", -45.0, -35.0),   # south atlantic, far from any hotspot
        ("QOCEAN2", -55.0, 150.0),   # southern ocean
        ("QCITY", 35.6895, 139.6917),
    ]
    q = spark.createDataFrame(rows, "query_id string, q_lat double, q_lon double")
    brute = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["dist2"])
        for r in J.knn_bruteforce(pages, q, k=5).collect()
    }
    exact = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["dist2"])
        for r in J.knn_kring_exact(pages, q, k=5).collect()
    }
    assert exact == brute and len(brute) == 15


def test_range_join_matches_naive(spark, sf_mid):
    from rio_cogeo_spark.operators.rangejoin import range_join

    ev = spark.read.parquet(f"{sf_mid}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    got = {
        (r["click_id"], r["purchase_id"])
        for r in range_join(clicks, purchases, "user_id", "ts", 3600,
                            ["click_id"], ["purchase_id"]).collect()
    }
    c = clicks.select("click_id", "user_id", F.unix_timestamp("ts").alias("ct"))
    p = purchases.select("purchase_id", F.col("user_id").alias("u2"),
                         F.unix_timestamp("ts").alias("pt"))
    naive = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(p, (F.col("user_id") == F.col("u2"))
                        & (F.abs(F.col("ct") - F.col("pt")) <= 3600)).collect()
    }
    assert got == naive and len(naive) > 0


def test_knn_exact_empty_query_table(spark, pages):
    """0 queries → empty result with the output schema (no IndexError)."""
    q = spark.createDataFrame([], "query_id string, q_lat double, q_lon double")
    out = J.knn_kring_exact(pages, q, k=5)
    assert out.columns == ["query_id", "doc_id", "url", "rank", "dist2"]
    assert out.count() == 0


def test_knn_exact_large_query_table(spark, pages):
    """Routing is distributed (pandas UDF over the phase-1 aggregate, no
    driver collect of the query table): a 10^4-row query table runs and
    matches brute force on a deterministic sample of queries."""
    n_q = 10_000
    q = (
        spark.range(n_q)
        .select(
            F.concat(F.lit("LQ"), F.col("id")).alias("query_id"),
            # deterministic spread: lat in [-60, 60), lon in [-180, 180)
            ((F.col("id") % 120) - 60 + 0.37).cast("double").alias("q_lat"),
            ((F.col("id") * 7 % 360) - 180 + 0.73).cast("double").alias("q_lon"),
        )
    )
    out = J.knn_kring_exact(pages, q, k=3)
    got = out.groupBy("query_id").count().filter(F.col("count") != 3).count()
    assert got == 0
    assert out.count() == 3 * n_q
    # value check on a 25-query sample vs brute force
    sample = q.filter(F.col("id") % 400 == 0).drop("id")
    brute = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["dist2"])
        for r in J.knn_bruteforce(pages, sample, k=3).collect()
    }
    sample_ids = {r["query_id"] for r in sample.collect()}
    exact = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["dist2"])
        for r in out.collect()
        if r["query_id"] in sample_ids
    }
    assert exact == brute


def test_ann_ivf_large_query_table(spark, sf_mid):
    """IVF probe routing is computed in a UDF (queries never collected):
    every embedding used as a query, n_probe=all ⇒ must equal brute."""
    from rio_cogeo_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_mid}/embeddings.parquet")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    n_lists = emb.select("label").distinct().count()
    got = SIM.ann_ivf_topk(emb, queries, k=3, n_probe=n_lists)
    brute = SIM.ann_bruteforce_topk(emb, queries, k=3)
    g = {(r["query_id"], r["rank"]): (r["vec_id"], r["cos"]) for r in got.collect()}
    b = {(r["query_id"], r["rank"]): (r["vec_id"], r["cos"]) for r in brute.collect()}
    assert g == b and len(g) == 3 * emb.count()
