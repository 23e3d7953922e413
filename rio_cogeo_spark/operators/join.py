"""Spatial joins (SURVEY.md §2.3): point-in-polygon against broadcast admin
boundaries (cell prefilter + exact ray-casting refine), kNN, zonal stats.

The two-phase PIP mirrors the reference's coarse-window-then-exact-mask
pattern (/root/reference/rio_cogeo/cogeo.py:362-379: block window first,
per-pixel dataset_mask second):

  phase 1  pages.cell ⋈ broadcast(explode(admin.covering_cells))   (equi)
  phase 2  exact ray-cast refine, one built-in ``aggregate`` over the
           clipped edges each boundary-cell row carries          (theta)

Each boundary cell carries only the ring edges that can change the
answer for a point in it, plus the parity of the edges that every point
of it crosses (S2 ShapeIndex's clipped shapes), so the refine tests one
or two edges per candidate instead of the whole ring.

Scale design: the admin table is small (countries/regions ≤ 10^5 rings) →
broadcast; the pages side never shuffles for phase 1 (broadcast hash join
preserves scan partitioning). The cells table is a JVM local relation
built from Arrow, and phase 2 is a JVM expression on the joined row, so
the join starts no Python worker; candidates in interior cells skip
phase 2. Hot cells (megacities) inflate candidate counts, not join keys,
so no salting is needed on the broadcast path; AQE skew-split covers the
groupBy in zonal stats.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rio_cogeo_spark import grid
from rio_cogeo_spark.functions.tile import cell_id, k_ring_cells
from rio_cogeo_spark.synth import MEGACITIES

# PIP: fine enough that most hot-cell candidates are interior (85.7% on
# the 2M-page benchmark input: 1,713,949 of 2,000,531)
PREFILTER_ZOOM = 11
KNN_ZOOM = 7          # kNN: ring-2 coverage radius must exceed the kth distance


@dataclass(frozen=True)
class AdminArea:
    """One admin boundary: closed ring (lon, lat) arrays + covering cells."""

    admin_id: str
    name: str
    ring_lon: Tuple[float, ...]
    ring_lat: Tuple[float, ...]


def _rect_ring(clon: float, clat: float, half: float) -> Tuple[Tuple[float, ...], Tuple[float, ...]]:
    lons = (clon - half, clon + half, clon + half, clon - half, clon - half)
    lats = (clat - half, clat - half, clat + half, clat + half, clat - half)
    return lons, lats


def _star_ring(clon: float, clat: float, r_out: float, r_in: float, points: int = 5):
    """Concave star polygon (FIXTURES.md §2: forces the exact refine to
    disagree with the cell/bbox prefilter at edges)."""
    angles = np.linspace(0.0, 2.0 * np.pi, 2 * points, endpoint=False)
    radii = np.where(np.arange(2 * points) % 2 == 0, r_out, r_in)
    lons = clon + radii * np.cos(angles)
    lats = clat + radii * np.sin(angles)
    return tuple(np.append(lons, lons[0])), tuple(np.append(lats, lats[0]))


def build_admin_areas(stars: bool = False) -> List[AdminArea]:
    """Deterministic admin boundaries around the 20 megacity hotspots:
    axis-aligned rectangles (SQL-oracle-friendly) and, optionally, concave
    stars (exercising the ray-cast refine beyond bbox semantics)."""
    areas = []
    for cid, name, clat, clon in MEGACITIES:
        lons, lats = _rect_ring(clon, clat, 0.6)
        areas.append(AdminArea(f"A{cid:03d}", name, lons, lats))
    if stars:
        for cid, name, clat, clon in MEGACITIES[:5]:
            lons, lats = _star_ring(clon, clat, 1.0, 0.35)
            areas.append(AdminArea(f"S{cid:03d}", f"star_{name}", lons, lats))
    return areas


def _cell_is_interior(area: AdminArea, tx: int, ty: int, zoom: int) -> bool:
    """Conservatively decide whether tile (tx, ty) lies ENTIRELY inside the
    ring: all 4 corners inside by ray-cast AND no ring edge can cross the
    cell bbox (Cohen-Sutherland trivial-reject per edge; any edge not
    trivially outside demotes the cell to 'boundary'). False negatives
    only route points through the exact refine — never wrong results.
    The grid's outer rows and columns are never interior: ``cell_id``
    also puts clamped latitudes, clipped longitudes and non-finite
    coordinates there, which lie outside the tile."""
    last = (1 << zoom) - 1
    if tx in (0, last) or ty in (0, last):
        return False
    w, s, e, n = grid.tile_bounds_mercator([tx], [ty], zoom)
    corners_lon, corners_lat = grid.mercator_to_lonlat(
        np.array([w[0], e[0], e[0], w[0]]), np.array([s[0], s[0], n[0], n[0]])
    )
    rlon, rlat = np.asarray(area.ring_lon), np.asarray(area.ring_lat)
    if not ray_cast(corners_lon, corners_lat, rlon, rlat).all():
        return False
    bx0, bx1 = corners_lon.min(), corners_lon.max()
    by0, by1 = corners_lat.min(), corners_lat.max()
    x0, y0 = rlon[:-1], rlat[:-1]
    x1, y1 = rlon[1:], rlat[1:]
    trivially_out = (
        ((x0 < bx0) & (x1 < bx0))
        | ((x0 > bx1) & (x1 > bx1))
        | ((y0 < by0) & (y1 < by0))
        | ((y0 > by1) & (y1 > by1))
    )
    return bool(trivially_out.all())


def covering_cells(area: AdminArea, zoom: int = PREFILTER_ZOOM) -> List[Tuple[int, bool]]:
    """(cell, interior) pairs for cells intersecting the ring's bbox at
    ``zoom`` — the coarse prefilter key (the reference's block-window
    analog). ``interior`` cells skip the exact refine entirely."""
    lon0, lon1 = min(area.ring_lon), max(area.ring_lon)
    lat0, lat1 = min(area.ring_lat), max(area.ring_lat)
    tx0, ty0 = grid.tile_index([lon0], [lat1], zoom)
    tx1, ty1 = grid.tile_index([lon1], [lat0], zoom)
    cells = []
    for ty in range(int(ty0[0]), int(ty1[0]) + 1):
        for tx in range(int(tx0[0]), int(tx1[0]) + 1):
            cells.append(
                (int(grid.pack_cell(zoom, tx, ty)), _cell_is_interior(area, tx, ty, zoom))
            )
    return cells


# Outward pad of a cell's lon/lat bounds: far above the rounding gap
# between the JVM's cell assignment and the numpy bounds (``cell_id``
# puts points a few ulps past a border, up to ~6e-14 deg, in the cell),
# far below a cell's width at any zoom the PIP join uses.
_CELL_PAD = 1e-7


def _cell_bounds(tx: int, ty: int, zoom: int) -> Tuple[float, float, float, float]:
    """Padded (west, south, east, north) lon/lat holding every point that
    ``cell_id`` puts in the cell. The grid's outer rows and columns also
    take clamped latitudes, clipped longitudes and NaN/±inf coordinates,
    so their outer side is unbounded."""
    w, s, e, n = grid.tile_bounds_mercator([tx], [ty], zoom)
    lon, lat = grid.mercator_to_lonlat([w[0], e[0]], [s[0], n[0]])
    last = (1 << zoom) - 1
    return (
        -np.inf if tx == 0 else float(lon[0]) - _CELL_PAD,
        -np.inf if ty == last else float(lat[0]) - _CELL_PAD,
        np.inf if tx == last else float(lon[1]) + _CELL_PAD,
        np.inf if ty == 0 else float(lat[1]) + _CELL_PAD,
    )


def _clip_edges(area: AdminArea, tx: int, ty: int, zoom: int):
    """The ring clipped to one cell, after the clipped shapes of S2's
    ShapeIndex: ``(flip, x0, y0, x1, y1)``. An edge adds 1 to
    ``ray_cast``'s count for a point when ``ymin <= lat < ymax`` and
    ``lon`` lies west of the crossing. An edge that can do so for no point
    of the cell is dropped; one that does so for every point is folded
    into the parity ``flip``. The rest are kept, in ring order and
    orientation, so the refine evaluates them as ``ray_cast`` does."""
    w, s, e, n = _cell_bounds(tx, ty, zoom)
    rlon = np.asarray(area.ring_lon, dtype=np.float64)
    rlat = np.asarray(area.ring_lat, dtype=np.float64)
    x0, y0, x1, y1 = rlon[:-1], rlat[:-1], rlon[1:], rlat[1:]
    ymin, ymax = np.minimum(y0, y1), np.maximum(y0, y1)
    can = (ymin != ymax) & (ymax > s) & (ymin <= n) & (np.maximum(x0, x1) > w)
    # only bounded cells flip: NaN longitudes land in column 0 and cross nothing
    every = can & (ymin < s) & (ymax > n) & (np.minimum(x0, x1) > e) & np.isfinite(w)
    keep = can & ~every
    return bool(every.sum() % 2), x0[keep], y0[keep], x1[keep], y1[keep]


_CELLS_SCHEMA = pa.schema(
    [("admin_id", pa.string()), ("name", pa.string()), ("cell", pa.int64()),
     ("interior", pa.bool_()), ("flip", pa.bool_())]
    + [(c, pa.list_(pa.float64())) for c in ("ex0", "ey0", "ex1", "ey1")]
)


def admin_cells_df(spark: SparkSession, areas: List[AdminArea],
                   zoom: int = PREFILTER_ZOOM) -> DataFrame:
    """Broadcast side: one row per (admin_id, covering cell) that some
    point can match. An interior row matches every point of its cell. A
    boundary row carries its clipped edges as ``ex0/ey0/ex1/ey1`` (never
    empty) and the parity ``flip`` of the edges every point crosses (see
    ``_clip_edges``). The table is handed over as Arrow, so Spark plans it
    as a JVM local relation and no Python worker ever scans it."""
    rows = []
    for a in areas:
        for c, interior in covering_cells(a, zoom):
            row = (a.admin_id, a.name, c, True, False, None, None, None, None)
            if not interior:
                _, tx, ty = grid.unpack_cell(c)
                flip, *edges = _clip_edges(a, int(tx), int(ty), zoom)
                if edges[0].size:
                    row = (*row[:3], False, flip, *(e.tolist() for e in edges))
                elif not flip:
                    continue  # no point of this cell is inside
            rows.append(row)
    return spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(_CELLS_SCHEMA.names, r)) for r in rows], schema=_CELLS_SCHEMA
    ))


def ray_cast(lon: np.ndarray, lat: np.ndarray,
             ring_lon: np.ndarray, ring_lat: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: points (N,) vs one ring (M,).
    Half-open edge semantics (left-closed on crossing) — deterministic."""
    inside = np.zeros(lon.shape[0], dtype=bool)
    x, y = lon, lat
    x0, y0 = ring_lon[:-1], ring_lat[:-1]
    x1, y1 = ring_lon[1:], ring_lat[1:]
    for i in range(x0.shape[0]):
        cond = (y0[i] > y) != (y1[i] > y)
        if not np.any(cond):
            continue
        xin = (x1[i] - x0[i]) * (y - y0[i]) / (y1[i] - y0[i]) + x0[i]
        inside ^= cond & (x < xin)
    return inside


# ``ray_cast``'s even-odd crossing count over the candidate cell's
# clipped edges, XORed with the cell's ``flip``, as one built-in
# expression. Each edge is evaluated in ray_cast's operation order, so the
# JVM's IEEE doubles give the numpy result bit for bit. The division is
# reached only when the edge straddles ``lat``, where ey1[i] != ey0[i]
# (ANSI-safe). Every array read and the division stay inside the lambda:
# once the filter becomes the broadcast join's condition, subexpression
# elimination hoists common subexpressions out of ``AND`` guards, so a
# read or division outside the lambda can run on rows its guard excludes
# (an ``ex0[0]`` there raised INVALID_ARRAY_INDEX). Boundary rows never
# have an empty edge list, since ``sequence(0, -1)`` is ``[0, -1]``.
# A string, not a Column: F.expr needs an active session.
_REFINE_SQL = (
    "interior OR (flip != aggregate(sequence(0, size(ex0) - 1), false, (acc, i) -> "
    "acc != (((ey0[i] > lat) != (ey1[i] > lat)) AND "
    "lon < (ex1[i] - ex0[i]) * (lat - ey0[i]) / (ey1[i] - ey0[i]) + ex0[i])))"
)


# Memoized PIP dim side: the admin-boundary broadcast table is STATIC
# across queries of a job (the reference opens its dataset/config once
# per translate, cogeo.py:86). Building it runs the covering-cell and
# edge-clipping loops, driver-serial Python that takes ~1 s per call;
# the cached DataFrame is a JVM local relation, so reusing it costs
# nothing on the executors. Keyed on the full ring content (not object
# identity), so mutated/replaced area lists never hit stale entries;
# keyed on the JVM context so a restarted session rebuilds.
_PIP_DIM_CACHE: dict = {}


def _pip_dim_side(spark: SparkSession, areas: List[AdminArea], zoom: int) -> DataFrame:
    key = (
        id(spark.sparkContext._jsc),
        zoom,
        tuple(
            (a.admin_id, a.name,
             np.asarray(a.ring_lon, dtype=np.float64).tobytes(),
             np.asarray(a.ring_lat, dtype=np.float64).tobytes())
            for a in areas
        ),
    )
    hit = _PIP_DIM_CACHE.get(key)
    if hit is not None:
        return hit
    cells = admin_cells_df(spark, areas, zoom)
    _PIP_DIM_CACHE.clear()  # one live dim side per process is plenty
    _PIP_DIM_CACHE[key] = cells
    return cells


def point_in_polygon(
    pages: DataFrame,
    areas: List[AdminArea],
    zoom: int = PREFILTER_ZOOM,
    how: str = "inner",
) -> DataFrame:
    """Two-phase PIP join. ``how``: inner (pairs), semi (pages in any
    polygon), anti (pages outside all polygons — 'left_anti').

    Returns pages columns + ``admin_id``/``name`` for inner.
    """
    cells = _pip_dim_side(pages.sparkSession, areas, zoom)
    with_cell = pages.withColumn("cell", cell_id(F.col("lon"), F.col("lat"), zoom))
    # one pass over the joined rows: a split+union of interior and
    # boundary candidates would run the pages scan + broadcast join twice
    matched = (
        with_cell.join(F.broadcast(cells), "cell", "inner")
        .filter(F.expr(_REFINE_SQL))
        .drop("cell", "interior", "flip", "ex0", "ey0", "ex1", "ey1")
    )

    if how == "inner":
        return matched
    if how == "semi":
        return matched.select(*pages.columns).dropDuplicates(["url"])
    if how == "anti":
        hits = matched.select("url").distinct()
        return pages.join(hits, "url", "left_anti")
    raise ValueError(f"unknown how: {how}")


def knn_bruteforce(
    pages: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact kNN for a *small* broadcast query set: cross-join on the
    broadcast side + per-query window top-k. Linear in pages, no shuffle
    of the big side until the final (tiny) top-k aggregation.

    queries_df: (query_id string, q_lat double, q_lon double).
    Distance: squared lon/lat euclidean (pure arithmetic → oracle-exact);
    ties broken by doc_id.
    """
    joined = pages.crossJoin(F.broadcast(queries_df))
    dist2 = (F.col("lat") - F.col("q_lat")) * (F.col("lat") - F.col("q_lat")) + (
        F.col("lon") - F.col("q_lon")
    ) * (F.col("lon") - F.col("q_lon"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("doc_id").asc())
    return (
        joined.withColumn("dist2", dist2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "url", "rank", F.round("dist2", 9).alias("dist2"))
    )


def _knn_topk(joined: DataFrame, k: int) -> DataFrame:
    dist2 = (F.col("lat") - F.col("q_lat")) * (F.col("lat") - F.col("q_lat")) + (
        F.col("lon") - F.col("q_lon")
    ) * (F.col("lon") - F.col("q_lon"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("doc_id").asc())
    return (
        joined.withColumn("dist2", dist2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "url", "rank", F.round("dist2", 9).alias("dist2"))
    )


def knn_kring(
    pages: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    zoom: int = KNN_ZOOM,
    ring: int = 1,
) -> DataFrame:
    """Scale-path kNN: expand each query's cell into its k-ring (a
    built-in array expression + explode — no driver-side loop and no
    Python boundary, so the query set can itself be a large table) and
    equi-join pages on the cell key (north_star: 'kNN answered by H3
    k-ring expansion') — candidates shrink from |pages| to the ring
    occupancy, then exact top-k. Falls
    back to widening callers if a ring under-fills (checked by tests
    against knn_bruteforce); :func:`knn_kring_exact` automates that.

    The exploded query cells are broadcast — right up to ~10^6 probe
    rows, and the pages side then never shuffles before the top-k.
    """
    qcells = (
        queries_df.withColumn("cell", cell_id(F.col("q_lon"), F.col("q_lat"), zoom))
        .withColumn("cell", F.explode(k_ring_cells(F.col("cell"), ring)))
        .select("query_id", "q_lat", "q_lon", "cell")
    )
    with_cell = pages.withColumn("cell", cell_id(F.col("lon"), F.col("lat"), zoom))
    joined = with_cell.join(F.broadcast(qcells), "cell", "inner")
    return _knn_topk(joined, k)


def _ring_coverage_dist2(q_lon, q_lat, tx, ty, zoom: int, ring) -> np.ndarray:
    """Vectorized lower bound (squared lon/lat-euclid) on the distance
    from each query to any point OUTSIDE its k-ring's covered region:
    any candidate missed by the ring is at least this far away."""
    q_lon = np.asarray(q_lon, dtype=np.float64)
    q_lat = np.asarray(q_lat, dtype=np.float64)
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    ring = np.asarray(ring, dtype=np.int64)
    n = 1 << zoom
    span = 2.0 * grid.ORIGIN_SHIFT / n
    x0, y0 = tx - ring, ty - ring
    x1, y1 = tx + ring, ty + ring
    lon_w = (-grid.ORIGIN_SHIFT + x0 * span) / grid.ORIGIN_SHIFT * 180.0
    lon_e = (-grid.ORIGIN_SHIFT + (x1 + 1) * span) / grid.ORIGIN_SHIFT * 180.0
    _, lat_n = grid.mercator_to_lonlat(
        np.zeros_like(q_lon), grid.ORIGIN_SHIFT - y0 * span
    )
    _, lat_s = grid.mercator_to_lonlat(
        np.zeros_like(q_lon), grid.ORIGIN_SHIFT - (y1 + 1) * span
    )
    inf = np.float64(np.inf)
    # antimeridian wrap / pole clamps: nothing exists outside those edges
    d_lon = np.where(
        (x1 - x0 + 1) < n, np.minimum(q_lon - lon_w, lon_e - q_lon), inf
    )
    d_lat_s = np.where(y1 < n - 1, q_lat - lat_s, inf)
    d_lat_n = np.where(y0 > 0, lat_n - q_lat, inf)
    d = np.minimum(np.minimum(d_lon, d_lat_s), d_lat_n)
    return np.maximum(d, 0.0) ** 2


def knn_kring_exact(pages: DataFrame, queries_df: DataFrame, k: int = 5) -> DataFrame:
    """Provably exact k-ring kNN in TWO distributed phases (no per-round
    result collects — the only driver-side data is one aggregate row per
    query, O(|queries|)):

    phase 1  ring-1 probe at ``KNN_ZOOM`` → per-query (n, kth distance).
    routing  per query: kth-dist <= coverage_bound(1) → done; else
             compute the smallest ring (at most 64) whose coverage bound
             covers the kth distance (vectorized binary search on the
             bound).
    phase 2  per-row-ring explode (k_ring_cells) → one more join →
             top-k. Exact by construction: the phase-2 ring contains the
             phase-1 ring, so its kth distance can only shrink and stays
             within the chosen bound.
    fallback queries with fewer than k phase-1 candidates (empty
             neighborhoods) take the exact broadcast scan.

    The routing step is a vectorized pandas UDF over the per-query
    aggregate DataFrame (never a driver collect), so the query set can
    itself be a large table: the only eager materializations are two
    ``localCheckpoint``s of O(k·|queries|) and O(|queries|) rows, both
    distributed. The exploded ring cells, the done-id set and the
    brute-force fallback's residual are broadcast; the adaptive ring
    routing keeps that residual to the genuinely empty-neighborhood
    queries — a tiny set for any real point distribution.
    """
    with_cell = pages.withColumn("cell", cell_id(F.col("lon"), F.col("lat"), KNN_ZOOM))

    # phase 1 output is O(k·|queries|): checkpoint it so the stats agg,
    # the routing pass and the done-branch join all reuse one computation
    # of the big join (lineage truncated; blocks freed when the result
    # DataFrame is GC'd).
    phase1 = knn_kring(with_cell.drop("cell"), queries_df, k=k, zoom=KNN_ZOOM,
                       ring=1).localCheckpoint(eager=True)
    stats = phase1.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("dist2").alias("dkth")
    )

    k_ = int(k)

    @F.pandas_udf("int")
    def _route(q_lat_s: pd.Series, q_lon_s: pd.Series, n_s: pd.Series,
               dkth_s: pd.Series) -> pd.Series:
        # Per-query routing decision, whole Arrow batch at once:
        #   -2 → exact broadcast scan (under-filled ring, or ring 64
        #        cannot certify);  -1 → phase-1 answer already certified;
        #   r>0 → re-probe with ring r (smallest ring whose coverage
        #        bound covers the phase-1 kth distance — vectorized
        #        binary search, log2(64) bound evaluations total).
        lat = q_lat_s.to_numpy(dtype=np.float64)
        lon = q_lon_s.to_numpy(dtype=np.float64)
        n_got = n_s.fillna(0).to_numpy(dtype=np.int64)
        dkth = dkth_s.fillna(np.inf).to_numpy(dtype=np.float64)
        tx, ty = grid.tile_index(lon, lat, KNN_ZOOM)
        out = np.full(lon.shape[0], -2, dtype=np.int64)
        filled = n_got >= k_
        if filled.any():
            bound0 = _ring_coverage_dist2(
                lon, lat, tx, ty, KNN_ZOOM, np.full(lon.shape[0], 1)
            )
            done = filled & (dkth <= bound0)
            out[done] = -1
            todo = filled & ~done
            if todo.any():
                lo = np.full(lon.shape[0], 1, dtype=np.int64)
                hi = np.full(lon.shape[0], 64, dtype=np.int64)
                while True:
                    active = todo & (lo < hi)
                    if not active.any():
                        break
                    mid = (lo + hi) // 2
                    ge = _ring_coverage_dist2(lon, lat, tx, ty, KNN_ZOOM, mid) >= dkth
                    hi = np.where(active & ge, mid, hi)
                    lo = np.where(active & ~ge, mid + 1, lo)
                b_final = _ring_coverage_dist2(lon, lat, tx, ty, KNN_ZOOM, lo)
                out[todo] = np.where(b_final[todo] >= dkth[todo], lo[todo], -2)
        return pd.Series(out.astype(np.int32))

    routed = (
        queries_df.join(stats, "query_id", "left")
        .withColumn("ring", _route(F.col("q_lat"), F.col("q_lon"),
                                   F.col("n"), F.col("dkth")))
        .select("query_id", "q_lat", "q_lon", "ring")
        .localCheckpoint(eager=True)  # O(|queries|) rows, 3 consumers
    )

    done_ids = routed.filter(F.col("ring") == -1).select("query_id")
    out_done = phase1.join(F.broadcast(done_ids), "query_id", "inner")

    exp = routed.filter(F.col("ring") > 0)
    qcells = (
        exp.withColumn("cell", cell_id(F.col("q_lon"), F.col("q_lat"), KNN_ZOOM))
        .withColumn("cell", F.explode(k_ring_cells(F.col("cell"), F.col("ring"))))
        .select("query_id", "q_lat", "q_lon", "cell")
    )
    out_expand = _knn_topk(with_cell.join(F.broadcast(qcells), "cell", "inner"), k)

    brute_q = routed.filter(F.col("ring") == -2).select("query_id", "q_lat", "q_lon")
    out_brute = knn_bruteforce(pages, brute_q, k=k)

    # empty branches union to nothing — a 0-query input yields an empty
    # DataFrame with the output schema (no special-casing)
    return out_done.unionByName(out_expand).unionByName(out_brute)


def zonal_stats(pages: DataFrame, areas: List[AdminArea]) -> DataFrame:
    """Raster↔vector zonal stats (SURVEY.md §2.3 J4): PIP join then
    per-polygon aggregate — the generalization of the reference's
    per-window read loop (cogeo.py:371-379)."""
    hits = point_in_polygon(pages, areas, PREFILTER_ZOOM, how="inner")
    return (
        hits.groupBy("admin_id")
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("lang").alias("lang_count"),
        )
    )
