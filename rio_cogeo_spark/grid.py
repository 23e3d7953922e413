"""Pure-numpy WebMercator / tile-pyramid math — the semantic core.

Re-creates (from public knowledge of the WebMercatorQuad tile matrix set
and the reference's published semantics) the grid arithmetic that
rio-cogeo delegates to morecantile / rasterio:

* ``zoom_for_res``            — /root/reference/rio_cogeo/utils.py:74-78
* ``max_overview_level``      — rasterio ``get_maximum_overview_level`` as
                                used at /root/reference/rio_cogeo/cogeo.py:382-384
* ``overview_decimations``    — /root/reference/rio_cogeo/cogeo.py:389 with the
                                validation rules of cogeo.py:196-203
* ``web_optimized_grid``      — /root/reference/rio_cogeo/utils.py:88-147
* tile addressing (z, x, y)   — /root/reference/rio_cogeo/utils.py:125-137

Zero Spark imports: everything here is unit-testable numpy. The Spark
Column twins of tile_index and k_ring live in
rio_cogeo_spark/functions/tile.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional

import numpy as np

# WGS84 / WebMercatorQuad constants (public EPSG:3857 definition).
EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = math.pi * EARTH_RADIUS  # 20037508.342789244
# WebMercatorQuad matrices are 256px; rio-cogeo's *internal block* default
# is 512 (profiles.py:14-15) — kept distinct, as in the reference.
TMS_TILE_PX = 256
DEFAULT_BLOCKSIZE = 512
# Valid mercator latitude bound: atan(sinh(pi)) in degrees.
MAX_LAT = 85.0511287798066
MAX_ZOOM = 30

# The reference's RIOResampling kernel set (cogeo.py:49-58), warp extras
# (cogeo.py:60-72), and min/max window reducers. Implemented in
# operators/raster.py (_decimate); named here (zero-Spark module) so both
# translate.py and raster.py can validate without a circular import.
RIO_KERNELS = (
    "nearest", "bilinear", "cubic", "cubic_spline", "lanczos",
    "average", "mode", "gauss", "rms",
)
WARP_KERNELS = RIO_KERNELS[:7] + ("sum", "rms")
ALL_KERNELS = tuple(dict.fromkeys(RIO_KERNELS + WARP_KERNELS + ("min", "max")))


def cell_size(zoom: int) -> float:
    """Ground resolution (m/px) of a WebMercatorQuad matrix at ``zoom``.

    Mirrors ``tms.matrix(zoom).cellSize`` (utils.py:131).
    """
    return (2.0 * ORIGIN_SHIFT) / (TMS_TILE_PX * (2.0**zoom))


def lonlat_to_mercator(lon, lat):
    """Vectorized EPSG:4326 → EPSG:3857. Inputs clipped to the valid domain."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    x = lon * ORIGIN_SHIFT / 180.0
    y = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) * EARTH_RADIUS
    return x, y


def mercator_to_lonlat(x, y):
    """Vectorized EPSG:3857 → EPSG:4326."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = x / ORIGIN_SHIFT * 180.0
    lat = (
        np.arctan(np.sinh(y / EARTH_RADIUS)) * 180.0 / math.pi
    )
    return lon, lat


def tile_index(lon, lat, zoom: int):
    """(lon, lat) → (tile_x, tile_y) at ``zoom`` — the XYZ addressing of
    ``tms._tile(x, y, z)`` (utils.py:125,134). Vectorized; clipped to the
    [0, 2**z - 1] matrix extent exactly as morecantile's truncate does.
    """
    mx, my = lonlat_to_mercator(lon, lat)
    n = 1 << zoom
    span = 2.0 * ORIGIN_SHIFT
    tx = np.floor((mx + ORIGIN_SHIFT) / span * n).astype(np.int64)
    ty = np.floor((ORIGIN_SHIFT - my) / span * n).astype(np.int64)
    return np.clip(tx, 0, n - 1), np.clip(ty, 0, n - 1)


def tile_bounds_mercator(tx, ty, zoom: int):
    """Tile (x, y, z) → (west, south, east, north) in EPSG:3857 —
    ``tms.xy_bounds(tile)`` (utils.py:126,135-137)."""
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    span = 2.0 * ORIGIN_SHIFT / (1 << zoom)
    west = -ORIGIN_SHIFT + tx * span
    north = ORIGIN_SHIFT - ty * span
    return west, north - span, west + span, north


def _zoom_snap(cs_fn, res: float, max_z: int, zoom_level_strategy: str) -> int:
    """Shared zoom_for_res core: ``cs_fn(z)`` gives the matrix cellSize.
    Strategy semantics mirror ``morecantile.TileMatrixSet.zoom_for_res``
    (reference utils.py:74-78; cogeo.py:134-140):

    * pick the smallest zoom whose cellSize <= res (within 1e-8 rel tol);
    * ``lower``  → snap one level coarser (never below zoom 0);
    * ``upper``  → keep the finer level;
    * ``auto``   → snap coarser only when the coarser level's cellSize is
      within 10% above ``res`` (morecantile's auto threshold — ratio
      ``cellSize(z-1)/res < 1.1``; GDAL's COG driver popularized it).
    """
    strategy = zoom_level_strategy.lower()
    if strategy not in ("auto", "lower", "upper"):
        raise ValueError(
            f"Invalid strategy: {zoom_level_strategy}. "
            "Should be one of lower|upper|auto."
        )

    zoom = 0
    for zoom in range(max_z + 1):
        matrix_res = cs_fn(zoom)
        if res > matrix_res or abs(res - matrix_res) / matrix_res <= 1e-8:
            break
    if zoom > 0:
        prev_res = cs_fn(zoom - 1)
        if abs(res - prev_res) / prev_res <= 1e-8:
            zoom -= 1

    if strategy == "lower":
        zoom = max(zoom - 1, 0)
    elif strategy == "auto":
        if zoom > 0 and (cs_fn(zoom - 1) / res) < 1.1:
            zoom = zoom - 1
    return zoom


def zoom_for_res(res: float, zoom_level_strategy: str = "auto") -> int:
    """Zoom level for a target ground resolution on WebMercatorQuad —
    see :func:`_zoom_snap` for the strategy semantics the reference
    inherits via ``tms.zoom_for_res``."""
    return _zoom_snap(cell_size, res, MAX_ZOOM, zoom_level_strategy)


def max_overview_level(width: int, height: int, minsize: int = DEFAULT_BLOCKSIZE) -> int:
    """Number of overview levels so the smallest overview stays >= minsize.

    Mirrors rasterio's ``get_maximum_overview_level`` as called at
    cogeo.py:382-384: halve while ``min(w // f, h // f) > minsize``.
    Golden: (512, 512, minsize=64) → 3 (reference tests/test_cogeo.py:72).
    """
    level = 0
    factor = 1
    while min(width // factor, height // factor) > minsize:
        factor *= 2
        level += 1
    return level


def overview_decimations(overview_level: int | None, decimation_base: int = 2,
                         width: int | None = None, height: int | None = None,
                         minsize: int = DEFAULT_BLOCKSIZE) -> list[int]:
    """Decimation factor list ``[base**j for j in 1..level]`` (cogeo.py:389)
    with the reference's parameter validation (cogeo.py:196-203):

    * base <= 1 → ValueError
    * base > 2 without an explicit overview_level → ValueError
    * overview_level None → inferred via :func:`max_overview_level`.
    """
    if decimation_base <= 1:
        raise ValueError(
            "Decimation base must be greater than 1 for building overviews."
        )
    if decimation_base > 2 and overview_level is None:
        raise ValueError(
            "Decimation base values greater than 2 require that overview_level is defined."
        )
    if overview_level is None:
        if width is None or height is None:
            raise ValueError("width/height required to infer overview_level")
        overview_level = max_overview_level(width, height, minsize=minsize)
    return [decimation_base**j for j in range(1, overview_level + 1)]


@dataclass(frozen=True)
class GridSpec:
    """The 'web-optimized VRT params' analog (utils.py:142-147): a target
    output grid — origin at a tile corner, resolution = TMS cellSize at
    max_zoom, extent padded to whole tiles at ``base_zoom``."""

    crs: str
    origin_x: float
    origin_y: float
    resolution: float
    width: int
    height: int
    max_zoom: int
    base_zoom: int


def web_optimized_grid(
    bounds_lonlat: tuple[float, float, float, float],
    zoom_level: int,
    aligned_levels: int | None = None,
) -> GridSpec:
    """Compute the aligned output grid for a lon/lat extent — the
    ``get_web_optimized_params`` analog (utils.py:88-147).

    The UL corner snaps to the UL tile at ``base_zoom = zoom_level -
    aligned_levels``; width/height use the reference's ``max(1,
    round((e - w) / res))`` rule (utils.py:139-140). The caller picks
    ``zoom_level`` (``cog_translate`` derives it with
    ``TileMatrixSet.zoom_for_res``).
    """
    w_lon, s_lat, e_lon, n_lat = bounds_lonlat
    (wx, ex), (sy, ny) = (
        lonlat_to_mercator([w_lon, e_lon], [s_lat, n_lat])[0],
        lonlat_to_mercator([w_lon, e_lon], [s_lat, n_lat])[1],
    )

    base_zoom = max(zoom_level - (aligned_levels or 0), 0)

    ul_tx, ul_ty = tile_index([w_lon], [n_lat], base_zoom)
    west, _, _, north = tile_bounds_mercator(ul_tx, ul_ty, base_zoom)

    res = cell_size(zoom_level)

    lr_tx, lr_ty = tile_index([e_lon], [s_lat], base_zoom)
    _, south, east, _ = tile_bounds_mercator(lr_tx + 1, lr_ty + 1, base_zoom)
    # xy_bounds(Tile(x+1, y+1)) in the reference (utils.py:134-137): the
    # east/south of the padded extent is the *west/north* of that tile.
    east = east - 2.0 * ORIGIN_SHIFT / (1 << base_zoom)
    south = south + 2.0 * ORIGIN_SHIFT / (1 << base_zoom)

    width = max(1, round(float(east[0] - west[0]) / res))
    height = max(1, round(float(north[0] - south[0]) / res))
    return GridSpec(
        crs="EPSG:3857",
        origin_x=float(west[0]),
        origin_y=float(north[0]),
        resolution=res,
        width=int(width),
        height=int(height),
        max_zoom=zoom_level,
        base_zoom=base_zoom,
    )


@dataclass(frozen=True)
class TileMatrixSet:
    """A tile matrix set — the morecantile TMS contract the reference
    accepts via ``cog_translate(tms=...)`` (cogeo.py:86, default
    WebMercatorQuad at utils.py:51; CLI ``--tms`` JSON at
    scripts/cli.py:214-219). The default form is the quad-pyramid family
    every published OGC quad TMS fits (a CRS bounding box, a zoom-0
    matrix shape, a power-of-2 progression); ``matrices`` /
    ``variable_widths`` extend it to explicit per-zoom matrix shapes and
    OGC variableMatrixWidths (GNOSISGlobalGrid-style row coalescing) for
    tile addressing — pyramids/overviews remain quad-only (``is_quad``)
    because parent-cell decimation needs the power-of-2 progression.

    At zoom z the matrix is ``matrix_width0*2^z x matrix_height0*2^z``
    tiles of ``tile_px`` px. ``geographic=True`` means the CRS IS lon/lat
    (e.g. WorldCRS84Quad) so no projection step is applied; otherwise
    coordinates go through web-mercator. A frozen dataclass of driver
    constants, which functions/tile.py folds into Spark literals.

    The module-level functions (cell_size/tile_index/...) remain the
    WebMercatorQuad fast path and are floating-point-identical to
    ``WEB_MERCATOR_QUAD``'s methods — the oracle SQL twins target them.
    """

    id: str
    crs: str
    bbox: tuple  # (minx, miny, maxx, maxy) in CRS units
    tile_px: int = TMS_TILE_PX
    matrix_width0: int = 1
    matrix_height0: int = 1
    geographic: bool = False
    # Explicit per-zoom matrix shapes ((w0, h0), (w1, h1), ...): set for
    # grids whose matrices do NOT follow the power-of-2 progression
    # (morecantile admits these via tileMatrices; reference cogeo.py:86).
    # Index = zoom; zooms beyond the list are an error.
    matrices: Optional[tuple] = None
    # OGC 2D-TMS variableMatrixWidths (GNOSISGlobalGrid-style): per zoom,
    # a tuple of (min_row, max_row, coalesce) entries — rows in
    # [min_row, max_row] hold tiles ``coalesce`` columns wide, and a
    # coalesced tile's tile_x snaps to the leftmost constituent column
    # (tile_x % coalesce == 0), exactly morecantile's xy→tile snapping.
    # Entries align with ``matrices`` by zoom; None entries = uniform row.
    variable_widths: Optional[tuple] = None

    @property
    def is_quad(self) -> bool:
        """True for the power-of-2 quad family — the only grids whose
        tile addresses support parent-cell decimation (``tx // base``),
        so pyramids/overviews and k-ring expansion require it. Variable
        grids still get tile_index/tile_bounds/cell_size."""
        return self.matrices is None and self.variable_widths is None

    def matrix_size(self, zoom: int) -> tuple:
        if self.matrices is not None:
            if zoom >= len(self.matrices):
                raise ValueError(
                    f"TMS {self.id!r} defines {len(self.matrices)} zoom "
                    f"levels; zoom {zoom} is out of range"
                )
            w, h = self.matrices[zoom]
            return (int(w), int(h))
        return (self.matrix_width0 << zoom, self.matrix_height0 << zoom)

    def row_spans(self, zoom: int) -> tuple:
        """The ``(min_row, max_row, coalesce)`` entries at ``zoom``;
        empty when every row is uniform. Later entries win."""
        vw = self.variable_widths
        return (vw[zoom] or ()) if vw is not None and zoom < len(vw) else ()

    def _coalesce_per_row(self, zoom: int) -> Optional[np.ndarray]:
        """Per-row coalescing factor at ``zoom`` (length = matrix height),
        or None when every row is uniform."""
        spans = self.row_spans(zoom)
        if not spans:
            return None
        _, ny = self.matrix_size(zoom)
        c = np.ones(ny, dtype=np.int64)
        for (r0, r1, k) in spans:
            c[int(r0): int(r1) + 1] = int(k)
        return c

    def cell_size(self, zoom: int) -> float:
        """``tms.matrix(zoom).cellSize`` (reference utils.py:131)."""
        minx, _, maxx, _ = self.bbox
        nx, _ = self.matrix_size(zoom)
        return (maxx - minx) / (nx * self.tile_px)

    def to_crs(self, lon, lat):
        if self.geographic:
            lon = np.asarray(lon, dtype=np.float64)
            lat = np.asarray(lat, dtype=np.float64)
            return lon, lat
        return lonlat_to_mercator(lon, lat)

    def tile_index(self, lon, lat, zoom: int):
        """(lon, lat) → (tile_x, tile_y) — generic form of the module
        :func:`tile_index`; identical output on WebMercatorQuad. In
        variable-width rows tile_x snaps to the leftmost constituent
        column of the coalesced tile (OGC 2D-TMS §variableMatrixWidths)."""
        x, y = self.to_crs(lon, lat)
        minx, miny, maxx, maxy = self.bbox
        nx, ny = self.matrix_size(zoom)
        tx = np.floor((x - minx) / (maxx - minx) * nx).astype(np.int64)
        ty = np.floor((maxy - y) / (maxy - miny) * ny).astype(np.int64)
        tx = np.clip(tx, 0, nx - 1)
        ty = np.clip(ty, 0, ny - 1)
        c = self._coalesce_per_row(zoom)
        if c is not None:
            k = c[ty]
            tx = (tx // k) * k
        return tx, ty

    def tile_bounds(self, tx, ty, zoom: int):
        """Tile (x, y, z) → (west, south, east, north) in CRS units.
        Coalesced tiles span ``coalesce`` columns eastward."""
        tx_i = np.asarray(tx, dtype=np.int64)
        ty_i = np.asarray(ty, dtype=np.int64)
        tx = tx_i.astype(np.float64)
        ty = ty_i.astype(np.float64)
        minx, miny, maxx, maxy = self.bbox
        nx, ny = self.matrix_size(zoom)
        span_x = (maxx - minx) / nx
        span_y = (maxy - miny) / ny
        c = self._coalesce_per_row(zoom)
        width = span_x if c is None else span_x * c[np.clip(ty_i, 0, ny - 1)]
        west = minx + tx * span_x
        north = maxy - ty * span_y
        return west, north - span_y, west + width, north

    def zoom_for_res(self, res: float, zoom_level_strategy: str = "auto") -> int:
        max_z = MAX_ZOOM if self.matrices is None else min(MAX_ZOOM, len(self.matrices) - 1)
        return _zoom_snap(self.cell_size, res, max_z, zoom_level_strategy)


# The default TMS — method results are FP-identical to the module-level
# fast-path functions (the bbox spans/offsets reduce to the exact same
# float arithmetic).
WEB_MERCATOR_QUAD = TileMatrixSet(
    id="WebMercatorQuad",
    crs="EPSG:3857",
    bbox=(-ORIGIN_SHIFT, -ORIGIN_SHIFT, ORIGIN_SHIFT, ORIGIN_SHIFT),
)

# The one non-mercator TMS every mass-market tool ships: geographic
# lon/lat with a 2x1 zoom-0 matrix (OGC 17-083r2 Annex D).
WORLD_CRS84_QUAD = TileMatrixSet(
    id="WorldCRS84Quad",
    crs="OGC:CRS84",
    bbox=(-180.0, -90.0, 180.0, 90.0),
    matrix_width0=2,
    matrix_height0=1,
    geographic=True,
)

TMS_REGISTRY = {t.id: t for t in (WEB_MERCATOR_QUAD, WORLD_CRS84_QUAD)}


def tms_from_dict(d: dict) -> TileMatrixSet:
    """Build a TMS from a JSON-style dict (the CLI ``--tms`` file shape):
    ``{"id", "crs", "bbox", "tile_px", "matrix_width0", "matrix_height0",
    "geographic", "matrices", "variable_widths"}`` — unknown keys rejected
    loudly, non-positive dimensions too (a 0 tile_px or matrix dimension
    would otherwise yield division-by-zero cell sizes / clip-to-(-1)
    garbage tile indices silently)."""
    known = {
        "id", "crs", "bbox", "tile_px", "matrix_width0", "matrix_height0",
        "geographic", "matrices", "variable_widths",
    }
    unknown = set(d) - known
    if unknown:
        raise ValueError(f"unknown TMS keys: {sorted(unknown)}")
    if "id" not in d or "crs" not in d or "bbox" not in d:
        raise ValueError("TMS dict requires id, crs and bbox")
    bbox = tuple(float(v) for v in d["bbox"])
    if len(bbox) != 4 or bbox[0] >= bbox[2] or bbox[1] >= bbox[3]:
        raise ValueError(f"invalid TMS bbox: {d['bbox']}")
    tile_px = int(d.get("tile_px", TMS_TILE_PX))
    w0 = int(d.get("matrix_width0", 1))
    h0 = int(d.get("matrix_height0", 1))
    for name, v in (("tile_px", tile_px), ("matrix_width0", w0),
                    ("matrix_height0", h0)):
        if v < 1:
            raise ValueError(f"TMS {name} must be >= 1, got {v}")

    matrices = None
    if d.get("matrices") is not None:
        matrices = tuple(
            (int(w), int(h)) for w, h in d["matrices"]
        )
        if not matrices:
            raise ValueError("TMS matrices must be non-empty when given")
        for z, (w, h) in enumerate(matrices):
            if w < 1 or h < 1:
                raise ValueError(
                    f"TMS matrices[{z}] must be >= 1x1, got {w}x{h}"
                )

    variable_widths = None
    if d.get("variable_widths") is not None:
        if matrices is None:
            raise ValueError(
                "TMS variable_widths requires explicit matrices "
                "(per-zoom matrix shapes)"
            )
        vw = []
        for z, spans in enumerate(d["variable_widths"]):
            if z >= len(matrices):
                raise ValueError(
                    "TMS variable_widths lists more zooms than matrices"
                )
            if not spans:
                vw.append(())
                continue
            _, ny = matrices[z]
            norm = []
            for (r0, r1, c) in spans:
                r0, r1, c = int(r0), int(r1), int(c)
                if c < 1:
                    raise ValueError(f"TMS coalesce must be >= 1, got {c}")
                if not (0 <= r0 <= r1 < ny):
                    raise ValueError(
                        f"TMS variable_widths[{z}] rows [{r0},{r1}] outside "
                        f"matrix height {ny}"
                    )
                norm.append((r0, r1, c))
            vw.append(tuple(norm))
        variable_widths = tuple(vw)

    return TileMatrixSet(
        id=str(d["id"]),
        crs=str(d["crs"]),
        bbox=bbox,
        tile_px=tile_px,
        matrix_width0=w0,
        matrix_height0=h0,
        geographic=bool(d.get("geographic", False)),
        matrices=matrices,
        variable_widths=variable_widths,
    )


def k_ring(tx: int, ty: int, zoom: int, k: int = 1) -> list[tuple[int, int]]:
    """Neighbor tiles within Chebyshev distance ``k`` — the kNN candidate
    expansion (SURVEY.md §2.3 J3). X wraps around the antimeridian over
    at most ``n`` columns, so no tile repeats when ``2k+1 > n``; Y is
    clamped to the matrix."""
    n = 1 << zoom
    out = []
    for dy in range(-k, k + 1):
        yy = ty + dy
        if yy < 0 or yy >= n:
            continue
        for dx in range(-k, -k + min(2 * k + 1, n)):
            out.append(((tx + dx) % n, yy))
    return out


def pack_cell(zoom, tx, ty):
    """(z, x, y) → single int64 cell id: z<<58 | x<<29 | y. Valid z<=29."""
    zoom_arr = np.asarray(zoom, dtype=np.int64)
    tx_arr = np.asarray(tx, dtype=np.int64)
    ty_arr = np.asarray(ty, dtype=np.int64)
    return (zoom_arr << 58) | (tx_arr << 29) | ty_arr


def unpack_cell(cell):
    cell = np.asarray(cell, dtype=np.int64)
    return cell >> 58, (cell >> 29) & ((1 << 29) - 1), cell & ((1 << 29) - 1)
