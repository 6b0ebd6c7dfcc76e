"""Web-mercator tile math — pure numpy, no Spark imports.

Vectorized reimplementation of the `mercantile` functions the reference
pipeline calls throughout its mosaic build
([ref: landsat_cogeo_mosaic/mosaic.py#features_to_mosaicJSON], which uses
mercantile.tile / tiles / quadkey / quadkey_to_tile / bounds — see
SURVEY.md §2.3 for the exact public formulas). All math is float64;
semantics (epsilons, clamps, tie behavior at tile edges) follow
mercantile's documented implementation so tile assignment is stable.

Every function accepts scalars or 1-D numpy arrays and returns numpy
arrays (vectorized over points/tiles — these run inside Arrow batches on
executors, so there must be no per-row Python).
"""

from __future__ import annotations

import numpy as np

# mercantile's constants
EPSILON = 1e-14  # tile() right/bottom-edge nudge
LL_EPSILON = 1e-11  # tiles() bounds inset
MAX_LAT = 85.0511287798066  # atan(sinh(pi)) in degrees — mercator clamp
_CLIP_LAT = 85.051129  # mercantile.tiles clamps bounds to this

__all__ = [
    "EPSILON",
    "LL_EPSILON",
    "MAX_LAT",
    "lonlat_to_tile",
    "tile_to_quadkey",
    "quadkey_to_tile",
    "tile_ul",
    "tile_bounds",
    "cover_ranges",
    "truncate_lonlat",
]


def truncate_lonlat(lons, lats):
    """Clamp lon to [-180, 180] and lat to [-90, 90] (mercantile.truncate_lnglat)."""
    lons = np.clip(np.asarray(lons, dtype=np.float64), -180.0, 180.0)
    lats = np.clip(np.asarray(lats, dtype=np.float64), -90.0, 90.0)
    return lons, lats


def _xy_norm(lons, lats):
    """Normalized web-mercator coordinates in [0, 1] (mercantile._xy).

    x = lon/360 + 0.5
    y = 0.5 - 0.25 * ln((1 + sin φ) / (1 - sin φ)) / π
    (identical to 0.5 - asinh(tan φ)/(2π); the log form is what
    mercantile computes, so we match it operation-for-operation.)
    Latitudes at/beyond the mercator singularity produce ±inf y, which the
    callers clamp via the x<=0 / x>=1 branch logic.
    """
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    x = lons / 360.0 + 0.5
    sinlat = np.sin(np.radians(lats))
    with np.errstate(divide="ignore", invalid="ignore"):
        y = 0.5 - 0.25 * np.log((1.0 + sinlat) / (1.0 - sinlat)) / np.pi
    # lat = +90 → sinlat = 1 → log(inf) → y = -inf ; lat = -90 → +inf.
    y = np.where(np.isnan(y), np.where(lats > 0, -np.inf, np.inf), y)
    return x, y


def lonlat_to_tile(lons, lats, zoom: int):
    """(lon, lat) → (xtile, ytile) at `zoom`, mercantile.tile semantics.

    Points within EPSILON of the right/bottom edge of a tile are counted
    in the next tile over; x/y are clamped to [0, 2**zoom - 1].
    NaN coordinates raise: np.clip passes NaN through and int64-casting
    NaN is undefined (observed INT64_MIN), which would silently turn a
    null bbox into phantom tile coverage.
    """
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    if np.isnan(lons).any() or np.isnan(lats).any():
        raise ValueError("lonlat_to_tile: NaN coordinate (null bbox?)")
    x, y = _xy_norm(lons, lats)
    z2 = float(1 << zoom)
    xtile = np.floor((x + EPSILON) * z2)
    xtile = np.where(x <= 0, 0.0, np.where(x >= 1, z2 - 1, xtile))
    ytile = np.floor((y + EPSILON) * z2)
    ytile = np.where(y <= 0, 0.0, np.where(y >= 1, z2 - 1, ytile))
    # guard: floor((x+eps)*z2) can still hit z2 for x just under 1
    xtile = np.clip(xtile, 0, z2 - 1)
    ytile = np.clip(ytile, 0, z2 - 1)
    return xtile.astype(np.int64), ytile.astype(np.int64)


def tile_to_quadkey(xs, ys, zoom: int) -> np.ndarray:
    """Tile → base-4 quadkey string (mercantile.quadkey semantics).

    digit_i = (x >> (zoom-i)) & 1  |  ((y >> (zoom-i)) & 1) << 1, i=1..zoom.
    Vectorized: build a (n, zoom) digit matrix, view as fixed-width str.
    """
    xs = np.asarray(xs, dtype=np.int64).ravel()
    ys = np.asarray(ys, dtype=np.int64).ravel()
    n = xs.shape[0]
    if zoom == 0:
        return np.full(n, "", dtype=object)
    shifts = np.arange(zoom - 1, -1, -1, dtype=np.int64)  # zoom-1 .. 0
    dx = (xs[:, None] >> shifts[None, :]) & 1
    dy = (ys[:, None] >> shifts[None, :]) & 1
    digits = (dx + 2 * dy).astype(np.uint32) + ord("0")
    # uint32 codepoints → one unicode string of length `zoom` per row
    qk = digits.view(f"U{zoom}").ravel()
    return qk.astype(object)


def quadkey_to_tile(quadkeys) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Quadkey strings (all same length) → (x, y, zoom) arrays."""
    qks = np.asarray(quadkeys, dtype=object)
    if qks.size == 0:
        return (
            np.empty(0, np.int64),
            np.empty(0, np.int64),
            np.empty(0, np.int64),
        )
    lens = np.fromiter((len(q) for q in qks), dtype=np.int64, count=qks.size)
    zoom = int(lens[0])
    if not (lens == zoom).all():
        # mixed zooms: fall back to per-group decode
        xs = np.empty(qks.size, np.int64)
        ys = np.empty(qks.size, np.int64)
        for z in np.unique(lens):
            m = lens == z
            x, y, _ = quadkey_to_tile(qks[m])
            xs[m], ys[m] = x, y
        return xs, ys, lens
    if zoom == 0:
        return (
            np.zeros(qks.size, np.int64),
            np.zeros(qks.size, np.int64),
            np.zeros(qks.size, np.int64),
        )
    arr = np.array(qks.tolist(), dtype=f"U{zoom}")
    digits = arr.view(np.uint32).reshape(qks.size, zoom) - ord("0")
    shifts = np.arange(zoom - 1, -1, -1, dtype=np.int64)
    xs = ((digits & 1).astype(np.int64) << shifts[None, :]).sum(axis=1)
    ys = (((digits >> 1) & 1).astype(np.int64) << shifts[None, :]).sum(axis=1)
    return xs, ys, np.full(qks.size, zoom, dtype=np.int64)


def tile_ul(xs, ys, zoom: int):
    """Upper-left (lon, lat) of tiles (mercantile.ul)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    z2 = float(1 << zoom)
    lon = xs / z2 * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * ys / z2))))
    return lon, lat


def tile_bounds(xs, ys, zoom: int):
    """Tiles → (west, south, east, north) degree bounds (mercantile.bounds)."""
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    w, n = tile_ul(xs, ys, zoom)
    e, s = tile_ul(xs + 1, ys + 1, zoom)
    return w, s, e, n


def cover_ranges(west, south, east, north, zoom: int):
    """Bbox → inclusive tile index ranges (x0, x1, y0, y1) at `zoom`.

    mercantile.tiles semantics: clamp bounds to the mercator world, then
    ul = tile(w, n), lr = tile(e - LL_EPSILON, s + LL_EPSILON); the cover
    is the inclusive rectangle between them. Antimeridian-crossing boxes
    (west > east) must be split by the CALLER into two boxes before this.
    Degenerate/empty boxes yield x1 < x0 (empty range).
    """
    w = np.maximum(-180.0, np.asarray(west, dtype=np.float64))
    s = np.maximum(-_CLIP_LAT, np.asarray(south, dtype=np.float64))
    e = np.minimum(180.0, np.asarray(east, dtype=np.float64))
    n = np.minimum(_CLIP_LAT, np.asarray(north, dtype=np.float64))
    x0, y0 = lonlat_to_tile(w, n, zoom)
    x1, y1 = lonlat_to_tile(e - LL_EPSILON, s + LL_EPSILON, zoom)
    return x0, x1, y0, y1

