"""True hexagonal H3-style cells over the web-mercator plane.

SURVEY.md §2.3 G7 names the optional "true-H3 ring" as the one
interop gap left by the square-quadtree cells of cells.py (VERDICT r5
"What's missing" #3): square 3×3 rings have two neighbor distances
(edge vs corner), while hexagons give SIX equidistant neighbors and
k-rings of exactly 3k(k+1)+1 cells — the property H3 joins rely on.
This module supplies that cell type natively, without the (absent)
h3 package: a pointy-top hexagonal lattice laid over the SAME
normalized mercator square tilemath._xy_norm defines, so hex cells
compose with every existing lon/lat column.

Not the icosahedral H3 global grid: H3's aperture-7 icosahedron
exists to avoid projection distortion and has 12 pentagon seams; on a
mercator engine the planar lattice is the honest equivalent (uniform
in projected space, distorted toward the poles exactly like the tile
grid itself, with the antimeridian as the one seam column — the same
seam the quadtree has). Documented trade, not a stub.

Geometry (axial coordinates, pointy-top, unit = mercator [0,1]²):
    scale   = 2**res                      (res ∈ [0, 24])
    qf      = (√3/3 · mx − my/3) · scale
    rf      = (2/3 · my)         · scale
    (q, r)  = cube_round(qf, rf)          — nearest hex center
so the hex circumradius is 2**-res mercator units (neighbor-center
spacing √3 · 2**-res) and cell area shrinks 4× per res step, matching
the quadtree's level scaling.
cube_round rounds each cube coordinate with floor(v + 0.5) — NOT
banker's rounding — and repairs the largest-error axis so
q + (−q−r) + r = 0 stays exact; floor(v+0.5) is chosen because numpy
round() rounds half-to-even while DuckDB/Spark round() rounds
half-away-from-zero, and the oracle gate needs the three engines to
agree on every boundary.

Packed id (int64): ((q + OFF) · 2^28 + (r + OFF)) · 32 + res with
OFF = 2^(res+1) (covers the negative-q strip west of lon=-180's hex
column and k-ring excursions past the corpus edge). Plain integer
arithmetic — no bit tricks — so a DuckDB oracle can compute the same
id with *, +. res ≤ 24 keeps every term under 2^63.

All kernels are vectorized numpy over float64/int64 arrays (Arrow
batch-friendly), mirroring cells.py/tilemath.py. The one exception is
the sin/log of the mercator projection in _axial_float, which calls
the C library per element (see _libm).
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "SQRT3_3",
    "HEX_MAX_RES",
    "hex_encode",
    "hex_pack",
    "hex_unpack",
    "hex_center",
    "hex_kring_offsets",
    "hex_kring",
    "hex_distance",
]

# float64 nearest to √3/3; embedded as a literal in the DuckDB oracle
# SQL (__spark_entry__.sql_hex_cell_agg) so both engines multiply by
# the IDENTICAL constant
SQRT3_3 = 0.5773502691896257
HEX_MAX_RES = 24
_QR_SPAN = np.int64(1) << np.int64(28)  # per-axis id field width


def _check_res(res: int) -> None:
    if not 0 <= res <= HEX_MAX_RES:
        raise ValueError(f"hex res must be in [0, {HEX_MAX_RES}] (got {res})")


def _libm(fn, v: np.ndarray) -> np.ndarray:
    """`fn` (a `math` function) applied elementwise.

    numpy's SIMD sin/log loops may differ from the C library by an ulp,
    while DuckDB's sin/ln call the C library. On the lon = -180 seam the
    meridian runs along hex edges, so the cube-round tie there is
    decided by the last bit of my: an ulp off picks the other hex."""
    out = np.fromiter(map(fn, v.ravel().tolist()), np.float64, count=v.size)
    return out.reshape(v.shape)


def _axial_float(lons, lats, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Fractional axial coords of each point's position on the lattice.

    Op-for-op the expression the SQL oracle runs: mx/my from the
    published mercator formulas of tilemath._xy_norm (sin and log from
    the C library, bit-identical to the oracle), then one
    multiply-subtract per axis. Non-finite my (poles) raises — a NaN
    would cube-round into a wrong-but-well-formed id (the pack_cell
    convention)."""
    _check_res(res)
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    mx = lons / 360.0 + 0.5
    pole = ValueError("hex_encode: latitude at/beyond mercator pole")
    if not np.isfinite(lats).all():
        raise pole
    sinlat = _libm(math.sin, np.radians(lats))
    with np.errstate(divide="ignore"):
        ratio = (1.0 + sinlat) / (1.0 - sinlat)
    # ratio 0 / inf is lat = -90 / +90, where my would be ±inf
    if not (np.isfinite(ratio) & (ratio > 0.0)).all():
        raise pole
    my = 0.5 - 0.25 * _libm(math.log, ratio) / np.pi
    scale = float(1 << res)
    qf = (SQRT3_3 * mx - my / 3.0) * scale
    rf = (my * (2.0 / 3.0)) * scale
    return qf, rf


def _cube_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Nearest hex center in axial coords (classic cube rounding).

    floor(v+0.5) everywhere — see module doc for why round() is NOT
    usable across numpy/DuckDB/Spark. The repair branches are exclusive
    and only the dx-branch affects q, only the else-branch affects r,
    which is what lets the SQL twin express them as two CASEs over the
    ORIGINAL rx/ry/rz."""
    sf = -qf - rf
    rx = np.floor(qf + 0.5)
    ry = np.floor(sf + 0.5)
    rz = np.floor(rf + 0.5)
    dx = np.abs(rx - qf)
    dy = np.abs(ry - sf)
    dz = np.abs(rz - rf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & ~(dy > dz)
    q = np.where(fix_x, -ry - rz, rx)
    r = np.where(fix_z, -rx - ry, rz)
    return q.astype(np.int64), r.astype(np.int64)


def hex_pack(qs, rs, res: int) -> np.ndarray:
    """(q, r, res) axial coords → packed int64 id (range-checked:
    aliasing would corrupt joins silently, same rationale as
    cells.pack_cell's guard)."""
    _check_res(res)
    off = np.int64(1) << np.int64(res + 1)
    qo = np.asarray(qs, dtype=np.int64) + off
    ro = np.asarray(rs, dtype=np.int64) + off
    if qo.size and (
        (qo < 0).any()
        or (qo >= _QR_SPAN).any()
        or (ro < 0).any()
        or (ro >= _QR_SPAN).any()
    ):
        raise ValueError(f"hex_pack: axial coords out of range at res {res}")
    return (qo * _QR_SPAN + ro) * np.int64(32) + np.int64(res)


def hex_unpack(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Packed ids → (q, r, res). Negative ids raise: hex_kring emits
    -1 sentinels for unpackable ring positions, and silently decoding
    one yields well-formed garbage (res 31, huge q/r) that corrupts
    every downstream helper — fail loud like hex_pack does (r7,
    ADVICE r6). Filter sentinels before unpacking."""
    c = np.asarray(ids, dtype=np.int64)
    if c.size and (c < 0).any():
        raise ValueError(
            "hex_unpack: negative id (hex_kring's -1 sentinel for an "
            "unpackable ring position?) — filter sentinels first"
        )
    res = c % np.int64(32)
    body = c // np.int64(32)
    off = np.int64(1) << (res + np.int64(1))
    q = body // _QR_SPAN - off
    r = body % _QR_SPAN - off
    return q, r, res.astype(np.int64)


def hex_encode(lons, lats, res: int) -> np.ndarray:
    """(lon, lat) → packed hex cell id at `res`."""
    qf, rf = _axial_float(lons, lats, res)
    q, r = _cube_round(qf, rf)
    return hex_pack(q, r, res)


def hex_center(ids) -> tuple[np.ndarray, np.ndarray]:
    """Packed ids → (lon, lat) of each hexagon's center (the exact
    lattice inverse of _axial_float; mercator y back through the
    mercantile inverse 2·atan(exp(π·(1−2y)))·180/π − 90)."""
    q, r, res = hex_unpack(ids)
    scale = np.power(2.0, res.astype(np.float64))
    my = (r.astype(np.float64) / scale) * 1.5
    mx = (q.astype(np.float64) / scale + my / 3.0) / SQRT3_3
    lon = (mx - 0.5) * 360.0
    lat = (
        np.degrees(2.0 * np.arctan(np.exp(np.pi * (1.0 - 2.0 * my)))) - 90.0
    )
    return lon, lat


def hex_kring_offsets(k: int) -> np.ndarray:
    """(m, 2) int64 axial offsets of the filled k-ring, m = 3k(k+1)+1,
    ordered (dq, dr) lexicographically (deterministic for tests and
    for SQL VALUES-table oracles)."""
    if k < 0:
        raise ValueError("k must be >= 0")
    dq = np.arange(-k, k + 1, dtype=np.int64)
    out = []
    for d in dq:
        lo, hi = max(-k, -d - k), min(k, -d + k)
        rr = np.arange(lo, hi + 1, dtype=np.int64)
        out.append(np.stack([np.full_like(rr, d), rr], axis=1))
    return np.concatenate(out, axis=0)


def hex_kring(ids, k: int) -> np.ndarray:
    """(n, 3k(k+1)+1) packed ids of each cell's filled k-ring. All
    inputs must share one res (one ring table per res keeps the result
    rectangular; mixed-res calls raise rather than mix lattices).

    Ring members whose axial coords fall outside the packable range are
    returned as -1 (r6 review): the id offset is 2^(res+1), so at LOW
    res a modest k walks past it (res 0: any k >= 3 from an in-domain
    cell) — raising there turned a legitimate query into a crash. Every
    real packed id is >= 0, so -1 never matches in a join; semantically
    those lattice positions are simply cells no corpus row can occupy.
    (hex_pack itself still range-checks — encode paths keep failing
    loud on genuine aliasing.)"""
    q, r, res = hex_unpack(ids)
    if res.size and (res != res.flat[0]).any():
        raise ValueError("hex_kring: mixed resolutions in one batch")
    res0 = int(res.flat[0]) if res.size else 0
    off = hex_kring_offsets(k)
    nq = (q.reshape(-1, 1) + off[:, 0][None, :]).ravel()
    nr = (r.reshape(-1, 1) + off[:, 1][None, :]).ravel()
    n = q.shape[0] if q.ndim else 1
    o = np.int64(1) << np.int64(res0 + 1)
    qo, ro = nq + o, nr + o
    ok = (qo >= 0) & (qo < _QR_SPAN) & (ro >= 0) & (ro < _QR_SPAN)
    packed = np.where(
        ok,
        (np.where(ok, qo, 0) * _QR_SPAN + np.where(ok, ro, 0))
        * np.int64(32)
        + np.int64(res0),
        np.int64(-1),
    )
    return packed.reshape(n, off.shape[0])


def hex_distance(ids_a, ids_b) -> np.ndarray:
    """Hex grid distance (minimum steps between cells) =
    (|dq| + |dr| + |dq+dr|) / 2. Requires matching res pairwise."""
    qa, ra, za = hex_unpack(ids_a)
    qb, rb, zb = hex_unpack(ids_b)
    if za.size and (za != zb).any():
        raise ValueError("hex_distance: resolution mismatch")
    dq = qa - qb
    dr = ra - rb
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // np.int64(2)
