"""Slow, obviously-correct pure-Python oracle — the executable spec.

/root/reference was empty at build time (SURVEY.md §0), so this module IS
the reimplementation of the reference semantics (mercantile tile math per
SURVEY.md §2.3's public formulas; shapely-`intersects` polygon/box
predicates via independent scalar algorithms; the
`features_to_mosaicJSON` selection logic of
[ref: landsat_cogeo_mosaic/mosaic.py]). Golden fixtures are generated
from here; the Spark engine must match them byte-for-byte.

Everything here is scalar, loop-based, and dependency-free on purpose —
correctness over speed. Algorithms are chosen to be DIFFERENT from
mosaic_engine's vectorized ones where possible (orientation-based segment
intersection vs Liang–Barsky, per-digit string quadkeys vs bit matrices)
so agreement is meaningful.
"""

from __future__ import annotations

import json
import math

EPSILON = 1e-14
LL_EPSILON = 1e-11
CLIP_LAT = 85.051129


# ---------------------------------------------------------------- tile math
def tile(lng: float, lat: float, zoom: int) -> tuple[int, int]:
    x = lng / 360.0 + 0.5
    sinlat = math.sin(math.radians(lat))
    try:
        y = 0.5 - 0.25 * math.log((1.0 + sinlat) / (1.0 - sinlat)) / math.pi
    except (ValueError, ZeroDivisionError):
        y = float("-inf") if lat > 0 else float("inf")
    z2 = 2**zoom
    if x <= 0:
        xtile = 0
    elif x >= 1:
        xtile = z2 - 1
    else:
        xtile = min(int(math.floor((x + EPSILON) * z2)), z2 - 1)
    if y <= 0:
        ytile = 0
    elif y >= 1:
        ytile = z2 - 1
    else:
        ytile = min(int(math.floor((y + EPSILON) * z2)), z2 - 1)
    return xtile, ytile


def quadkey(x: int, y: int, zoom: int) -> str:
    qk = []
    for z in range(zoom, 0, -1):
        digit = 0
        mask = 1 << (z - 1)
        if x & mask:
            digit += 1
        if y & mask:
            digit += 2
        qk.append(str(digit))
    return "".join(qk)


def quadkey_to_tile(qk: str) -> tuple[int, int, int]:
    x = y = 0
    for digit in qk:
        x <<= 1
        y <<= 1
        d = int(digit)
        x |= d & 1
        y |= (d >> 1) & 1
    return x, y, len(qk)


def ul(x: int, y: int, zoom: int) -> tuple[float, float]:
    z2 = 2**zoom
    lon = x / z2 * 360.0 - 180.0
    # numpy scalar transcendentals: bit-identical to the engine's
    # vectorized path (math.atan differs from np.arctan by 1 ULP on some
    # inputs, which would break golden byte-equality)
    import numpy as np

    lat = float(np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / z2)))))
    return lon, lat


def tile_bounds(x: int, y: int, zoom: int) -> tuple[float, float, float, float]:
    w, n = ul(x, y, zoom)
    e, s = ul(x + 1, y + 1, zoom)
    return w, s, e, n


def tiles_cover(west, south, east, north, zoom):
    """mercantile.tiles semantics incl. antimeridian split."""
    if west > east:
        boxes = [(-180.0, south, east, north), (west, south, 180.0, north)]
    else:
        boxes = [(west, south, east, north)]
    out = []
    for w, s, e, n in boxes:
        w = max(-180.0, w)
        s = max(-CLIP_LAT, s)
        e = min(180.0, e)
        n = min(CLIP_LAT, n)
        x0, y0 = tile(w, n, zoom)
        x1, y1 = tile(e - LL_EPSILON, s + LL_EPSILON, zoom)
        for i in range(x0, x1 + 1):
            for j in range(y0, y1 + 1):
                out.append((i, j))
    return out


# ----------------------------------------------------------------- geometry
def point_in_ring(px, py, ring, eps=1e-12):
    """Crossing-number PIP, boundary-inclusive. ring = [(x, y), ...] closed."""
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        # boundary check via orientation
        span = max(abs(x2 - x1), abs(y2 - y1))
        if span > 0:
            cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
            if (
                abs(cross) <= eps * max(span, 1.0)
                and min(x1, x2) - eps <= px <= max(x1, x2) + eps
                and min(y1, y2) - eps <= py <= max(y1, y2) + eps
            ):
                return True
        if (y1 > py) != (y2 > py):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xint:
                inside = not inside
    return inside


def _orient(ax, ay, bx, by, cx, cy):
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    if v > 0:
        return 1
    if v < 0:
        return -1
    return 0


def _on_seg(ax, ay, bx, by, px, py):
    return (
        min(ax, bx) <= px <= max(ax, bx) and min(ay, by) <= py <= max(ay, by)
    )


def segments_intersect(p1, p2, p3, p4):
    """Inclusive segment intersection via orientation tests."""
    o1 = _orient(*p1, *p2, *p3)
    o2 = _orient(*p1, *p2, *p4)
    o3 = _orient(*p3, *p4, *p1)
    o4 = _orient(*p3, *p4, *p2)
    if o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and _on_seg(*p1, *p2, *p3):
        return True
    if o2 == 0 and _on_seg(*p1, *p2, *p4):
        return True
    if o3 == 0 and _on_seg(*p3, *p4, *p1):
        return True
    if o4 == 0 and _on_seg(*p3, *p4, *p2):
        return True
    return False


def ring_intersects_box(ring, w, s, e, n):
    """Polygon(ring) ∩ box, boundary-inclusive (shapely `intersects`)."""
    for x, y in ring:
        if w <= x <= e and s <= y <= n:
            return True
    for cx, cy in ((w, s), (w, n), (e, s), (e, n)):
        if point_in_ring(cx, cy, ring):
            return True
    box_edges = [
        ((w, s), (e, s)),
        ((e, s), (e, n)),
        ((e, n), (w, n)),
        ((w, n), (w, s)),
    ]
    for a, b in zip(ring, ring[1:]):
        if a == b:
            continue
        for c, d in box_edges:
            if segments_intersect(a, b, c, d):
                return True
    return False


def haversine_m(lon1, lat1, lon2, lat2, radius=6371008.8):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dlat = p2 - p1
    # radians FIRST, subtract AFTER — the engine's op order
    # (geometry.haversine_m); radians(lon2 - lon1) differs in the last
    # ULP for ~43% of pairs and a near-tie pair could flip the exact
    # (dist, image_id) rank order this oracle asserts (r5 review)
    dlon = math.radians(lon2) - math.radians(lon1)
    a = (
        math.sin(dlat / 2.0) ** 2
        + math.cos(p1) * math.cos(p2) * math.sin(dlon / 2.0) ** 2
    )
    return 2.0 * radius * math.asin(math.sqrt(min(a, 1.0)))


# --------------------------------------------------- mosaic selection logic
def scene_quadkeys(scene: dict, quadkey_zoom: int) -> set[str]:
    """Quadkeys whose tile cell intersects the scene footprint."""
    ring = list(zip(scene["fp_xs"], scene["fp_ys"]))
    if scene["min_lon"] > scene["max_lon"]:
        # antimeridian-crossing bbox (datagen convention: unwrapped ring,
        # wrapped bounds). Western tiles test the ring as-is; eastern
        # tiles test the ring shifted by -360.
        ring_e = [(x - 360.0, y) for x, y in ring]
        boxes = [
            ((scene["min_lon"], scene["min_lat"], 180.0, scene["max_lat"]), ring),
            (
                (-180.0, scene["min_lat"], scene["max_lon"], scene["max_lat"]),
                ring_e,
            ),
        ]
    else:
        boxes = [
            (
                (
                    scene["min_lon"],
                    scene["min_lat"],
                    scene["max_lon"],
                    scene["max_lat"],
                ),
                ring,
            )
        ]
    qks = set()
    for bx, rg in boxes:
        for tx, ty in tiles_cover(*bx, quadkey_zoom):
            w, s, e, n = tile_bounds(tx, ty, quadkey_zoom)
            if ring_intersects_box(rg, w, s, e, n):
                qks.add(quadkey(tx, ty, quadkey_zoom))
    return qks


def rank_key(scene: dict, preference: str, closest_date=None):
    """Canonical total-order rank key (SURVEY.md §2.5 A2).

    (preference key, cloud_cover asc, image_id asc) — fully deterministic.
    A null cloud_cover ranks as 101, below any measured value (the
    twin of ops._sel_struct's coalesce).
    """
    dt = scene["acquisition_date"]
    if preference == "newest":
        pref = -dt.timestamp()
    elif preference == "oldest":
        pref = dt.timestamp()
    elif preference == "closest-to-date":
        pref = abs((dt - closest_date).total_seconds())
    else:
        raise ValueError(preference)
    cloud = scene["cloud_cover"]
    return (pref, 101.0 if cloud is None else cloud, scene["image_id"])


SEASON_MONTHS = {
    "winter": (12, 1, 2),
    "spring": (3, 4, 5),
    "summer": (6, 7, 8),
    "autumn": (9, 10, 11),
    "fall": (9, 10, 11),
}


def features_to_mosaic(
    scenes: list[dict],
    quadkey_zoom: int = 8,
    minzoom: int = 7,
    maxzoom: int = 12,
    preference: str = "newest",
    closest_date=None,
    optimized_selection: bool = False,
    max_cloud: float = 100.0,
    bounds_filter=None,
    max_assets_per_tile: int | None = None,
    seasons: tuple = (),
    tier_only: bool = False,
) -> dict:
    """Pure-Python mirror of [ref: mosaic.py#features_to_mosaicJSON]."""
    # no cloud filter (max_cloud >= 100) keeps null cloud metadata; an
    # explicit one excludes it (mirrors ops.filter_scenes)
    kept = [
        s for s in scenes
        if (s["cloud_cover"] is None and max_cloud >= 100.0)
        or (s["cloud_cover"] is not None and s["cloud_cover"] <= max_cloud)
    ]
    if seasons:
        months = {m for sn in seasons for m in SEASON_MONTHS[sn]}
        kept = [s for s in kept if s["acquisition_date"].month in months]
    if tier_only:
        kept = [s for s in kept if "_T1" in s["image_id"]]
    if bounds_filter is not None:
        w, s_, e, n = bounds_filter

        def lon_ok(sc) -> bool:
            # mirrors ops.filter_scenes (r5): crossing SCENES store
            # min_lon > max_lon; a crossing WINDOW has w > e (union of
            # [w, 180] and [-180, e]); a crossing scene always touches
            # 180, which a crossing window always includes
            a, b = sc["min_lon"], sc["max_lon"]
            if w <= e:
                return (a < e and b > w) if a <= b else (a < e or b > w)
            return (b > w or a < e) if a <= b else True

        kept = [
            sc
            for sc in kept
            if lon_ok(sc) and sc["min_lat"] < n and sc["max_lat"] > s_
        ]
    tiles_map: dict[str, list[dict]] = {}
    for sc in kept:
        for qk in scene_quadkeys(sc, quadkey_zoom):
            tiles_map.setdefault(qk, []).append(sc)
    out_tiles: dict[str, list[str]] = {}
    for qk, scs in tiles_map.items():
        scs = sorted(scs, key=lambda s: rank_key(s, preference, closest_date))
        if optimized_selection:
            seen = set()
            dedup = []
            for s in scs:
                prkey = (s["path"], s["row"])
                if prkey in seen:
                    continue
                seen.add(prkey)
                dedup.append(s)
            scs = dedup
        if max_assets_per_tile is not None:
            scs = scs[:max_assets_per_tile]
        out_tiles[qk] = [s["image_id"] for s in scs]
    used_ids = {a for assets in out_tiles.values() for a in assets}
    used = [s for s in kept if s["image_id"] in used_ids]
    if used:
        # a crossing scene (wrapped bbox, min_lon > max_lon) spans both
        # sides of ±180 → contributes the full lon interval (the exact
        # twin of the bbox fields of ops._sel_struct)
        bounds = [
            min(
                -180.0 if s["min_lon"] > s["max_lon"] else s["min_lon"]
                for s in used
            ),
            min(s["min_lat"] for s in used),
            max(
                180.0 if s["min_lon"] > s["max_lon"] else s["max_lon"]
                for s in used
            ),
            max(s["max_lat"] for s in used),
        ]
    else:
        bounds = [-180.0, -90.0, 180.0, 90.0]
    doc = {
        "mosaicjson": "0.0.2",
        "name": "mosaic",
        "description": None,
        "version": "1.0.0",
        "attribution": None,
        "minzoom": minzoom,
        "maxzoom": maxzoom,
        "quadkey_zoom": quadkey_zoom,
        "bounds": bounds,
        "center": [
            (bounds[0] + bounds[2]) / 2,
            (bounds[1] + bounds[3]) / 2,
            minzoom,
        ],
        "tiles": {qk: out_tiles[qk] for qk in sorted(out_tiles)},
    }
    return doc


def assets_for_tile(doc: dict, tx: int, ty: int, z: int) -> list[str]:
    """Tile read over a mosaicJSON dict (cogeo-mosaic's get_assets
    contract): a tile at z >= quadkey_zoom reads its ANCESTOR quadkey;
    one at z < quadkey_zoom unions its DESCENDANT quadkeys in quadkey
    order, keeping each asset's first appearance."""
    if not (0 <= tx < 2**z and 0 <= ty < 2**z):
        raise ValueError(f"tile ({tx}, {ty}) is outside the zoom-{z} grid")
    qz = doc["quadkey_zoom"]
    if z >= qz:
        return list(doc["tiles"].get(quadkey(tx >> (z - qz), ty >> (z - qz), qz), []))
    prefix = quadkey(tx, ty, z)
    out: list[str] = []
    for qk in sorted(k for k in doc["tiles"] if k.startswith(prefix)):
        out.extend(a for a in doc["tiles"][qk] if a not in out)
    return out


def canonical_json(doc: dict) -> str:
    """The single serializer both oracle and engine use (SURVEY.md §7.3)."""
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


# ------------------------------------------------- multimodal scalar oracles
# (r4) Pure-stdlib scalar recomputations of the multimodal kernels —
# no numpy, no mosaic_engine imports — so the driver's hash comparison
# of the multimodal lanes checks the engine against genuinely
# independent code. Bit-exactness is provable, not hoped-for: every
# discretizing step is integer math (luma, block means, phash
# thresholds), and the float steps (rms, zcr) operate on values that
# are exact in float64 (k²·2⁻³⁰ with Σk² < 2⁵³), so summation order
# cannot perturb them (see test_imageops.py's equivalence sweep).


def phash64_scalar(px: list) -> int:
    """Scalar twin of imageops.phash64: integer Rec.601 luma → 8x8
    integer block means → threshold at the integer mean → signed i64."""
    h, w = len(px), len(px[0])
    g = [
        [(299 * p[0] + 587 * p[1] + 114 * p[2]) // 1000 for p in row]
        for row in px
    ]
    ye = [(i * h) // 8 for i in range(9)]
    xe = [(j * w) // 8 for j in range(9)]
    blocks = []
    for i in range(8):
        for j in range(8):
            tot = 0
            for y in range(ye[i], ye[i + 1]):
                row = g[y]
                for x in range(xe[j], xe[j + 1]):
                    tot += row[x]
            area = (ye[i + 1] - ye[i]) * (xe[j + 1] - xe[j])
            blocks.append(tot // max(area, 1))
    mean = sum(blocks) // 64
    val = 0
    for k, b in enumerate(blocks):
        if b > mean:
            val |= 1 << k
    return val - (1 << 64) if val >= (1 << 63) else val


def _png_unfilter_scalar(raw: bytes, h: int, stride: int, bpp: int) -> list:
    """Scalar PNG filter reconstruction (types 0-4)."""
    out: list[list[int]] = []
    pos = 0
    for y in range(h):
        ft = raw[pos]
        line = list(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        prev = out[y - 1] if y else [0] * stride
        rec = [0] * stride
        for x in range(stride):
            a = rec[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            v = line[x]
            if ft == 0:
                r = v
            elif ft == 1:
                r = v + a
            elif ft == 2:
                r = v + b
            elif ft == 3:
                r = v + (a + b) // 2
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                r = v + pred
            else:
                raise ValueError(f"png filter {ft} invalid")
            rec[x] = r & 0xFF
        out.append(rec)
    return out


def decode_image_scalar(data: bytes, w: int, h: int, fmt: str) -> list:
    """Scalar twin of imageops.decode_image → rows of [r, g, b]."""
    import struct
    import zlib

    if fmt == "raw":
        if len(data) != h * w * 3:
            raise ValueError("raw size mismatch")
        return [
            [list(data[(y * w + x) * 3 : (y * w + x) * 3 + 3]) for x in range(w)]
            for y in range(h)
        ]
    if fmt == "ppm":
        if not data.startswith(b"P6"):
            raise ValueError("not a P6 ppm")
        idx, fields = 2, []
        while len(fields) < 3:
            while idx < len(data) and data[idx : idx + 1].isspace():
                idx += 1
            if data[idx : idx + 1] == b"#":
                idx = data.index(b"\n", idx) + 1
                continue
            start = idx
            while idx < len(data) and not data[idx : idx + 1].isspace():
                idx += 1
            fields.append(int(data[start:idx]))
        idx += 1
        pw, ph, maxval = fields
        if (pw, ph) != (w, h) or maxval != 255:
            raise ValueError("ppm header mismatch")
        body = data[idx:]
        if len(body) != h * w * 3:
            raise ValueError("ppm raster size mismatch")
        return [
            [list(body[(y * w + x) * 3 : (y * w + x) * 3 + 3]) for x in range(w)]
            for y in range(h)
        ]
    if fmt == "png":
        sig = b"\x89PNG\r\n\x1a\n"
        if not data.startswith(sig):
            raise ValueError("not a png")
        idx, idat = len(sig), b""
        width = height = bitdepth = colortype = None
        while idx < len(data):
            (length,) = struct.unpack(">I", data[idx : idx + 4])
            tag = data[idx + 4 : idx + 8]
            payload = data[idx + 8 : idx + 8 + length]
            idx += 12 + length
            if tag == b"IHDR":
                width, height, bitdepth, colortype = struct.unpack(
                    ">IIBB", payload[:10]
                )
            elif tag == b"IDAT":
                idat += payload
            elif tag == b"IEND":
                break
        if bitdepth != 8 or colortype not in (0, 2, 6):
            raise NotImplementedError("png bitdepth/colortype unsupported")
        channels = {0: 1, 2: 3, 6: 4}[colortype]
        stride = width * channels
        raw = zlib.decompress(idat)
        if len(raw) != height * (1 + stride):
            raise ValueError("png raster size mismatch")
        rec = _png_unfilter_scalar(raw, height, stride, channels)
        if (width, height) != (w, h):
            raise ValueError("png header mismatch")
        out = []
        for y in range(height):
            row = []
            for x in range(width):
                if channels == 1:
                    v = rec[y][x]
                    row.append([v, v, v])
                else:
                    row.append(rec[y][x * channels : x * channels + 3])
            out.append(row)
        return out
    raise NotImplementedError(f"codec not available: {fmt}")


def image_invariants_scalar(rec: dict) -> tuple:
    """Scalar twin of udfs.image_invariants for one scene row →
    (decode_ok, phash_match, caption_ok). Lossless codecs mean the
    re-encode round-trip can only fail if the decode itself does."""
    try:
        px = decode_image_scalar(
            rec["bytes"], int(rec["w"]), int(rec["h"]), rec["fmt"]
        )
        ok = True
        ph = phash64_scalar(px)
        pv = rec["phash"]
        phm = pv is not None and ph == int(pv)
    except Exception:
        ok, phm = False, False
    cap, iid = rec.get("caption"), rec.get("image_id")
    cap_ok = iid is not None and cap is not None and iid in cap
    return ok, phm, cap_ok


def video_frames_scalar(rec: dict, every_n: int) -> list:
    """Scalar twin of udfs.video_frame_features for one video row →
    [(frame_idx, frame_phash, decode_ok), ...] (sentinel row on
    undecodable payloads, matching the lane's no-silent-drop rule)."""
    import struct

    every_n = max(int(every_n), 1)
    data, fmt = rec["bytes"], rec["fmt"]
    try:
        if fmt != "rawv":
            raise NotImplementedError(f"video codec {fmt}")
        b = bytes(data)
        if b[:4] != b"RAWV" or len(b) < 16:
            raise ValueError("corrupt rawv")
        n, h, w = struct.unpack(">III", b[4:16])
        if n == 0 or h == 0 or w == 0 or len(b) < 16 + n * h * w * 3:
            # zero-dim guard mirrors imageops.sample_video_frames (r5
            # review: h=0 with n>0 previously escaped the except as an
            # IndexError in phash64_scalar instead of the sentinel)
            raise ValueError("corrupt rawv")
    except (NotImplementedError, ValueError, struct.error):
        return [(-1, 0, False)]
    rows = []
    fsize = h * w * 3
    for j, fi in enumerate(range(0, n, every_n)):
        off = 16 + fi * fsize
        frame = [
            [
                list(b[off + (y * w + x) * 3 : off + (y * w + x) * 3 + 3])
                for x in range(w)
            ]
            for y in range(h)
        ]
        rows.append((j * every_n, phash64_scalar(frame), True))
    return rows


def audio_features_scalar(rec: dict) -> tuple:
    """Scalar twin of udfs.audio_track_features for one audio row →
    (rate, n_samples, rms, zcr, decode_ok). Decodes via the stdlib
    `wave` module (an independent RIFF parser); rms/zcr recomputed
    from the raw int16 samples with exact-integer accumulation:
    rms = sqrt((Σk²·2⁻³⁰)/n) with Σk² < 2⁵³ — every float64 step
    exact, so it equals the engine's vectorized result bit-for-bit."""
    import io
    import struct
    import wave

    data, fmt = rec["bytes"], rec["fmt"]
    try:
        if fmt != "wav":
            raise NotImplementedError(f"audio codec {fmt}")
        with wave.open(io.BytesIO(bytes(data))) as wf:
            if wf.getsampwidth() != 2 or wf.getnchannels() != 1:
                raise NotImplementedError("only mono PCM16 in the oracle")
            rate = wf.getframerate()
            n = wf.getnframes()
            k = struct.unpack(f"<{n}h", wf.readframes(n))
    except (NotImplementedError, ValueError, struct.error, EOFError, wave.Error):
        return 0, 0, 0.0, 0.0, False
    sum_k2 = sum(v * v for v in k)
    rms = math.sqrt((sum_k2 / 2.0**30) / n) if n else 0.0
    zc = sum(1 for i in range(n - 1) if (k[i] < 0) != (k[i + 1] < 0))
    zcr = zc / (n - 1) if n > 1 else 0.0
    return int(rate), int(n), rms, zcr, True
