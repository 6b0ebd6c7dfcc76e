"""Image payload codecs + metrics — pure numpy/stdlib, no Spark, no PIL.

The north rule ([BASELINE.json:16] input_hint) adds binary image payloads
to every scene row; this module provides the decode / PSNR / perceptual-
hash kernels the engine binds as Arrow UDFs. Codecs: 'raw' (C-order
uint8 RGB), 'ppm' (binary P6), 'png' (true PNG via stdlib zlib — encode
writes filter-0 rows; decode implements all five PNG row filters for
8-bit RGB/RGBA/gray).

Heavier codecs (JPEG etc.) are intentionally NOT implemented — the
sandbox has no image libraries (SURVEY.md §0). `decode_image` raises
NotImplementedError for unknown fmts; the Spark plumbing (schema,
batching, UDF signatures) is identical for any codec.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "encode_image",
    "decode_image",
    "psnr_db",
    "phash64",
    "gray_u8",
]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w, 3) uint8 array as raw | ppm | png bytes."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = pixels.shape[0], pixels.shape[1]
    if fmt == "raw":
        return pixels.tobytes()
    if fmt == "ppm":
        return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()
    if fmt == "png":
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
        rows = np.concatenate(
            [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)],
            axis=1,
        )  # filter type 0 per row
        idat = zlib.compress(rows.tobytes(), 6)
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b"")
        )
    raise NotImplementedError(f"codec not available in this build: {fmt}")


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG row filters. raw shape (h, 1+stride); returns (h, stride)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for r in range(h):  # rows depend on previous row — inherently sequential
        ft = raw[r, 0]
        line = raw[r, 1:].astype(np.int32)
        prev = out[r - 1].astype(np.int32) if r > 0 else np.zeros(stride, np.int32)
        if ft == 0:
            cur = line
        elif ft == 1:  # Sub
            cur = line.copy()
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 3:  # Average
            cur = line.copy()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            cur = line.copy()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = cur.astype(np.uint8)
    return out


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode payload bytes to an (h, w, 3) uint8 RGB array."""
    if fmt == "raw":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "ppm":
        # P6\n<w> <h>\n<maxval>\n<raster>
        if not data.startswith(b"P6"):
            raise ValueError("not a P6 ppm")
        idx, fields = 2, []
        while len(fields) < 3:
            while idx < len(data) and data[idx : idx + 1].isspace():
                idx += 1
            if data[idx : idx + 1] == b"#":  # comment line
                idx = data.index(b"\n", idx) + 1
                continue
            start = idx
            while idx < len(data) and not data[idx : idx + 1].isspace():
                idx += 1
            fields.append(int(data[start:idx]))
        idx += 1  # single whitespace after maxval
        pw, ph, maxval = fields
        if (pw, ph) != (w, h) or maxval != 255:
            raise ValueError(f"ppm header mismatch: {fields} vs ({w},{h},255)")
        return np.frombuffer(data, dtype=np.uint8, offset=idx).reshape(h, w, 3)
    if fmt == "png":
        if not data.startswith(_PNG_SIG):
            raise ValueError("not a png")
        idx = len(_PNG_SIG)
        idat = b""
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
                # compression / filter-method / interlace bytes: only
                # 0/0/0 is implemented — an Adam7-interlaced stream
                # would otherwise die in an opaque reshape error
                # instead of the codec-unsupported path (r4 review)
                if payload[10:13] != b"\x00\x00\x00":
                    raise NotImplementedError(
                        "png compression/filter/interlace "
                        f"{tuple(payload[10:13])} unsupported"
                    )
            elif tag == b"IDAT":
                idat += payload
            elif tag == b"IEND":
                break
        if bitdepth != 8 or colortype not in (0, 2, 6):
            raise NotImplementedError(
                f"png bitdepth/colortype {bitdepth}/{colortype} unsupported"
            )
        channels = {0: 1, 2: 3, 6: 4}[colortype]
        stride = width * channels
        raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(
            height, 1 + stride
        )
        px = _png_unfilter(raw, height, stride, channels).reshape(
            height, width, channels
        )
        if channels == 1:
            px = np.repeat(px, 3, axis=2)
        elif channels == 4:
            px = px[:, :, :3]
        if (width, height) != (w, h):
            raise ValueError("png header mismatch")
        return px
    raise NotImplementedError(f"codec not available in this build: {fmt}")


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR between two uint8 images; inf when identical."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def gray_u8(pixels: np.ndarray) -> np.ndarray:
    """Integer Rec.601-ish luma — deterministic across platforms."""
    p = pixels.astype(np.uint32)
    return (
        (299 * p[..., 0] + 587 * p[..., 1] + 114 * p[..., 2]) // 1000
    ).astype(np.uint8)


def phash64(pixels: np.ndarray) -> int:
    """8x8 average-hash of the grayscale image → signed int64.

    Box-downsample to 8x8 via integer block means over an evenly
    partitioned grid (exact for w,h multiples of 8; boundary-partition
    otherwise) then threshold at the mean. Deterministic integer math.
    """
    g = gray_u8(pixels).astype(np.uint64)
    h, w = g.shape
    ye = (np.arange(9) * h) // 8
    xe = (np.arange(9) * w) // 8
    cs = np.zeros((h + 1, w + 1), dtype=np.uint64)
    cs[1:, 1:] = g.cumsum(0).cumsum(1)
    blocks = np.empty((8, 8), dtype=np.uint64)
    for i in range(8):
        for j in range(8):
            # grouped so no intermediate goes negative (uint64 math)
            tot = (cs[ye[i + 1], xe[j + 1]] + cs[ye[i], xe[j]]) - (
                cs[ye[i], xe[j + 1]] + cs[ye[i + 1], xe[j]]
            )
            area = (ye[i + 1] - ye[i]) * (xe[j + 1] - xe[j])
            blocks[i, j] = tot // max(area, 1)
    mean = blocks.sum() // 64
    bits = (blocks > mean).ravel()
    val = np.uint64(0)
    for k in range(64):
        if bits[k]:
            val |= np.uint64(1) << np.uint64(k)
    return int(val.astype(np.int64))


def resize_block_mean(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic box-downsample via integer block means (the phash
    grid generalized to any target size). Upsampling uses nearest."""
    h, w = pixels.shape[0], pixels.shape[1]
    ye = (np.arange(out_h + 1) * h) // out_h
    xe = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w, 3), dtype=np.uint8)
    if out_h <= h and out_w <= w:
        cs = np.zeros((h + 1, w + 1, 3), dtype=np.uint64)
        cs[1:, 1:] = pixels.astype(np.uint64).cumsum(0).cumsum(1)
        for i in range(out_h):
            for j in range(out_w):
                tot = (cs[ye[i + 1], xe[j + 1]] + cs[ye[i], xe[j]]) - (
                    cs[ye[i], xe[j + 1]] + cs[ye[i + 1], xe[j]]
                )
                area = (ye[i + 1] - ye[i]) * (xe[j + 1] - xe[j])
                out[i, j] = (tot // max(area, 1)).astype(np.uint8)
        return out
    yi = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    xi = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return pixels[np.ix_(yi, xi)]


def image_features(pixels: np.ndarray) -> np.ndarray:
    """Compact deterministic feature vector (len 14): per-channel mean +
    std, grayscale 8-bin histogram (normalized). float32."""
    p = pixels.astype(np.float64)
    mean = p.mean(axis=(0, 1))
    std = p.std(axis=(0, 1))
    g = gray_u8(pixels)
    hist = np.bincount((g >> 5).ravel(), minlength=8).astype(np.float64)
    hist /= max(g.size, 1)
    return np.concatenate([mean, std, hist]).astype(np.float32)


RAWV_MAGIC = b"RAWV"


def encode_video_rawv(frames: np.ndarray) -> bytes:
    """(n, h, w, 3) uint8 frames → deterministic uncompressed container:
    magic 'RAWV' + (n, h, w) uint32 BE + C-order frame data. The
    sandbox's stand-in for a video payload (no ffmpeg — SURVEY.md §0);
    the Spark lane's schema/batching is codec-agnostic."""
    frames = np.ascontiguousarray(frames, dtype=np.uint8)
    if frames.ndim != 4 or frames.shape[3] != 3 or frames.shape[0] == 0:
        raise ValueError(
            f"expected nonempty (n, h, w, 3) uint8, got {frames.shape}"
        )
    n, h, w = frames.shape[:3]
    return RAWV_MAGIC + struct.pack(">III", n, h, w) + frames.tobytes()


def sample_video_frames(
    data: bytes, fmt: str, every_n: int = 1
) -> list[np.ndarray]:
    """Demux + frame-sample a video payload: frames [0, every_n, 2·every_n…]
    as (h, w, 3) uint8 arrays.

    'rawv' (the container above) demuxes for real — header parse + one
    zero-copy reshape. Compressed containers (mp4/webm/…) raise
    NotImplementedError: no demuxer libs exist in this sandbox
    (SURVEY.md §0); plug one in here and the Spark lane is unchanged."""
    if fmt == "rawv":
        if bytes(data[:4]) != RAWV_MAGIC or len(data) < 16:
            raise ValueError("corrupt rawv payload (bad magic/header)")
        n, h, w = struct.unpack(">III", bytes(data[4:16]))
        if n == 0 or h == 0 or w == 0:
            # the encoder refuses empty frame stacks and zero-sized
            # frames, so a zero-dim container is corrupt — raising
            # (instead of returning [] or degenerate (0, w, 3) frames
            # that the phash kernel crashes on) keeps the Spark lane's
            # no-silent-drop sentinel contract (r5 review: h=0 frames
            # previously came back decode_ok=true while the scalar
            # oracle crashed on them)
            raise ValueError("corrupt rawv payload (zero-dim frames)")
        need = n * h * w * 3
        if len(data) < 16 + need:
            raise ValueError("corrupt rawv payload (truncated frames)")
        arr = np.frombuffer(data, np.uint8, count=need, offset=16).reshape(
            n, h, w, 3
        )
        step = max(int(every_n), 1)
        return [arr[i] for i in range(0, n, step)]
    raise NotImplementedError(
        f"video codec {fmt!r} unavailable in this build; plug a demuxer "
        "into sample_video_frames()"
    )


def encode_wav_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """Mono PCM16 RIFF/WAVE bytes from float samples in [-1, 1] (or
    int16 passed through). Pure stdlib struct — WAV PCM needs no codec
    library."""
    s = np.asarray(samples)
    if s.dtype != np.int16:
        s = np.round(np.clip(s.astype(np.float64), -1.0, 1.0) * 32767.0)
        s = s.astype(np.int16)
    body = s.tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )


def decode_audio(data: bytes, fmt: str) -> tuple[np.ndarray, int]:
    """Decode an audio payload → (float32 samples in [-1, 1] shaped
    (n,) mono / (n, c) multichannel, sample_rate).

    'wav' parses the RIFF/PCM16 container for real (chunk walk: fmt +
    data; PCM16 only — that IS the uncompressed format, no codec lib
    needed). Compressed audio (mp3/ogg/flac/…) raises
    NotImplementedError per SURVEY.md §0; the Spark lane is unchanged
    when a decoder is plugged in."""
    if fmt == "wav":
        b = bytes(data)
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("corrupt wav payload (bad RIFF header)")
        pos, rate, channels, bits = 12, None, None, None
        body = None
        while pos + 8 <= len(b):
            tag = b[pos:pos + 4]
            size = struct.unpack("<I", b[pos + 4:pos + 8])[0]
            chunk = b[pos + 8:pos + 8 + size]
            if len(chunk) < size:
                # declared size runs past the payload — corrupt, never
                # silently truncate (mirrors rawv's 'truncated frames')
                raise ValueError(
                    f"corrupt wav payload (truncated {tag!r} chunk)"
                )
            if tag == b"fmt ":
                if size < 16:
                    raise ValueError("corrupt wav payload (short fmt chunk)")
                codec, channels, rate = struct.unpack("<HHI", chunk[:8])
                bits = struct.unpack("<H", chunk[14:16])[0]
                if codec != 1 or bits != 16:
                    raise NotImplementedError(
                        f"wav codec={codec} bits={bits}: only PCM16 is "
                        "implemented in this build"
                    )
                if not 0 < rate <= 2**31 - 1:
                    # header fields are untrusted input: an absurd
                    # uint32 rate must not wrap an int32 downstream
                    raise ValueError(f"corrupt wav payload (rate={rate})")
            elif tag == b"data":
                body = chunk
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if rate is None or body is None:
            raise ValueError("corrupt wav payload (missing fmt/data chunk)")
        s = np.frombuffer(body, dtype="<i2").astype(np.float32) / 32768.0
        if channels and channels > 1:
            s = s[: (len(s) // channels) * channels].reshape(-1, channels)
        return s, int(rate)
    raise NotImplementedError(
        f"audio codec {fmt!r} unavailable in this build; plug a decoder "
        "into decode_audio()"
    )


AUDIO_BANDS = 4


def audio_features(samples: np.ndarray, rate: int) -> dict:
    """Deterministic audio descriptors (numpy only): duration, RMS,
    zero-crossing rate, and AUDIO_BANDS equal-width spectral band
    energies (normalized magnitude via rfft)."""
    s = np.asarray(samples, dtype=np.float64)
    if s.ndim == 2:
        s = s.mean(axis=1)  # downmix
    n = len(s)
    dur = n / float(rate) if rate else 0.0
    rms = float(np.sqrt(np.mean(s * s))) if n else 0.0
    zc = float(np.mean(np.signbit(s[1:]) != np.signbit(s[:-1]))) if n > 1 else 0.0
    if n:
        mag = np.abs(np.fft.rfft(s))
        total = mag.sum()
        bands = [
            float(chunk.sum() / total) if total > 0 else 0.0
            for chunk in np.array_split(mag, AUDIO_BANDS)
        ]
    else:
        bands = [0.0] * AUDIO_BANDS
    return {
        "duration_s": dur,
        "rms": rms,
        "zcr": zc,
        "band_energy": bands,
    }
