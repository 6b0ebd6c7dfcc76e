"""Codec round-trips, PSNR, phash determinism."""

from __future__ import annotations

import numpy as np
import pytest

from mosaic_engine import imageops as im


def _img(seed=0, w=32, h=32):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype(np.uint8)


@pytest.mark.parametrize("fmt", ["raw", "ppm", "png"])
@pytest.mark.parametrize("shape", [(32, 32), (64, 48), (7, 13)])
def test_roundtrip_exact(fmt, shape):
    h, w = shape
    px = _img(1, w, h)
    data = im.encode_image(px, fmt)
    out = im.decode_image(data, w, h, fmt)
    assert (out == px).all()
    assert im.psnr_db(px, out) == float("inf")


def test_png_all_filter_types_decode():
    # build a PNG using each filter type per row and check decode
    import struct
    import zlib

    rng = np.random.default_rng(3)
    h, w = 10, 16
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype(np.uint8)
    raw_rows = px.reshape(h, w * 3).astype(np.int32)
    enc_rows = []
    for r in range(h):
        ft = r % 5
        line = raw_rows[r]
        prev = raw_rows[r - 1] if r > 0 else np.zeros(w * 3, np.int32)
        if ft == 0:
            out = line.copy()
        elif ft == 1:
            out = line.copy()
            out[3:] = (line[3:] - line[:-3]) & 0xFF
        elif ft == 2:
            out = (line - prev) & 0xFF
        elif ft == 3:
            out = line.copy()
            for i in range(w * 3):
                a = line[i - 3] if i >= 3 else 0
                out[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        else:
            out = line.copy()
            for i in range(w * 3):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + b - c
                pa_, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa_ <= pb and pa_ <= pc) else (b if pb <= pc else c)
                out[i] = (line[i] - pr) & 0xFF
        enc_rows.append(np.concatenate([[ft], out]).astype(np.uint8))
    body = zlib.compress(np.concatenate(enc_rows).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + im._png_chunk(b"IHDR", ihdr)
        + im._png_chunk(b"IDAT", body)
        + im._png_chunk(b"IEND", b"")
    )
    out = im.decode_image(png, w, h, "png")
    assert (out == px).all()


def test_psnr_threshold():
    px = _img(2, 64, 64)
    noisy = px.astype(np.int32) + 1  # tiny perturbation → very high PSNR
    noisy = np.clip(noisy, 0, 255).astype(np.uint8)
    assert im.psnr_db(px, noisy) > 40.0
    heavy = np.clip(px.astype(np.int32) + 80, 0, 255).astype(np.uint8)
    assert im.psnr_db(px, heavy) < 40.0


def _hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_phash_deterministic_and_robust():
    px = _img(4, 64, 64)
    h1 = im.phash64(px)
    h2 = im.phash64(px.copy())
    assert h1 == h2
    assert isinstance(h1, int)
    assert -(2**63) <= h1 < 2**63
    # mild noise keeps hash close; inversion flips it far
    noisy = np.clip(px.astype(np.int32) + 4, 0, 255).astype(np.uint8)
    assert _hamming64(h1, im.phash64(noisy)) <= 12
    assert _hamming64(h1, im.phash64(255 - px)) >= 32


def test_unknown_codec_is_explicit():
    with pytest.raises(NotImplementedError):
        im.encode_image(_img(), "jpeg")
    with pytest.raises(NotImplementedError):
        im.decode_image(b"\xff\xd8", 1, 1, "jpeg")


def test_datagen_payload_invariants():
    """FIXTURES.md §1: engine recomputes phash; decode matches encode."""
    from mosaic_engine import datagen

    t = datagen.gen_scenes(n_scenes=40, paths=4, rows=4, seed=42)
    d = t.to_pydict()
    for i in range(t.num_rows):
        px = im.decode_image(d["bytes"][i], d["w"][i], d["h"][i], d["fmt"][i])
        assert px.shape == (d["h"][i], d["w"][i], 3)
        assert im.phash64(px) == d["phash"][i]
        assert d["image_id"][i] in d["caption"][i]


def test_datagen_deterministic():
    from mosaic_engine import datagen

    a = datagen.gen_scenes(n_scenes=60, seed=42)
    b = datagen.gen_scenes(n_scenes=60, seed=42)
    assert a.equals(b)
    c = datagen.gen_scenes(n_scenes=60, seed=43)
    assert not a.equals(c)


def test_video_rawv_roundtrip_and_sampling():
    """encode_video_rawv → sample_video_frames demuxes bit-exactly and
    samples exactly frames [0, every_n, ...]."""
    import numpy as np

    from mosaic_engine import imageops as im

    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, (7, 10, 12, 3), dtype=np.uint8)
    blob = im.encode_video_rawv(frames)
    got = im.sample_video_frames(blob, "rawv", 3)
    assert len(got) == 3  # frames 0, 3, 6
    for j, idx in enumerate((0, 3, 6)):
        assert (got[j] == frames[idx]).all()
    # every_n=1 returns all frames
    assert len(im.sample_video_frames(blob, "rawv", 1)) == 7


def test_wav_pcm16_roundtrip_and_features():
    """encode_wav_pcm16 → decode_audio recovers samples to PCM16
    quantization; audio_features are deterministic and sane for a pure
    tone (energy concentrated in the tone's band, zcr ≈ 2f/rate)."""
    import numpy as np

    from mosaic_engine import imageops as im

    rate = 8000
    t = np.arange(rate // 2) / rate  # 0.5 s
    sig = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    s, r = im.decode_audio(im.encode_wav_pcm16(sig, rate), "wav")
    assert r == rate and s.dtype == np.float32
    assert np.abs(s - sig).max() < 1.0 / 32768.0 + 1e-7
    f = im.audio_features(s, r)
    assert f["duration_s"] == pytest.approx(0.5)
    assert f["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=1e-3)
    assert f["zcr"] == pytest.approx(2 * 440.0 / rate, rel=0.02)
    # 440 Hz < nyquist/4 → all spectral mass in band 0
    assert f["band_energy"][0] > 0.95
    # stereo downmix path
    st = np.stack([sig, -sig], axis=1)
    f2 = im.audio_features(st, rate)
    assert f2["rms"] == pytest.approx(0.0, abs=1e-6)  # cancels


def test_video_audio_spark_lanes(spark, tmp_path):
    """End-to-end multimodal lanes over parquet: schema, fan-out shape,
    per-frame values vs scalar recompute, stub rows marked not dropped."""
    import os

    import numpy as np

    from mosaic_engine import datagen, imageops as im, udfs

    vids = datagen.gen_videos(n=10, n_frames=6, h=8, w=10, seed=7)
    auds = datagen.gen_audio(n=12, seed=7)
    vp = os.path.join(str(tmp_path), "videos.parquet")
    ap = os.path.join(str(tmp_path), "audio.parquet")
    datagen.write_parquet(vids, vp)
    datagen.write_parquet(auds, ap)

    vdf = udfs.video_frame_features(spark.read.parquet(vp), every_n=2)
    rows = vdf.collect()
    assert vdf.schema == udfs.VIDEO_FRAME_SCHEMA
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["video_id"], []).append(r)
    src = {r["video_id"]: r for r in spark.read.parquet(vp).collect()}
    for vid, rs in by_vid.items():
        if src[vid]["fmt"] != "rawv":
            assert len(rs) == 1 and not rs[0]["decode_ok"]
            continue
        assert sorted(r["frame_idx"] for r in rs) == [0, 2, 4]
        # recompute one frame's features scalar-side
        frames = im.sample_video_frames(src[vid]["bytes"], "rawv", 2)
        r0 = min(rs, key=lambda r: r["frame_idx"])
        assert r0["frame_phash"] == im.phash64(frames[0])
        exp = im.image_features(frames[0])
        assert np.allclose(np.array(r0["features"], np.float32), exp)

    adf = udfs.audio_track_features(spark.read.parquet(ap))
    arows = {r["audio_id"]: r for r in adf.collect()}
    assert adf.schema == udfs.AUDIO_FEATURES_SCHEMA
    asrc = {r["audio_id"]: r for r in spark.read.parquet(ap).collect()}
    assert set(arows) == set(asrc)  # nothing dropped
    for aid, r in arows.items():
        if asrc[aid]["fmt"] != "wav":
            assert not r["decode_ok"]
            continue
        assert r["decode_ok"] and r["rate"] == asrc[aid]["rate"]
        s, rate = im.decode_audio(asrc[aid]["bytes"], "wav")
        f = im.audio_features(s, rate)
        assert r["rms"] == pytest.approx(f["rms"], rel=1e-12)
        assert r["duration_s"] == pytest.approx(f["duration_s"])
        assert np.allclose(
            np.array(r["band_energy"], np.float32),
            np.array(f["band_energy"], np.float32),
        )


def test_wav_and_rawv_corrupt_payloads_raise_valueerror():
    """Untrusted-payload hardening: truncated chunks, short fmt, absurd
    rate, zero-frame container — all ValueError (never struct.error or
    a silent truncated decode), so the Spark lanes' sentinel path
    catches them."""
    import struct

    from mosaic_engine import imageops as im

    # truncated fmt chunk (valid RIFF/WAVE header)
    bad_fmt = (b"RIFF" + struct.pack("<I", 20) + b"WAVE"
               + b"fmt " + struct.pack("<I", 16) + b"\x00" * 4)
    with pytest.raises(ValueError):
        im.decode_audio(bad_fmt, "wav")
    # data chunk declaring more bytes than present
    good = im.encode_wav_pcm16(np.zeros(100), 8000)
    truncated = good[:-50]
    with pytest.raises(ValueError):
        im.decode_audio(truncated, "wav")
    # absurd uint32 rate in the header
    crazy = bytearray(im.encode_wav_pcm16(np.zeros(10), 8000))
    crazy[24:28] = struct.pack("<I", 2**31 + 5)
    with pytest.raises(ValueError):
        im.decode_audio(bytes(crazy), "wav")
    # zero-frame rawv container (encoder refuses; demux flags corrupt)
    with pytest.raises(ValueError):
        im.encode_video_rawv(np.zeros((0, 2, 2, 3), np.uint8))
    zero = im.RAWV_MAGIC + struct.pack(">III", 0, 2, 2)
    with pytest.raises(ValueError):
        im.sample_video_frames(zero, "rawv", 1)


def test_video_lane_every_n_clamped(spark, tmp_path):
    """every_n <= 0 must behave as 1 with consistent frame_idx labels
    (the clamp lives at the lane level, not just in the demuxer)."""
    import os

    from mosaic_engine import datagen, udfs

    vids = datagen.gen_videos(n=4, n_frames=3, h=4, w=4, seed=3)
    p = os.path.join(str(tmp_path), "v.parquet")
    datagen.write_parquet(vids, p)
    out = udfs.video_frame_features(spark.read.parquet(p), every_n=0)
    for r in out.collect():
        if r["decode_ok"]:
            assert r["frame_idx"] in (0, 1, 2)


def test_scalar_oracles_match_engine_kernels():
    """(r4) The pure-stdlib scalar oracles in tests/oracle.py —
    independent decode + integer phash + exact-integer rms/zcr — agree
    with the engine kernels EXACTLY (== on ints and floats, no approx)
    across every fixture asset class. This is the equivalence proof
    behind the driver-facing multimodal oracles."""
    from mosaic_engine import datagen
    from tests import oracle as orc

    t = datagen.gen_scenes(n_scenes=60, paths=4, rows=4, seed=42)
    n_img = 0
    for rec in t.to_pylist():
        px = im.decode_image(rec["bytes"], rec["w"], rec["h"], rec["fmt"])
        assert orc.decode_image_scalar(
            rec["bytes"], rec["w"], rec["h"], rec["fmt"]
        ) == px.tolist()
        assert orc.phash64_scalar(px.tolist()) == im.phash64(px)
        ok, phm, cap = orc.image_invariants_scalar(rec)
        assert ok and phm and cap
        n_img += 1
    assert n_img >= 50

    vt = datagen.gen_videos(n=12, seed=42)
    saw_fail = saw_ok = False
    for rec in vt.to_pylist():
        rows = orc.video_frames_scalar(rec, 3)
        try:
            frames = im.sample_video_frames(rec["bytes"], rec["fmt"], 3)
            exp = [(j * 3, im.phash64(fr), True)
                   for j, fr in enumerate(frames)]
            saw_ok = True
        except (NotImplementedError, ValueError):
            exp = [(-1, 0, False)]
            saw_fail = True
        assert rows == exp
    assert saw_ok and saw_fail  # both lanes exercised

    at = datagen.gen_audio(n=16, seed=42)
    saw_fail = saw_ok = False
    for rec in at.to_pylist():
        got = orc.audio_features_scalar(rec)
        try:
            s, rate = im.decode_audio(rec["bytes"], rec["fmt"])
            f = im.audio_features(s, rate)
            assert got == (rate, len(s), f["rms"], f["zcr"], True)
            saw_ok = True
        except (NotImplementedError, ValueError):
            assert got == (0, 0, 0.0, 0.0, False)
            saw_fail = True
    assert saw_ok and saw_fail


def test_multimodal_lanes_survive_corrupt_and_null_payloads(spark):
    """(r5 review) Untrusted payloads — truncated PNG chunk headers,
    corrupt IDAT, NULL bytes, degenerate 0x0 dims — must surface as
    null-feature / decode_ok=false rows, never kill the stage."""
    import numpy as np
    from pyspark.sql import Row, types as T

    from mosaic_engine import imageops as im, udfs

    rgb = (np.arange(48, dtype=np.uint8).reshape(4, 4, 3) * 5) % 255
    good_png = im.encode_image(rgb, "png")
    bad_idat = bytearray(good_png)
    bad_idat[41] ^= 0xFF  # corrupt inside IDAT
    img_schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
    ])
    imgs = spark.createDataFrame(
        [
            ("ok", bytearray(good_png), 4, 4, "png"),
            ("trunc", bytearray(good_png[:35]), 4, 4, "png"),
            ("idat", bad_idat, 4, 4, "png"),
            ("null", None, 4, 4, "png"),
            ("zero", bytearray(b""), 0, 0, "raw"),
        ],
        img_schema,
    )
    rows = {r["image_id"]: r for r in udfs.image_features(imgs).collect()}
    assert set(rows) == {"ok", "trunc", "idat", "null", "zero"}
    assert rows["ok"]["features"] is not None
    for bad in ("trunc", "idat", "null", "zero"):
        assert rows[bad]["features"] is None, bad

    av_schema = T.StructType([
        T.StructField("video_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("fmt", T.StringType()),
    ])
    vids = spark.createDataFrame([("v_null", None, "rawv")], av_schema)
    vrows = udfs.video_frame_features(vids).collect()
    assert len(vrows) == 1 and vrows[0]["decode_ok"] is False

    au_schema = T.StructType([
        T.StructField("audio_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("fmt", T.StringType()),
    ])
    auds = spark.createDataFrame([("a_null", None, "wav")], au_schema)
    arows = udfs.audio_track_features(auds).collect()
    assert len(arows) == 1 and arows[0]["decode_ok"] is False
