"""Arrow-batched Spark bindings for the numpy kernels — zero per-row Python.

The reference's per-feature loop
([ref: landsat_cogeo_mosaic/mosaic.py#features_to_mosaicJSON]:
``for feature: for tile in mercantile.tiles(bounds): if prepared.intersects``)
becomes ONE fused mapInPandas stage here: bbox cover candidate
generation + exact polygon∩tile refinement + quadkey encoding, all
vectorized across an Arrow batch (SURVEY.md §2.3 G2∘G5∘G3). The grid is
computed, not stored, so the "spatial join" needs no shuffle at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells as cl
from . import geometry as geo
from . import imageops as im
from . import tilemath as tm

# the default scene columns carried through the fused explode — the ONE
# definition (mosaic.py re-exports it): the selection key's inputs plus
# the bbox the selection carries for the used-scene bounds
EXPLODE_PASSTHROUGH = [
    "image_id",
    "path",
    "row",
    "acquisition_date",
    "cloud_cover",
    "min_lon",
    "min_lat",
    "max_lon",
    "max_lat",
]

EXPLODE_GEOM_COLS = [
    "min_lon",
    "min_lat",
    "max_lon",
    "max_lat",
    "fp_xs",
    "fp_ys",
]


def _explode_flat(
    pdf: pd.DataFrame, zoom: int
) -> tuple[np.ndarray, np.ndarray]:
    """One Arrow batch of scenes → flat (scene_index, cell) pair arrays.

    The tile key is a PACKED INT64 cell id (cells.pack_cell), not a
    quadkey string: at z10 a 1M-scene batch set emits ~67M rows, and
    allocating that many Python string objects dominated the kernel
    (~40% wall). Strings appear only at bounded output edges
    (ops.cell_quadkey_sql over the aggregated tiles)."""
    n = len(pdf)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    min_lon = pdf["min_lon"].to_numpy(np.float64)
    min_lat = pdf["min_lat"].to_numpy(np.float64)
    max_lon = pdf["max_lon"].to_numpy(np.float64)
    max_lat = pdf["max_lat"].to_numpy(np.float64)

    # a bbox whose WEST edge itself lies at/past 180 (ring wholly east
    # of the antimeridian with a wrapped max) is NOT a crossing scene —
    # rotate it into plain [-180, 180) form, else the split below would
    # fabricate a degenerate western box that cover_ranges clamps into
    # the last tile column and an over-wide eastern box
    east_whole = min_lon >= 180.0
    min_lon = np.where(east_whole, min_lon - 360.0, min_lon)

    # antimeridian-crossing scenes (min_lon > max_lon, unwrapped ring —
    # datagen.py convention) contribute two boxes; eastern-half tile
    # boxes are tested shifted +360 so the unwrapped ring needs no copy
    # (wholly-east rotated scenes likewise test shifted +360).
    cross = min_lon > max_lon
    sidx = np.concatenate([np.arange(n), np.nonzero(cross)[0]])
    bw = np.concatenate([min_lon, np.full(cross.sum(), -180.0)])
    be = np.concatenate([np.where(cross, 180.0, max_lon), max_lon[cross]])
    bs = np.concatenate([min_lat, min_lat[cross]])
    bn = np.concatenate([max_lat, max_lat[cross]])
    shift = np.concatenate(
        [np.where(east_whole, 360.0, 0.0), np.full(cross.sum(), 360.0)]
    )

    x0, x1, y0, y1 = tm.cover_ranges(bw, bs, be, bn, zoom)
    nx = np.maximum(x1 - x0 + 1, 0)
    ny = np.maximum(y1 - y0 + 1, 0)
    counts = nx * ny
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    # flat candidate expansion: box b repeated counts[b] times
    box_of = np.repeat(np.arange(len(counts)), counts)
    offs = np.concatenate([[0], np.cumsum(counts)])[:-1]
    within = np.arange(total) - offs[box_of]
    tx = x0[box_of] + within // ny[box_of]
    ty = y0[box_of] + within % ny[box_of]
    scene_of = sidx[box_of]

    tb_w, tb_s, tb_e, tb_n = tm.tile_bounds(tx, ty, zoom)
    sh = shift[box_of]
    RX, RY, nv = geo.pad_rings(pdf["fp_xs"].to_numpy(), pdf["fp_ys"].to_numpy())
    keep = geo.polys_intersect_boxes(
        RX, RY, nv, scene_of, tb_w + sh, tb_s, tb_e + sh, tb_n
    )
    tx, ty, scene_of = tx[keep], ty[keep], scene_of[keep]

    return scene_of, cl.pack_cell(tx, ty, zoom)


def _explode_arrow_kernel(passthrough: list[str], zoom: int):
    """mapInArrow closure: scenes batch → one row per INPUT scene with
    a packed-cell ARRAY column (r7, guide §4.1). The previous kernel
    emitted one OUTPUT row per (scene, cell) pair with every
    passthrough column duplicated per pair — at the 1M-scene bench
    corpus that is 8M rows (~8× the input) serialized JVM→Python→JVM,
    and the boundary transfer was the mosaic lane's largest cost.
    Per-scene list rows keep the boundary at |scenes| rows with each
    passthrough value crossing ONCE; the pair expansion happens in the
    JVM as a codegen explode. The geometry columns are converted to
    pandas per batch (the kernels are numpy); passthrough columns are
    passed through as Arrow buffers untouched — no Python string
    materialization."""
    import pyarrow as pa

    def run(batches):
        for rb in batches:
            pdf = pa.Table.from_batches([rb]).select(
                EXPLODE_GEOM_COLS
            ).to_pandas()
            scene_of, cells = _explode_flat(pdf, zoom)
            order = np.argsort(scene_of, kind="stable")
            cnt = np.bincount(scene_of, minlength=len(pdf))
            offsets = np.concatenate(
                ([0], np.cumsum(cnt))
            ).astype(np.int32)
            lists = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(cells[order], pa.int64())
            )
            yield pa.record_batch(
                [rb.column(c) for c in passthrough] + [lists],
                names=passthrough + ["cells"],
            )

    return run


def explode_to_quadkeys(
    df: DataFrame,
    zoom: int,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Scenes → one row per (scene, intersecting quadkey) at `zoom`.

    Fused candidate-gen + exact-intersects + quadkey encode in a single
    Python-worker stage; narrow (no shuffle). Only `passthrough` columns
    survive, keeping the Arrow transfer minimal (column pruning across
    the Python boundary is manual — Catalyst prunes the scan for us).
    """
    if passthrough is None:
        passthrough = list(EXPLODE_PASSTHROUGH)
    in_cols = list(dict.fromkeys(passthrough + EXPLODE_GEOM_COLS))
    src = df.select(*in_cols)
    fields = [src.schema[c] for c in passthrough]
    arr_schema = T.StructType(
        fields + [T.StructField("cells", T.ArrayType(T.LongType()))]
    )
    arr = src.mapInArrow(
        _explode_arrow_kernel(passthrough, zoom), schema=arr_schema
    )
    # pair expansion in the JVM (codegen Generate — scenes covering no
    # tile carry an empty array and vanish here, same as before)
    return arr.select(*passthrough, F.explode("cells").alias("cell"))


def ring_to_quadkeys(
    df: DataFrame, zoom: int, id_col: str, xs_col: str = "xs", ys_col: str = "ys"
) -> DataFrame:
    """Generic polygon table → (id_col, quadkey) at `zoom` (land masks,
    vector tiles). Same fused kernel; bbox derived from the ring.

    Antimeridian: rings that cross must be unwrapped EASTWARD (x values
    continue past 180, e.g. [170..190] — the same convention datagen
    uses for scene footprints); the bbox is then rotated into the
    min_lon > max_lon crossing form the kernel splits. A naive
    array_min/array_max bbox would clamp at 180 and silently drop all
    coverage beyond the antimeridian. Rings with x < -180 raise (unwrap
    them eastward, or split at the antimeridian per RFC 7946 §3.1.9)."""
    mx = F.array_max(xs_col)
    src = df.select(
        F.col(id_col),
        F.col(xs_col).alias("fp_xs"),
        F.col(ys_col).alias("fp_ys"),
        F.array_min(xs_col).alias("min_lon"),
        F.array_min(ys_col).alias("min_lat"),
        F.when(mx > 180.0, mx - 360.0).otherwise(mx).alias("max_lon"),
        F.array_max(ys_col).alias("max_lat"),
    )
    arr_schema = T.StructType(
        [src.schema[id_col]]
        + [T.StructField("cells", T.ArrayType(T.LongType()))]
    )
    inner = _explode_arrow_kernel([id_col], zoom)

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            mins = rb.column("min_lon").to_numpy(zero_copy_only=False)
            if len(mins) and (mins < -180.0).any():
                raise ValueError(
                    "ring_to_quadkeys: ring longitude < -180 — unwrap "
                    "antimeridian-crossing rings EASTWARD (x in "
                    "(180, 360)) or split them per RFC 7946 §3.1.9"
                )
            yield from inner([rb])

    return src.mapInArrow(run, schema=arr_schema).select(
        id_col, F.explode("cells").alias("cell")
    )


def quadkey_bounds(df: DataFrame, quadkey_col: str = "quadkey") -> DataFrame:
    """Append tile bounds for a quadkey column (for GeoJSON emission)."""
    src_cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            qk = pdf[quadkey_col].to_numpy(object)
            xs, ys, zs = tm.quadkey_to_tile(qk)
            n_rows = len(qk)
            w = np.empty(n_rows)
            s = np.empty(n_rows)
            e = np.empty(n_rows)
            n = np.empty(n_rows)
            # bounds depend on zoom = quadkey LENGTH, which may vary
            # within one batch (mixed-zoom tables) — group per zoom
            for z in np.unique(zs) if n_rows else ():
                m = zs == z
                w[m], s[m], e[m], n[m] = tm.tile_bounds(xs[m], ys[m], int(z))
            out = pdf.copy()
            out["tile_w"], out["tile_s"], out["tile_e"], out["tile_n"] = w, s, e, n
            yield out

    schema = T.StructType(
        [df.schema[c] for c in src_cols]
        + [
            T.StructField("tile_w", T.DoubleType()),
            T.StructField("tile_s", T.DoubleType()),
            T.StructField("tile_e", T.DoubleType()),
            T.StructField("tile_n", T.DoubleType()),
        ]
    )
    return df.mapInPandas(run, schema=schema)


IMAGE_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("phash_recomputed", T.LongType()),
        T.StructField("phash_match", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
    ]
)


def image_invariants(df: DataFrame) -> DataFrame:
    """Per-row image invariant check ([BASELINE.json:16]): decode the
    payload, recompute phash, verify caption embeds the image_id.

    PSNR here compares decode(encode(decode(x))) — for our lossless
    codecs it must be +inf; a lossy codec would assert ≥ 40 dB.
    """
    src = df.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, bool)
            psnr = np.full(n, np.nan)
            ph = np.zeros(n, np.int64)
            phm = np.zeros(n, bool)
            # decode is per-image by necessity (variable shapes); the
            # pixel math inside each decode is vectorized numpy
            for i in range(n):
                try:
                    px = im.decode_image(
                        pdf["bytes"].iloc[i],
                        int(pdf["w"].iloc[i]),
                        int(pdf["h"].iloc[i]),
                        pdf["fmt"].iloc[i],
                    )
                    re = im.decode_image(
                        im.encode_image(px, pdf["fmt"].iloc[i]),
                        int(pdf["w"].iloc[i]),
                        int(pdf["h"].iloc[i]),
                        pdf["fmt"].iloc[i],
                    )
                    ok[i] = True
                    psnr[i] = im.psnr_db(px, re)
                    ph[i] = im.phash64(px)
                    # a null stored phash is a metadata mismatch, not a
                    # decode failure — decode_ok stays true
                    pv = pdf["phash"].iloc[i]
                    phm[i] = pv is not None and not pd.isna(pv) and ph[
                        i
                    ] == int(pv)
                except Exception:
                    ok[i] = False
            # null caption/image_id = failed invariant, never a stage
            # kill (untrusted metadata must not abort the job)
            cap = np.fromiter(
                (
                    iid is not None and c is not None and iid in c
                    for iid, c in zip(pdf["image_id"], pdf["caption"])
                ),
                dtype=bool,
                count=n,
            )
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "decode_ok": ok,
                    "psnr_db": psnr,
                    "phash_recomputed": ph,
                    "phash_match": phm,
                    "caption_ok": cap,
                }
            )

    return src.mapInPandas(run, schema=IMAGE_CHECK_SCHEMA)


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("thumb_phash", T.LongType()),
    ]
)


# the ONE catch set for per-row multimodal decode/feature failures
# (r5 review): an untrusted payload must surface as a null/decode_ok
# sentinel, never kill the Spark stage. Beyond the codec stubs'
# NotImplementedError and the validators' ValueError, real corrupt
# bytes raise struct.error (truncated chunk headers), zlib.error
# (corrupt IDAT), TypeError (NULL payload from an outer join),
# IndexError (degenerate 0×0 dims reaching the resize kernel), and
# EOFError/wave-adjacent errors on truncated containers.
DECODE_ERRORS = (
    NotImplementedError,
    ValueError,
    TypeError,
    AttributeError,  # None.startswith on a NULL payload
    IndexError,
    EOFError,
    struct.error,
    zlib.error,
)


def image_features(df: DataFrame, thumb: int = 16) -> DataFrame:
    """Multimodal lane: decode → block-mean resize → feature vector +
    thumbnail phash, one Arrow stage. Unknown codecs surface as nulls
    (the decode stub raises NotImplementedError per SURVEY §0)."""
    src = df.select("image_id", "bytes", "w", "h", "fmt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            feats: list = [None] * n
            ph = np.zeros(n, np.int64)
            for i in range(n):
                # the WHOLE per-row computation sits inside the try:
                # the feature/resize kernels can also raise on
                # degenerate-but-decodable inputs (0×0 images)
                try:
                    px = im.decode_image(
                        pdf["bytes"].iloc[i],
                        int(pdf["w"].iloc[i]),
                        int(pdf["h"].iloc[i]),
                        pdf["fmt"].iloc[i],
                    )
                    small = im.resize_block_mean(px, thumb, thumb)
                    fv = im.image_features(px)
                    phv = im.phash64(small)
                except DECODE_ERRORS:
                    continue
                feats[i] = fv
                ph[i] = phv
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "features": feats,
                    "thumb_phash": ph,
                }
            )

    return src.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("frame_phash", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def video_frame_features(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Multimodal video lane: demux → sample every_n-th frame →
    per-frame feature vector + phash, one Arrow stage over
    (video_id, bytes, fmt) rows. A row whose container can't be demuxed
    here (compressed codecs — imageops stubs) yields ONE row with
    decode_ok=false instead of vanishing, so coverage is auditable.
    Fan-out: one input row → ceil(n_frames / every_n) output rows; the
    stage is map-only, so Spark splits batches across partitions and
    no shuffle ever carries the video bytes."""
    # clamp ONCE at the lane level so frame_idx labeling (j * every_n)
    # can never disagree with the demuxer's own sampling step
    every_n = max(int(every_n), 1)
    src = df.select("video_id", "bytes", "fmt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            idxs: list = []
            hs: list = []
            ws: list = []
            feats: list = []
            phs: list = []
            oks: list = []
            for vid, data, fmt in zip(
                pdf["video_id"], pdf["bytes"], pdf["fmt"]
            ):
                try:
                    frames = im.sample_video_frames(data, fmt, every_n)
                except DECODE_ERRORS:
                    ids.append(vid)
                    idxs.append(-1)
                    hs.append(0)
                    ws.append(0)
                    feats.append(None)
                    phs.append(0)
                    oks.append(False)
                    continue
                for j, fr in enumerate(frames):
                    ids.append(vid)
                    idxs.append(j * every_n)
                    hs.append(fr.shape[0])
                    ws.append(fr.shape[1])
                    feats.append(im.image_features(fr))
                    phs.append(im.phash64(fr))
                    oks.append(True)
            yield pd.DataFrame(
                {
                    "video_id": ids,
                    "frame_idx": np.array(idxs, dtype=np.int32),
                    "h": np.array(hs, dtype=np.int32),
                    "w": np.array(ws, dtype=np.int32),
                    "features": feats,
                    "frame_phash": np.array(phs, dtype=np.int64),
                    "decode_ok": np.array(oks, dtype=bool),
                }
            )

    return src.mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType()),
        T.StructField("rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zcr", T.DoubleType()),
        T.StructField("band_energy", T.ArrayType(T.FloatType())),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def audio_track_features(df: DataFrame) -> DataFrame:
    """Multimodal audio lane: decode (real RIFF/PCM16 parser; compressed
    codecs stubbed — imageops.decode_audio) → deterministic descriptors
    (duration, RMS, zero-crossings, spectral band energies), one Arrow
    stage over (audio_id, bytes, fmt) rows. Undecodable rows emit
    decode_ok=false."""
    src = df.select("audio_id", "bytes", "fmt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            rates = np.zeros(n, np.int32)
            counts = np.zeros(n, np.int32)
            durs = np.zeros(n, np.float64)
            rmss = np.zeros(n, np.float64)
            zcrs = np.zeros(n, np.float64)
            bands: list = [None] * n
            oks = np.zeros(n, bool)
            for i, (data, fmt) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
                try:
                    s, rate = im.decode_audio(data, fmt)
                except DECODE_ERRORS:
                    # defense in depth — decode_audio validates chunk
                    # sizes, but an untrusted payload must never kill
                    # the whole Spark stage (see DECODE_ERRORS)
                    continue
                feat = im.audio_features(s, rate)
                rates[i] = rate
                counts[i] = len(s)
                durs[i] = feat["duration_s"]
                rmss[i] = feat["rms"]
                zcrs[i] = feat["zcr"]
                bands[i] = np.asarray(feat["band_energy"], dtype=np.float32)
                oks[i] = True
            yield pd.DataFrame(
                {
                    "audio_id": pdf["audio_id"],
                    "rate": rates,
                    "n_samples": counts,
                    "duration_s": durs,
                    "rms": rmss,
                    "zcr": zcrs,
                    "band_energy": bands,
                    "decode_ok": oks,
                }
            )

    return src.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)
