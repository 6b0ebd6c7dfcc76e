"""Incremental streaming mosaic == batch mosaic, byte-for-byte."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from mosaic_engine import datagen, mosaic as mz, streaming
from mosaic_engine.ops import MosaicConfig


def test_streaming_incremental_matches_batch(spark, tmp_path):
    full = datagen.gen_scenes(n_scenes=80, paths=4, rows=4, seed=42)
    part1 = full.slice(0, 40)
    part2 = full.slice(40)
    scenes_dir = str(tmp_path / "scenes")
    work = str(tmp_path / "work")
    os.makedirs(scenes_dir)
    cfg = MosaicConfig(quadkey_zoom=7, optimized_selection=True)

    # batch oracle over everything
    fullp = str(tmp_path / "full.parquet")
    datagen.write_parquet(full, fullp)
    batch_doc, _ = mz.build_mosaic(spark.read.parquet(fullp), cfg)

    # stream part 1, then part 2 arrives, re-run → only new files process
    datagen.write_parquet(part1, os.path.join(scenes_dir, "p1.parquet"))
    n1 = streaming.run_incremental(spark, scenes_dir, cfg, work)
    assert n1 >= 1
    doc1 = streaming.finalize(spark, scenes_dir, cfg, work)
    assert set(doc1["tiles"]) <= set(batch_doc["tiles"])

    datagen.write_parquet(part2, os.path.join(scenes_dir, "p2.parquet"))
    n2 = streaming.run_incremental(spark, scenes_dir, cfg, work)
    assert n2 >= 1
    doc2 = streaming.finalize(spark, scenes_dir, cfg, work)
    assert mz.canonical_json(doc2) == mz.canonical_json(batch_doc)

    # idempotence: nothing new → no batches, same document
    n3 = streaming.run_incremental(spark, scenes_dir, cfg, work)
    assert n3 == 0
    doc3 = streaming.finalize(spark, scenes_dir, cfg, work)
    assert mz.canonical_json(doc3) == mz.canonical_json(batch_doc)


def test_streaming_rejects_config_change(spark, tmp_path):
    import pytest

    scenes_dir = str(tmp_path / "s")
    os.makedirs(scenes_dir)
    datagen.write_parquet(
        datagen.gen_scenes(n_scenes=20, paths=2, rows=2, seed=1),
        os.path.join(scenes_dir, "p.parquet"),
    )
    work = str(tmp_path / "w")
    streaming.run_incremental(spark, scenes_dir, MosaicConfig(quadkey_zoom=7), work)
    with pytest.raises(ValueError, match="fresh work_dir"):
        streaming.run_incremental(
            spark, scenes_dir, MosaicConfig(quadkey_zoom=8), work
        )


def test_streaming_batch_redelivery_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a redelivered batch_id must
    REPLACE its partition, not append duplicates (ADVICE r1)."""
    from mosaic_engine import ops, udfs
    from mosaic_engine.mosaic import EXPLODE_PASSTHROUGH

    full = datagen.gen_scenes(n_scenes=40, paths=3, rows=3, seed=5)
    scenes_dir = str(tmp_path / "scenes")
    work = str(tmp_path / "work")
    os.makedirs(scenes_dir)
    datagen.write_parquet(full, os.path.join(scenes_dir, "p.parquet"))
    cfg = MosaicConfig(quadkey_zoom=7)
    n = streaming.run_incremental(spark, scenes_dir, cfg, work)
    assert n == 1  # single file → single availableNow batch (batch_id 0)
    doc_first = streaming.finalize(spark, scenes_dir, cfg, work)

    # simulate the retry: re-execute batch 0's sink write verbatim
    filtered = ops.filter_scenes(spark.read.parquet(scenes_dir), cfg)
    tiles = udfs.explode_to_quadkeys(
        filtered, cfg.quadkey_zoom, passthrough=EXPLODE_PASSTHROUGH
    )
    tiles.write.mode("overwrite").parquet(
        os.path.join(work, "tiles_log", "batch_id=0")
    )
    doc_retry = streaming.finalize(spark, scenes_dir, cfg, work)
    assert mz.canonical_json(doc_retry) == mz.canonical_json(doc_first)
    # and no quadkey carries duplicate assets
    assert not mz.validate_mosaic(doc_retry)


def test_legacy_tiles_log_without_bounds_fails_closed(spark, tmp_path):
    """A tiles log written before rows carried the scene bbox cannot
    yield the used-scene bounds: finalize raises LegacyStateError for a
    log holding only such batches and for one mixing them with current
    batches, instead of returning partial or world bounds."""
    import shutil

    import pytest

    from mosaic_engine import ops, udfs

    scenes_dir = str(tmp_path / "scenes")
    work = str(tmp_path / "work")
    os.makedirs(scenes_dir)
    datagen.write_parquet(
        datagen.gen_scenes(n_scenes=30, paths=3, rows=3, seed=8),
        os.path.join(scenes_dir, "p.parquet"),
    )
    cfg = MosaicConfig(quadkey_zoom=7)
    assert streaming.run_incremental(spark, scenes_dir, cfg, work) == 1
    streaming.finalize(spark, scenes_dir, cfg, work)  # current log: fine

    legacy_cols = ["image_id", "path", "row", "acquisition_date", "cloud_cover"]
    legacy = udfs.explode_to_quadkeys(
        ops.filter_scenes(spark.read.parquet(scenes_dir), cfg),
        cfg.quadkey_zoom, passthrough=legacy_cols,
    )
    legacy.write.parquet(os.path.join(work, "tiles_log", "batch_id=1"))
    with pytest.raises(ops.LegacyStateError, match="rebuild"):
        streaming.finalize(spark, scenes_dir, cfg, work)
    shutil.rmtree(os.path.join(work, "tiles_log", "batch_id=0"))
    with pytest.raises(ops.LegacyStateError, match="fresh work_dir"):
        streaming.finalize(spark, scenes_dir, cfg, work)


def test_windowed_counts_watermark_matches_batch(spark, tmp_path):
    """§2.10 watermarked tumbling windows: once the watermark passes a
    window (later data arrives), its appended row equals the batch
    aggregation exactly; nothing emits early."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    mk = lambda i, h, m, et, v: Row(  # noqa: E731
        event_id=i, ts=t0 + timedelta(hours=h, minutes=m),
        user_id=i % 3, event_type=et, value=float(v), props="{}")
    early = [mk(1, 0, 5, "a", 1.5), mk(2, 0, 40, "a", 2.0),
             mk(3, 1, 10, "b", 3.0), mk(4, 1, 50, "a", 0.25)]
    # a late event for hour 0 arriving in file 2, still inside the
    # 2h watermark → must merge into hour-0 before it finalizes;
    # hour 6/7 events advance the watermark past hours 0-1
    late = [mk(5, 0, 55, "a", 10.0), mk(6, 6, 0, "b", 1.0),
            mk(7, 7, 30, "a", 4.0)]
    # append mode evicts with the PREVIOUS batch's watermark, so a
    # trailing sentinel batch is what flushes hours 0-1
    sentinel = [mk(8, 24, 0, "z", 0.0)]
    ev_dir = str(tmp_path / "events")
    os.makedirs(ev_dir)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    for name, rows in (("f1", early), ("f2", late), ("f3", sentinel)):
        pdf = pd.DataFrame([r.asDict() for r in rows])
        tab = pa.Table.from_pandas(pdf, preserve_index=False)
        i = tab.schema.get_field_index("ts")
        tab = tab.set_column(i, "ts", tab["ts"].cast(pa.timestamp("us")))
        papq.write_table(tab, os.path.join(ev_dir, f"{name}.parquet"))
    out = streaming.windowed_event_counts(
        spark, ev_dir, str(tmp_path / "out"),
        window="1 hour", watermark="2 hours", max_files_per_trigger=1)
    got = {(r["window_epoch"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in out.collect()}
    batch = (
        spark.read.parquet(ev_dir)
        .groupBy(F.unix_timestamp(F.date_trunc("hour", "ts")).alias("we"),
                 "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
    )
    exp = {(r["we"], r["event_type"]): (r["n"], r["s"]) for r in batch.collect()}
    h0 = int(t0.timestamp())
    # exactly the watermark-passed windows (everything except the
    # sentinel's own window, which the final watermark of 22:00 has not
    # passed), each equal to the batch aggregation
    assert got == {k: v for k, v in exp.items() if k != (h0 + 24 * 3600, "z")}
    assert got[(h0, "a")][0] == 3  # the late event merged before close


def test_streaming_sessions_stateful_matches_oracle(spark, tmp_path):
    """applyInPandasWithState sessionization: gap-closed sessions emit
    inline, idle sessions close via event-time timeout when the
    watermark passes last+gap; each session emits exactly once."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    ep0 = int(t0.timestamp())
    mk = lambda i, u, mins, v: Row(  # noqa: E731
        event_id=i, ts=t0 + timedelta(minutes=mins), user_id=u,
        event_type="x", value=float(v), props="{}")
    # user 1: session A (0, 10min), session B (2h..2h05); user 2: one
    # session spanning both files (55min arrives late in file 2 but
    # within the 2h watermark)
    f1 = [mk(1, 1, 0, 1.0), mk(2, 1, 10, 2.0), mk(3, 2, 0, 5.0)]
    f2 = [mk(4, 1, 120, 0.5), mk(5, 1, 125, 0.25), mk(6, 2, 25, 7.0)]
    sentinel = [mk(9, 99, 60 * 24, 0.0)]
    ev_dir = str(tmp_path / "events")
    os.makedirs(ev_dir)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    for name, rows in (("f1", f1), ("f2", f2), ("f3", sentinel)):
        pdf = pd.DataFrame([r.asDict() for r in rows])
        tab = pa.Table.from_pandas(pdf, preserve_index=False)
        i = tab.schema.get_field_index("ts")
        tab = tab.set_column(i, "ts", tab["ts"].cast(pa.timestamp("us")))
        papq.write_table(tab, os.path.join(ev_dir, f"{name}.parquet"))
    out = streaming.run_streaming_sessions(
        spark, ev_dir, str(tmp_path / "out"),
        gap_sec=1800, watermark="2 hours", max_files_per_trigger=1)
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
           for r in out.collect()}
    # closed sessions: user1 A (2 events), user1 B (2 events — closed
    # by the sentinel's watermark), user2 (2 events, late-arriving
    # second event merged). The sentinel user's own session stays open.
    assert got == {
        (1, ep0): (2, 3.0),
        (1, ep0 + 7200): (2, 0.75),
        (2, ep0): (2, 12.0),
    }


def test_streaming_sessions_out_of_order_within_watermark(spark, tmp_path):
    """An event OLDER than an open session's tail arriving in a later
    batch (but inside the watermark) must land in ITS OWN session —
    the buffer-and-close-on-watermark design handles arbitrary
    in-watermark disorder (code-review r2 finding)."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    ep0 = int(t0.timestamp())
    mk = lambda i, u, mins, v: Row(  # noqa: E731
        event_id=i, ts=t0 + timedelta(minutes=mins), user_id=u,
        event_type="x", value=float(v), props="{}")
    f1 = [mk(1, 1, 0, 1.0)]
    f2 = [mk(2, 1, 100, 4.0)]          # opens session B (gap > 30min)
    f3 = [mk(3, 1, 10, 2.0)]           # LATE: belongs to session A
    sentinel = [mk(9, 99, 60 * 24, 0.0)]
    ev_dir = str(tmp_path / "events")
    os.makedirs(ev_dir)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    for name, rows in (("f1", f1), ("f2", f2), ("f3", f3), ("f4", sentinel)):
        pdf = pd.DataFrame([r.asDict() for r in rows])
        tab = pa.Table.from_pandas(pdf, preserve_index=False)
        i = tab.schema.get_field_index("ts")
        tab = tab.set_column(i, "ts", tab["ts"].cast(pa.timestamp("us")))
        papq.write_table(tab, os.path.join(ev_dir, f"{name}.parquet"))
    out = streaming.run_streaming_sessions(
        spark, ev_dir, str(tmp_path / "out"),
        gap_sec=1800, watermark="2 hours", max_files_per_trigger=1)
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
           for r in out.collect()}
    assert got == {
        (1, ep0): (2, 3.0),          # late event merged into session A
        (1, ep0 + 6000): (1, 4.0),   # session B NOT contaminated
    }


def test_compact_tiles_log_preserves_mosaic(spark, tmp_path):
    """Compacting the per-batch tiles log folds N batch partitions into
    a compacted generation and leaves the finalized mosaic
    byte-identical."""
    full = datagen.gen_scenes(n_scenes=60, paths=3, rows=3, seed=7)
    scenes_dir = str(tmp_path / "scenes")
    work = str(tmp_path / "work")
    os.makedirs(scenes_dir)
    cfg = MosaicConfig(quadkey_zoom=7)
    # three files → three incremental invocations → three batch dirs
    for i, sl in enumerate((full.slice(0, 20), full.slice(20, 20), full.slice(40))):
        datagen.write_parquet(sl, os.path.join(scenes_dir, f"p{i}.parquet"))
        streaming.run_incremental(spark, scenes_dir, cfg, work)
    before = streaming.finalize(spark, scenes_dir, cfg, work)
    tiles_dir = os.path.join(work, "tiles_log")
    n_parts_before = len(
        [d for d in os.listdir(tiles_dir) if d.startswith("batch_id=")])
    assert n_parts_before == 3
    folded = streaming.compact_tiles_log(spark, work, target_partitions=2)
    assert folded == 3
    # batch dirs are gone; the live data is one compacted generation
    assert streaming._named_batch_dirs(os.path.join(work, "tiles_log")) == []
    assert streaming._log_paths(work, "tiles", streaming.LOCAL_FS) == [
        os.path.join(work, "tiles_compacted", "gen=0")]
    after = streaming.finalize(spark, scenes_dir, cfg, work)
    assert mz.canonical_json(after) == mz.canonical_json(before)
    # incremental processing continues cleanly after compaction
    assert streaming.run_incremental(spark, scenes_dir, cfg, work) == 0
    # a second compaction with nothing new to fold is a no-op
    assert streaming.compact_tiles_log(spark, work) == 0


def test_compaction_survives_redelivery_and_crash(spark, tmp_path):
    """(code-review r2c / ADVICE r2) A batch folded by compaction must
    NOT be rewritten when foreachBatch redelivers it; crashes on either
    side of the manifest commit leave readers consistent; a lost
    checkpoint alongside a non-empty folded set is REFUSED rather than
    silently dropping replayed input."""
    import shutil

    import pytest

    full = datagen.gen_scenes(n_scenes=40, paths=3, rows=3, seed=11)
    scenes_dir = str(tmp_path / "scenes")
    work = str(tmp_path / "work")
    os.makedirs(scenes_dir)
    cfg = MosaicConfig(quadkey_zoom=7)
    for i, sl in enumerate((full.slice(0, 20), full.slice(20))):
        datagen.write_parquet(sl, os.path.join(scenes_dir, f"p{i}.parquet"))
        streaming.run_incremental(spark, scenes_dir, cfg, work)
    before = streaming.finalize(spark, scenes_dir, cfg, work)
    assert streaming.compact_tiles_log(spark, work, target_partitions=2) == 2
    assert streaming._folded_batches(work) == {0, 1}

    # drive the sink's redelivery skip for REAL: removing the commit
    # marker of batch 1 (but not its offsets) reproduces foreachBatch's
    # at-least-once retry — the restarted stream re-delivers batch 1,
    # which IS folded → handle() must write nothing
    os.remove(os.path.join(work, "_chk", "commits", "1"))
    crc = os.path.join(work, "_chk", "commits", ".1.crc")
    if os.path.exists(crc):  # local-fs checksum shadow of the marker
        os.remove(crc)
    streaming.run_incremental(spark, scenes_dir, cfg, work)
    # no duplicate partition
    assert streaming._named_batch_dirs(os.path.join(work, "tiles_log")) == []
    after = streaming.finalize(spark, scenes_dir, cfg, work)
    assert mz.canonical_json(after) == mz.canonical_json(before)
    assert not mz.validate_mosaic(after)

    # crash DURING compaction (next gen dir written, manifest not yet
    # committed): the stray generation is invisible and GC'd
    stray = os.path.join(work, "tiles_compacted", "gen=1")
    os.makedirs(stray)
    with open(os.path.join(stray, "garbage"), "w") as f:
        f.write("partial write")
    assert streaming._log_paths(work, "tiles", streaming.LOCAL_FS) == [
        os.path.join(work, "tiles_compacted", "gen=0")]
    healed = streaming.finalize(spark, scenes_dir, cfg, work)
    assert mz.canonical_json(healed) == mz.canonical_json(before)

    # a new file lands → new batch → compacting folds gen=0 + batch 2
    # into gen=1, clobbering the stray partial dir first
    datagen.write_parquet(
        full.slice(0, 10), os.path.join(scenes_dir, "p2.parquet"))
    streaming.run_incremental(spark, scenes_dir, cfg, work)
    before2 = streaming.finalize(spark, scenes_dir, cfg, work)
    # ONE batch partition folded (gen=0 merges in but is not a batch —
    # the r6 advice fix; the old return said 2 here)
    assert streaming.compact_tiles_log(spark, work, target_partitions=2) == 1
    assert streaming._log_paths(work, "tiles", streaming.LOCAL_FS) == [
        os.path.join(work, "tiles_compacted", "gen=1")]
    assert mz.canonical_json(
        streaming.finalize(spark, scenes_dir, cfg, work)
    ) == mz.canonical_json(before2)

    # lost checkpoint + non-empty folded set: batch ids would be
    # recycled for NEW input and silently skipped — must refuse
    shutil.rmtree(os.path.join(work, "_chk"))
    with pytest.raises(ValueError, match="folded"):
        streaming.run_incremental(spark, scenes_dir, cfg, work)


def test_pre_manifest_work_dir_fails_closed(spark, tmp_path):
    """A work_dir compacted by the pre-manifest scheme
    (compacted_batches.json) predates the scene-bounds columns, so it
    can no longer produce a mosaic. Every entry refuses it with
    LegacyStateError before writing or deleting anything."""
    import json

    from mosaic_engine import ops

    scenes_dir = str(tmp_path / "scenes")
    os.makedirs(scenes_dir)
    datagen.write_parquet(
        datagen.gen_scenes(n_scenes=20, paths=2, rows=2, seed=3),
        os.path.join(scenes_dir, "p.parquet"),
    )
    work = str(tmp_path / "work")
    os.makedirs(os.path.join(work, "tiles_log", "batch_id=-1"))
    legacy = os.path.join(work, "compacted_batches.json")
    with open(legacy, "w") as f:
        json.dump([0, 1], f)
    cfg = MosaicConfig(quadkey_zoom=7)
    calls = [
        lambda: streaming.run_incremental(spark, scenes_dir, cfg, work),
        lambda: streaming.compact_tiles_log(spark, work),
        lambda: streaming.finalize(spark, scenes_dir, cfg, work),
        lambda: streaming.run_incremental_dedup(spark, scenes_dir, work),
        lambda: streaming.compact_dedup_logs(spark, work),
        lambda: streaming.incremental_dedup_pairs(spark, work),
    ]
    for call in calls:
        with pytest.raises(ops.LegacyStateError, match="fresh work_dir"):
            call()
    # nothing deleted, nothing recorded
    assert os.path.exists(legacy)
    assert sorted(os.listdir(work)) == ["compacted_batches.json", "tiles_log"]
    assert os.listdir(os.path.join(work, "tiles_log")) == ["batch_id=-1"]


def test_finalize_refuses_config_the_log_was_not_built_with(spark, tmp_path):
    """finalize must run under the config the tiles log was built with:
    a different quadkey_zoom would label z7 quadkeys as z8, and a
    tighter max_cloud would return the unfiltered tile map, because the
    filters ran at ingest. Both raise, like run_incremental does."""
    scenes_dir = str(tmp_path / "scenes")
    os.makedirs(scenes_dir)
    datagen.write_parquet(
        datagen.gen_scenes(n_scenes=40, paths=3, rows=3, seed=9),
        os.path.join(scenes_dir, "p.parquet"),
    )
    work = str(tmp_path / "work")
    cfg = MosaicConfig(quadkey_zoom=7)
    assert streaming.run_incremental(spark, scenes_dir, cfg, work) == 1
    for other in (
        MosaicConfig(quadkey_zoom=8),
        MosaicConfig(quadkey_zoom=7, max_cloud=10),
    ):
        with pytest.raises(ValueError, match="fresh work_dir"):
            streaming.finalize(spark, scenes_dir, other, work)
    doc = streaming.finalize(spark, scenes_dir, cfg, work)
    assert not mz.validate_mosaic(doc)
    assert {len(qk) for qk in doc["tiles"]} == {7}


def _compacted_work(spark, entry, base):
    """A work_dir of `entry` with two folded batches and a third input
    file waiting; returns (input_dir, work_dir, run)."""
    import pyarrow.compute as pc

    in_dir = os.path.join(base, "in")
    work = os.path.join(base, "work")
    os.makedirs(in_dir)
    if entry == "tiles":
        full = datagen.gen_scenes(n_scenes=30, paths=3, rows=3, seed=13)
        parts = [full.slice(0, 10), full.slice(10, 10), full.slice(20)]
        cfg = MosaicConfig(quadkey_zoom=6)

        def run(work_dir):
            return streaming.run_incremental(spark, in_dir, cfg, work_dir)

        compact = streaming.compact_tiles_log
    else:
        t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
        parts = [
            t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 3), i))
            for i in range(3)
        ]

        def run(work_dir):
            return streaming.run_incremental_dedup(spark, in_dir, work_dir)

        compact = streaming.compact_dedup_logs
    for i, part in enumerate(parts[:2]):
        datagen.write_parquet(part, os.path.join(in_dir, f"p{i}.parquet"))
        assert run(work) == 1
    assert compact(spark, work, target_partitions=1) == 2
    datagen.write_parquet(parts[2], os.path.join(in_dir, "p2.parquet"))
    return in_dir, work, run


@pytest.fixture(scope="module")
def compacted_works(spark, tmp_path_factory):
    cache = {}

    def get(entry):
        if entry not in cache:
            cache[entry] = _compacted_work(
                spark, entry, str(tmp_path_factory.mktemp(f"replay_{entry}"))
            )
        return cache[entry]

    return get


@pytest.mark.parametrize("case", ["chk_deleted", "chk_foreign", "chk_id_none"])
@pytest.mark.parametrize("entry", ["tiles", "dedup"])
def test_replay_guard_refuses_unbound_checkpoint(
    compacted_works, tmp_path, entry, case
):
    """Folded batch ids protect redelivery only under the offset log
    that named them. With folded batches, both incremental entries
    refuse to start when _chk is gone, when it belongs to another
    query, or when the manifest never recorded a chk_id — a replay
    would reuse folded ids and the sink would silently skip the new
    input. The refusal comes before any new batch dir is written."""
    import json
    import shutil

    _, base_work, run = compacted_works(entry)
    work = str(tmp_path / "work")
    shutil.copytree(base_work, work)
    chk = os.path.join(work, "_chk")
    man = streaming._read_manifest(work)
    assert man["folded"] == [0, 1] and man["chk_id"]
    if case == "chk_deleted":
        shutil.rmtree(chk)
    elif case == "chk_foreign":
        shutil.rmtree(chk)
        os.makedirs(chk)
        with open(os.path.join(chk, "metadata"), "w") as f:
            json.dump({"id": "another-query"}, f)
    else:
        man["chk_id"] = None
        streaming._write_manifest(work, man)
    logs = [d for d in os.listdir(work) if d.endswith("_log")]
    assert logs
    with pytest.raises(ValueError, match="folded"):
        run(work)
    for log in logs:
        assert streaming._named_batch_dirs(os.path.join(work, log)) == []


class MemFS(streaming.StorageClient):
    """In-memory StorageClient over '/mem/…' keys that do NOT exist on
    the local filesystem — any os.* I/O escaping the seam raises
    FileNotFoundError or is caught by the real-FS assertion below."""

    def __init__(self):
        self.files: dict[str, str] = {}

    def _key(self, p: str) -> str:
        assert p.startswith("/mem/"), f"non-seam path reached MemFS: {p}"
        return p.rstrip("/")

    def exists(self, p):
        return self._key(p) in self.files or self.isdir(p)

    def isdir(self, p):
        pref = self._key(p) + "/"
        return any(k.startswith(pref) for k in self.files)

    def listdir(self, p):
        pref = self._key(p) + "/"
        return sorted(
            {k[len(pref):].split("/")[0] for k in self.files if k.startswith(pref)}
        )

    def read_text(self, p):
        return self.files[self._key(p)]

    def write_text_atomic(self, p, text):
        self.files[self._key(p)] = text

    def delete_tree(self, p):
        k = self._key(p)
        for dead in [x for x in self.files if x == k or x.startswith(k + "/")]:
            del self.files[dead]

    def makedirs(self, p):
        self._key(p)

    def canonical(self, p):
        return p


def test_bookkeeping_runs_through_storage_seam():
    """(VERDICT r4 #3) All manifest/lineage/GC bookkeeping must route
    through the injected StorageClient: run it against MemFS paths that
    cannot resolve on the local filesystem and assert the real FS is
    never touched."""
    from mosaic_engine import ops

    fs = MemFS()
    work = "/mem/work"
    assert not os.path.exists("/mem")  # the escape canary

    # manifest commit + readback + folded set
    streaming._write_manifest(work, {"gen": 1, "folded": [0, 2], "chk_id": "q"}, fs)
    assert streaming._read_manifest(work, fs)["gen"] == 1
    assert streaming._folded_batches(work, fs) == {0, 2}

    # a pre-manifest work_dir fails closed through the seam, and its
    # compacted_batches.json is left in place
    legacy_work = "/mem/legacy"
    legacy = os.path.join(legacy_work, "compacted_batches.json")
    fs.files[legacy] = "[3, 1]"
    before = dict(fs.files)
    for call in (
        lambda: streaming._read_manifest(legacy_work, fs),
        lambda: streaming.compact_tiles_log(None, legacy_work, fs=fs),
    ):
        with pytest.raises(ops.LegacyStateError, match="fresh work_dir"):
            call()
    assert fs.files == before

    # config-hash guard through the seam
    cfg = MosaicConfig(quadkey_zoom=7)
    streaming._check_config_hash(work, cfg, fs)
    streaming._check_config_hash(work, cfg, fs)  # idempotent
    try:
        streaming._check_config_hash(work, MosaicConfig(quadkey_zoom=9), fs)
        raise AssertionError("config drift must raise")
    except ValueError:
        pass

    # tiles-path resolution + GC-only compaction (live <= 1 → Spark is
    # never touched; spark=None proves it)
    fs.files[os.path.join(work, "tiles_compacted", "gen=1", "part-0")] = "d"
    fs.files[os.path.join(work, "tiles_log", "batch_id=0", "part-0")] = "d"
    fs.files[os.path.join(work, "tiles_log", "batch_id=2", "part-0")] = "d"
    fs.files[os.path.join(work, "tiles_compacted", "gen=0", "part-0")] = "d"
    assert streaming._log_paths(work, "tiles", fs) == [
        os.path.join(work, "tiles_compacted", "gen=1")
    ]
    assert streaming.compact_tiles_log(None, work, fs=fs) == 0
    # folded dirs GC'd
    assert streaming._named_batch_dirs(os.path.join(work, "tiles_log"), fs) == []
    assert not fs.isdir(os.path.join(work, "tiles_compacted", "gen=0"))

    assert not os.path.exists("/mem")  # nothing escaped to the real FS


def test_incremental_dedup_matches_batch(spark, tmp_path):
    """(VERDICT r4 #6) Streamed MinHash-LSH dedup: pairs accumulated
    across micro-batches == one-shot minhash_lsh_pairs over the full
    corpus, new files re-shingle only themselves, redelivered batches
    are idempotent."""
    from mosaic_engine import textops

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    even = pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0)
    sdir = str(tmp_path / "docs_stream")
    os.makedirs(sdir)
    work = str(tmp_path / "dedup_work")
    datagen.write_parquet(t.filter(even), os.path.join(sdir, "p1.parquet"))
    n1 = streaming.run_incremental_dedup(spark, sdir, work)
    assert n1 >= 1
    datagen.write_parquet(
        t.filter(pc.invert(even)), os.path.join(sdir, "p2.parquet")
    )
    n2 = streaming.run_incremental_dedup(spark, sdir, work)
    assert n2 >= 1
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # third run: nothing new → no batches, pairs unchanged
    assert streaming.run_incremental_dedup(spark, sdir, work) == 0

    got = sorted(
        map(tuple, streaming.incremental_dedup_pairs(spark, work).collect())
    )
    want = sorted(
        map(tuple, textops.minhash_lsh_pairs(docs, max_bucket=None).collect())
    )
    assert got == want and len(got) > 0
    # no duplicate emissions across batches
    assert len(got) == len(set(got))


def test_incremental_dedup_compaction_preserves_equivalence(spark, tmp_path):
    """(r5) compact_dedup_logs folds both per-batch logs into one
    committed generation: results stay equal to one-shot batch pairs,
    later batches join against the compacted state, and folded batch
    dirs are GC'd."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mosaic_engine import textops

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    third = pc.less(pc.bit_wise_and(t["doc_id"], 3), 1)  # ~quarter
    mid = pc.and_(
        pc.invert(third), pc.less(pc.bit_wise_and(t["doc_id"], 3), 3)
    )
    rest = pc.equal(pc.bit_wise_and(t["doc_id"], 3), 3)
    sdir = str(tmp_path / "docs_stream_c")
    os.makedirs(sdir)
    work = str(tmp_path / "dedup_work_c")
    datagen.write_parquet(t.filter(third), os.path.join(sdir, "p1.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work)
    datagen.write_parquet(t.filter(mid), os.path.join(sdir, "p2.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work)

    folded = streaming.compact_dedup_logs(spark, work, target_partitions=2)
    assert folded >= 2
    # batch dirs folded away; state resolves through the generation
    assert streaming._named_batch_dirs(
        os.path.join(work, "bands_log")
    ) == []
    assert streaming._log_paths(work, "bands", streaming.LOCAL_FS) == [
        os.path.join(work, "bands_compacted", "gen=0")
    ]
    # second compaction is a no-op
    assert streaming.compact_dedup_logs(spark, work) == 0

    # a third file joins against the COMPACTED state
    datagen.write_parquet(t.filter(rest), os.path.join(sdir, "p3.parquet"))
    assert streaming.run_incremental_dedup(spark, sdir, work) >= 1
    got = sorted(
        map(tuple, streaming.incremental_dedup_pairs(spark, work).collect())
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(
        map(tuple, textops.minhash_lsh_pairs(docs, max_bucket=None).collect())
    )
    assert got == want and len(got) > 0


def test_incremental_dedup_mega_bucket_guard(spark, tmp_path):
    """(VERDICT r5 #2) Incremental star guard: a (band, key) bucket
    whose CUMULATIVE count crosses max_bucket degrades to a star for
    this batch's arrivals — per-batch join work for the bucket is
    O(new docs), never new×prev — while downstream CLUSTERS stay
    equal to the one-shot batch guard's."""
    import pyarrow as pa

    from mosaic_engine import textops

    CAP = 8
    boiler = "common license header boilerplate repeated verbatim text"
    slow = "different shared footer paragraph appended by one exporter"

    def docs_table(rows):
        ids, texts = zip(*rows)
        return pa.table(
            {"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}
        )

    # batch 1: 'boiler' born overflowing (12 > CAP); 'slow' still small
    b1 = [(i, boiler) for i in range(12)] + [
        (100 + i, slow) for i in range(5)
    ] + [(200 + i, f"unique document {i} alpha beta {i * 7}") for i in range(4)]
    # batch 2: 'boiler' grows; 'slow' CROSSES the cap mid-stream (5+6)
    b2 = [(12 + i, boiler) for i in range(10)] + [
        (105 + i, slow) for i in range(6)
    ]
    sdir = str(tmp_path / "docs_stream_g")
    os.makedirs(sdir)
    work = str(tmp_path / "dedup_work_g")
    datagen.write_parquet(docs_table(b1), os.path.join(sdir, "p1.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work, max_bucket=CAP)
    datagen.write_parquet(docs_table(b2), os.path.join(sdir, "p2.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work, max_bucket=CAP)

    def batch_pairs(bid):
        return set(
            map(
                tuple,
                spark.read.parquet(
                    os.path.join(work, "pairs_log", f"batch_id={bid}")
                ).collect(),
            )
        )

    p0, p1 = batch_pairs(0), batch_pairs(1)
    # batch 0: boiler born overflowing → star on the batch min (11
    # edges, not 66 exhaustive); slow (5 ≤ CAP) exhaustive (10 edges)
    assert {p for p in p0 if p[0] < 100} == {(0, j) for j in range(1, 12)}
    assert {p for p in p0 if 100 <= p[0] < 200} == {
        (100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)
    }
    # batch 1: each bucket's new docs link ONLY to the persisted root —
    # O(new) edges; the 10×12 / 6×5 cross joins never ran
    assert {p for p in p1 if p[0] < 100} == {(0, j) for j in range(12, 22)}
    assert {p for p in p1 if 100 <= p[0] < 200} == {
        (100, 105 + j) for j in range(6)
    }

    # cluster equivalence vs the one-shot batch star guard
    all_docs = spark.read.parquet(sdir)
    inc_pairs = streaming.incremental_dedup_pairs(spark, work)
    batch_pairs_df = textops.minhash_lsh_pairs(all_docs, max_bucket=CAP)

    def clusters(edges):
        cc, _ = textops.connected_components(
            all_docs.select("doc_id"), edges
        )
        rows = cc.collect()
        groups = {}
        for r in rows:
            groups.setdefault(r[1], set()).add(r[0])
        return sorted(map(frozenset, groups.values()), key=min)

    assert clusters(inc_pairs) == clusters(batch_pairs_df)


def test_incremental_dedup_kill_resume(spark, tmp_path, monkeypatch):
    """(VERDICT r5 #5) run_incremental_dedup IS the resumable dedup
    entry point: a kill between micro-batches (the handler dies on
    batch 1 of 3) leaves batch 0 committed; the re-run redelivers the
    dead batch under its original id, overwrite-completes it, and the
    accumulated pairs equal the one-shot batch LSH pairs — the mosaic
    lane's kill/resume contract, on the dedup lane."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pytest

    from mosaic_engine import textops

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    sdir = str(tmp_path / "docs_stream_k")
    os.makedirs(sdir)
    work = str(tmp_path / "dedup_work_k")
    for i in range(3):
        part = pc.equal(pc.bit_wise_and(t["doc_id"], 3), i)
        datagen.write_parquet(
            t.filter(part), os.path.join(sdir, f"p{i}.parquet")
        )

    orig = textops.minhash_banded
    calls = {"n": 0}

    def dies_on_second_batch(df):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected kill between micro-batches")
        return orig(df)

    monkeypatch.setattr(textops, "minhash_banded", dies_on_second_batch)
    with pytest.raises(Exception, match="injected kill"):
        streaming.run_incremental_dedup(
            spark, sdir, work, max_files_per_trigger=1
        )
    monkeypatch.setattr(textops, "minhash_banded", orig)
    # batch 0 committed before the kill; the dead batch is redelivered
    assert streaming._committed_batches(work) == {0}

    # resume: remaining files (incl. the killed batch, same id) process
    assert streaming.run_incremental_dedup(
        spark, sdir, work, max_files_per_trigger=1
    ) >= 2
    got = sorted(
        map(tuple, streaming.incremental_dedup_pairs(spark, work).collect())
    )
    docs = spark.read.parquet(sdir)
    want = sorted(
        map(tuple, textops.minhash_lsh_pairs(docs, max_bucket=None).collect())
    )
    assert got == want and len(got) > 0


def test_dedup_compaction_skips_one_sided_crash_batches(spark, tmp_path):
    """(r5 review) A batch whose handle crashed between its bands write
    and its pairs write must NOT be folded by compaction — folding it
    would mark it done with its pairs never emitted. The one-sided dir
    survives for the redelivered batch to overwrite-complete."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    even = pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0)
    sdir = str(tmp_path / "docs_stream_x")
    os.makedirs(sdir)
    work = str(tmp_path / "dedup_work_x")
    datagen.write_parquet(t.filter(even), os.path.join(sdir, "p1.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work)
    datagen.write_parquet(
        t.filter(pc.invert(even)), os.path.join(sdir, "p2.parquet")
    )
    streaming.run_incremental_dedup(spark, sdir, work)

    # simulate the crash: a bands dir with no matching pairs dir
    shutil.copytree(
        os.path.join(work, "bands_log", "batch_id=0"),
        os.path.join(work, "bands_log", "batch_id=9"),
    )
    streaming.compact_dedup_logs(spark, work, target_partitions=2)
    man = streaming._read_manifest(work)
    assert 0 in man["folded"] and 9 not in man["folded"]
    # the one-sided dir is untouched, awaiting redelivery
    assert os.path.isdir(os.path.join(work, "bands_log", "batch_id=9"))
    assert not os.path.isdir(os.path.join(work, "bands_log", "batch_id=0"))


def test_compaction_skips_uncommitted_batches(spark, tmp_path):
    """(r5 review) A batch dir without a _chk/commits entry (crash
    mid-write) must not be folded — redelivery still owes it."""
    import shutil

    full = datagen.gen_scenes(n_scenes=40, paths=3, rows=3, seed=5)
    scenes_dir = str(tmp_path / "scenes")
    work = str(tmp_path / "work")
    os.makedirs(scenes_dir)
    datagen.write_parquet(full.slice(0, 20), os.path.join(scenes_dir, "p1.parquet"))
    cfg = MosaicConfig(quadkey_zoom=7)
    streaming.run_incremental(spark, scenes_dir, cfg, work)
    datagen.write_parquet(full.slice(20), os.path.join(scenes_dir, "p2.parquet"))
    streaming.run_incremental(spark, scenes_dir, cfg, work)
    assert streaming._committed_batches(work) >= {0, 1}

    # simulate the crash: batch dir 9 exists but was never committed
    shutil.copytree(
        os.path.join(work, "tiles_log", "batch_id=0"),
        os.path.join(work, "tiles_log", "batch_id=9"),
    )
    folded = streaming.compact_tiles_log(spark, work, target_partitions=2)
    assert folded >= 2
    man = streaming._read_manifest(work)
    assert 9 not in man["folded"] and {0, 1} <= set(man["folded"])
    assert os.path.isdir(os.path.join(work, "tiles_log", "batch_id=9"))


def test_compactor_refuses_mismatched_chk_id(tmp_path):
    """(r6 review) The compaction manifest must never overwrite a
    recorded chk_id with a different current _chk's id — that would
    launder an impostor checkpoint past run_incremental's replay guard
    and let replayed input be silently dropped under recycled folded
    ids. Mismatch refuses; adoption is only legal when no id was
    recorded; an absent _chk keeps the recorded id."""
    import json

    import pytest

    work = str(tmp_path / "work")
    chk = os.path.join(work, "_chk")
    os.makedirs(chk)

    def set_qid(qid):
        with open(os.path.join(chk, "metadata"), "w") as f:
            json.dump({"id": qid}, f)

    # recorded id matches current -> kept
    set_qid("qA")
    assert streaming._manifest_chk_id(
        work, {"chk_id": "qA"}, streaming.LOCAL_FS
    ) == "qA"
    # nothing recorded yet -> adopt the observed id
    assert streaming._manifest_chk_id(
        work, {"chk_id": None}, streaming.LOCAL_FS
    ) == "qA"
    # recorded id, _chk gone -> recorded id survives
    os.remove(os.path.join(chk, "metadata"))
    assert streaming._manifest_chk_id(
        work, {"chk_id": "qA"}, streaming.LOCAL_FS
    ) == "qA"
    # recorded id, DIFFERENT current query -> refuse, never overwrite
    set_qid("imposter")
    with pytest.raises(ValueError, match="wrong offset log"):
        streaming._manifest_chk_id(work, {"chk_id": "qA"}, streaming.LOCAL_FS)


def test_incremental_dedup_refuses_max_bucket_drift(spark, tmp_path):
    """(r6 review) Re-invoking a dedup work_dir with a different
    max_bucket mixes guard regimes — the accumulated pairs log would be
    equivalent to NO single one-shot semantics. Recorded on first use,
    mismatch fails loud."""
    import pyarrow.parquet as pq
    import pytest

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    sdir = str(tmp_path / "docs")
    os.makedirs(sdir)
    work = str(tmp_path / "work")
    datagen.write_parquet(t.slice(0, 100), os.path.join(sdir, "p1.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work)  # default cap
    datagen.write_parquet(t.slice(100, 100), os.path.join(sdir, "p2.parquet"))
    with pytest.raises(ValueError, match="guard regimes"):
        streaming.run_incremental_dedup(spark, sdir, work, max_bucket=None)
    # same cap → proceeds
    assert streaming.run_incremental_dedup(spark, sdir, work) == 1


def test_streaming_sessions_tz_invariant_structure(spark, tmp_path):
    """(r6 review) The session kernel's close decisions must not depend
    on spark.sql.session.timeZone: epochs are computed JVM-side
    (unix_timestamp) so they stay true epoch while the watermark is
    true epoch — before the fix a non-UTC tz shifted the pandas-side
    epochs but not the watermark, closing sessions hours early. The
    events fixture carries NTZ timestamps, so a non-UTC tz legitimately
    shifts every ABSOLUTE session_start by one uniform offset (cast
    semantics); membership, counts, and sums must be identical."""
    import shutil

    ev_dir = str(tmp_path / "events")
    os.makedirs(ev_dir)
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(ev_dir, "p1.parquet"),
    )
    a = sorted(
        map(tuple, streaming.run_streaming_sessions(
            spark, ev_dir, str(tmp_path / "out_utc")).collect())
    )
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        b = sorted(
            map(tuple, streaming.run_streaming_sessions(
                spark, ev_dir, str(tmp_path / "out_la")).collect())
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert len(a) == len(b) > 0
    shifts = {bb[1] - aa[1] for aa, bb in zip(a, b)}
    assert len(shifts) == 1  # ONE uniform cast offset, no split sessions
    assert all(
        aa[0] == bb[0] and aa[2] == bb[2] and abs(aa[3] - bb[3]) < 1e-9
        for aa, bb in zip(a, b)
    )


def test_bucket_stats_semi_join_broadcasts_and_is_exact(spark, tmp_path):
    """(r6 review) The star guard's stats pass must (a) compute exact
    cumulative totals/roots and (b) reach the persisted band state
    through a BROADCAST left-semi on the batch's bucket set — a
    shuffle there would move one row per historical bucket per batch,
    O(corpus) on mostly-unique corpora."""
    nb = spark.createDataFrame(
        [(0, 11, 100), (0, 11, 101), (0, 22, 102), (1, 33, 100)],
        "band int, key long, doc_id long",
    )
    prev_rows = [(0, 11, d) for d in range(5)] + [(0, 99, 7), (1, 44, 8)]
    prev_path = str(tmp_path / "prev.parquet")
    spark.createDataFrame(
        prev_rows, "band int, key long, doc_id long"
    ).write.parquet(prev_path)
    prev = spark.read.parquet(prev_path)

    stats = streaming._cumulative_bucket_stats(nb, prev)
    got = {
        (r["band"], r["key"]): (r["_total"], r["_root"])
        for r in stats.collect()
    }
    # touched buckets only; untouched prev buckets (0,99)/(1,44) absent
    assert got == {
        (0, 11): (7, 0),    # 5 persisted + 2 new, root = prev min 0
        (0, 22): (1, 102),  # born this batch, root = batch min
        (1, 33): (1, 100),
    }
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan

    # no prev state: totals are the batch's own counts
    got0 = {
        (r["band"], r["key"]): (r["_total"], r["_root"])
        for r in streaming._cumulative_bucket_stats(nb, None).collect()
    }
    assert got0 == {(0, 11): (2, 100), (0, 22): (1, 102), (1, 33): (1, 100)}


def _assert_bucket_partition_filter(prev):
    """The band-state scan of `prev` prunes by a _bucket IN/INSET
    PartitionFilter (isnotnull(_bucket) alone prunes nothing)."""
    import re

    plan = prev._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan, plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert re.search(r"_bucket#\d+ (IN|INSET) ", seg), seg


def test_incremental_dedup_bucketed_state_prunes_scan(spark, tmp_path):
    """(r7 — VERDICT r6 #1) The compacted band generation is written
    PARTITIONED BY pmod(xxhash64(band, key), DEDUP_BAND_BUCKETS), and
    a micro-batch's view of the previous state (_read_prev_bands)
    prunes its scan to the buckets the batch touches — per-batch
    prev-rows READ stays O(batch share), not O(corpus). Asserts the
    on-disk layout, the PartitionFilters in the pruned scan's plan,
    and that pruning returns exactly the touched buckets' rows."""
    import pyarrow.compute as pc

    from pyspark.sql import functions as F

    from mosaic_engine import textops

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    half = pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0)
    sdir = str(tmp_path / "docs_stream_bkt")
    os.makedirs(sdir)
    work = str(tmp_path / "dedup_work_bkt")
    datagen.write_parquet(t.filter(half), os.path.join(sdir, "p1.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work)
    datagen.write_parquet(
        t.filter(pc.invert(half)), os.path.join(sdir, "p2.parquet")
    )
    streaming.run_incremental_dedup(spark, sdir, work)
    assert streaming.compact_dedup_logs(spark, work, target_partitions=2) >= 2

    gen_dir = os.path.join(work, "bands_compacted", "gen=0")
    buckets_on_disk = [
        d for d in os.listdir(gen_dir) if d.startswith("_bucket=")
    ]
    assert buckets_on_disk, os.listdir(gen_dir)

    # a small probe batch touches few buckets (≤ docs × bands)
    import json as _json

    p = int(
        _json.loads(
            streaming.LOCAL_FS.read_text(
                os.path.join(work, "tiles_manifest.json")
            )
        )["band_buckets"]
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nb = textops.minhash_banded(docs.limit(3))
    touched = {
        r["b"]
        for r in nb.select(
            streaming._band_bucket_col(p).alias("b")
        ).distinct().collect()
    }
    assert 0 < len(touched) < p

    prev = streaming._read_prev_bands(
        spark, work, streaming.LOCAL_FS, 10**6, nb
    )
    _assert_bucket_partition_filter(prev)

    full = spark.read.parquet(gen_dir)
    want = sorted(
        map(
            tuple,
            full.filter(F.col("_bucket").isin(sorted(touched)))
            .drop("_bucket")
            .collect(),
        )
    )
    assert sorted(map(tuple, prev.collect())) == want and len(want) > 0


def test_dedup_prev_bands_prunes_past_4096_touched_buckets(spark, tmp_path):
    """A batch touching thousands of storage buckets still reads the
    compacted band state through the _bucket partition filter, and gets
    exactly the touched buckets' rows."""
    p = 1 << 14
    work = str(tmp_path / "dedup_work_wide")
    state = spark.range(120).selectExpr(
        "id AS doc_id", "CAST(id % 4 AS INT) AS band", "CAST(id AS STRING) AS key"
    ).withColumn("_bucket", streaming._band_bucket_col(p))
    state.write.partitionBy("_bucket").parquet(
        streaming._gen_dir(work, "bands", 0)
    )
    streaming._write_manifest(
        work, {"gen": 0, "folded": [], "chk_id": None, "band_buckets": p}
    )
    # the batch shares the state's first 60 keys and brings 20k new ones
    nb = spark.range(20_060).selectExpr(
        "id + 1000000 AS doc_id",
        "CAST(id % 4 AS INT) AS band",
        "CAST(IF(id < 60, id, id + 1000) AS STRING) AS key",
    )
    touched = {
        r["b"]
        for r in nb.select(streaming._band_bucket_col(p).alias("b"))
        .distinct()
        .collect()
    }
    assert 4096 < len(touched) < p

    prev = streaming._read_prev_bands(
        spark, work, streaming.LOCAL_FS, 10**6, nb
    )
    _assert_bucket_partition_filter(prev)
    want = sorted(
        (r["doc_id"], r["band"], r["key"])
        for r in state.collect()
        if r["_bucket"] in touched
    )
    got = sorted(tuple(r) for r in prev.select("doc_id", "band", "key").collect())
    assert got == want
    assert 60 <= len(want) < 120  # shared keys kept, some others pruned


def test_flat_band_generation_fails_closed(spark, tmp_path):
    """A dedup manifest with a generation but no band_buckets was
    compacted flat, before the bucket layout. Both dedup entries raise
    LegacyStateError and leave the work_dir's listing unchanged."""
    import json

    import pyarrow.compute as pc

    from mosaic_engine import ops

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    half = pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0)
    sdir = str(tmp_path / "docs_stream_flat")
    os.makedirs(sdir)
    work = str(tmp_path / "dedup_work_flat")
    datagen.write_parquet(t.filter(half), os.path.join(sdir, "p1.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work)
    assert streaming.compact_dedup_logs(spark, work, target_partitions=2) == 1
    man_path = os.path.join(work, "tiles_manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    del man["band_buckets"]
    with open(man_path, "w") as f:
        json.dump(man, f)
    # a new file: without the refusal the stream would write a batch
    datagen.write_parquet(
        t.filter(pc.invert(half)), os.path.join(sdir, "p2.parquet")
    )

    def listing():
        return sorted((d, sorted(fs)) for d, _, fs in os.walk(work))

    before = listing()
    for call in (
        lambda: streaming.run_incremental_dedup(spark, sdir, work),
        lambda: streaming.compact_dedup_logs(spark, work),
    ):
        with pytest.raises(ops.LegacyStateError, match="fresh work_dir"):
            call()
    assert listing() == before


def test_incremental_dedup_refuses_unrecorded_guard_regime(spark, tmp_path):
    """(ADVICE r6) A work_dir that already holds bands_log batches but
    no dedup_config record predates the cap bookkeeping — its guard
    regime is unknown, and stamping the current default would silently
    mix regimes. It must refuse instead."""
    import pytest

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    sdir = str(tmp_path / "docs_stream_nr")
    os.makedirs(sdir)
    work = str(tmp_path / "dedup_work_nr")
    datagen.write_parquet(t, os.path.join(sdir, "p1.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work)
    os.remove(os.path.join(work, "dedup_config"))
    with pytest.raises(ValueError, match="dedup_config"):
        streaming.run_incremental_dedup(spark, sdir, work)
