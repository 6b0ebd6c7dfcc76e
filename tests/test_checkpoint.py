"""Checkpoint / resume / lineage (SURVEY.md §7.5, north rule)."""

from __future__ import annotations

import json
import os
import shutil

from mosaic_engine import checkpoint, mosaic as mz
from mosaic_engine.ops import MosaicConfig


def _build(spark, scenes_df, out, resume=False, **kw):
    cfg = MosaicConfig(quadkey_zoom=7, optimized_selection=True, **kw)
    return checkpoint.build_with_checkpoint(spark, scenes_df, cfg, out, resume=resume)


def test_checkpoint_build_and_full_resume(spark, scenes_df, tmp_path):
    out = str(tmp_path / "ckpt")
    doc1, m1 = _build(spark, scenes_df, out)
    assert m1["n_prefixes_skipped"] == 0
    assert m1["n_tiles"] == len(doc1["tiles"]) > 0
    # full resume: every prefix skipped, byte-identical document
    doc2, m2 = _build(spark, scenes_df, out, resume=True)
    assert m2["n_prefixes_skipped"] == m1["n_prefixes"]
    assert mz.canonical_json(doc2) == mz.canonical_json(doc1)
    # (r4) resume prunes compute, not just the write: scenes wholly
    # contained in completed prefixes never reach the explode
    assert m2["n_scenes_pruned_on_resume"] > 0
    assert m1["n_scenes_pruned_on_resume"] == 0
    # manifests carry lineage
    mans = checkpoint.read_manifests(out)
    assert len(mans) == m1["n_prefixes"]
    for m in mans.values():
        assert m["config_hash"] == m1["config_hash"]
        assert m["input_hash"] == m1["input_hash"]
        assert m["n_tiles"] > 0


def test_partial_resume_after_kill(spark, scenes_df, tmp_path):
    """Simulate a mid-run kill: one prefix's manifest+data lost."""
    out = str(tmp_path / "ckpt2")
    doc1, m1 = _build(spark, scenes_df, out)
    mans = checkpoint.read_manifests(out)
    victim = sorted(mans)[0]
    os.remove(os.path.join(out, "_manifest", f"{victim}.json"))
    shutil.rmtree(os.path.join(out, "assignments", f"qk_prefix={victim}"))
    doc2, m2 = _build(spark, scenes_df, out, resume=True)
    assert m2["n_prefixes_skipped"] == m1["n_prefixes"] - 1
    assert mz.canonical_json(doc2) == mz.canonical_json(doc1)


def test_resume_over_table_without_bounds_fails_closed(spark, scenes_df, tmp_path):
    """A checkpointed prefix written before the assignments carried the
    used-scene bounds is reused on resume, and the document assembly
    raises LegacyStateError instead of emitting partial bounds."""
    import pytest

    from mosaic_engine import ops

    out = str(tmp_path / "ckpt_legacy")
    _build(spark, scenes_df, out)
    victim = sorted(checkpoint.read_manifests(out))[0]
    pdir = os.path.join(out, "assignments", f"qk_prefix={victim}")
    old = spark.read.parquet(pdir).drop(
        "min_lon", "min_lat", "max_lon", "max_lat"
    ).collect()
    shutil.rmtree(pdir)
    spark.createDataFrame(old).write.parquet(pdir)
    with pytest.raises(ops.LegacyStateError, match="rebuild"):
        _build(spark, scenes_df, out, resume=True)


def test_config_change_invalidates(spark, scenes_df, tmp_path):
    out = str(tmp_path / "ckpt3")
    _build(spark, scenes_df, out)
    # different preference → hashes differ → nothing skipped
    doc, m = _build(spark, scenes_df, out, resume=True, preference="oldest")
    assert m["n_prefixes_skipped"] == 0


def test_metrics_file_written(spark, scenes_df, tmp_path):
    out = str(tmp_path / "ckpt4")
    _, m = _build(spark, scenes_df, out)
    with open(os.path.join(out, "metrics.json")) as f:
        on_disk = json.load(f)
    assert on_disk["n_assignments"] == m["n_assignments"] > 0
    with open(os.path.join(out, "mosaic.json")) as f:
        assert f.read().startswith('{"attribution"')


def test_input_change_invalidates(spark, scenes_df, tmp_path, fixture_dir):
    """New input files → input_hash differs → full recompute."""
    import shutil

    import pyarrow.parquet as pq

    from mosaic_engine import datagen

    src = str(tmp_path / "scenes_dir")
    os.makedirs(src)
    shutil.copy(
        os.path.join(fixture_dir, "scenes.parquet"),
        os.path.join(src, "a.parquet"),
    )
    df1 = spark.read.parquet(src)
    out = str(tmp_path / "ck")
    cfg = MosaicConfig(quadkey_zoom=7)
    _, m1 = checkpoint.build_with_checkpoint(spark, df1, cfg, out)
    # add a file → snapshot hash changes → resume skips nothing
    datagen.write_parquet(
        datagen.gen_scenes(n_scenes=20, paths=2, rows=2, seed=9),
        os.path.join(src, "b.parquet"),
    )
    df2 = spark.read.parquet(src)
    _, m2 = checkpoint.build_with_checkpoint(spark, df2, cfg, out, resume=True)
    assert m2["input_hash"] != m1["input_hash"]
    assert m2["n_prefixes_skipped"] == 0


def test_config_change_evicts_stale_partitions(spark, scenes_df, tmp_path):
    """(review r3) Resuming after a config change that ELIMINATES some
    prefixes must not let their old partitions leak into the rebuilt
    mosaic (dynamic overwrite alone would leave them on disk and the
    manifest loop would bless them under the new lineage)."""
    out = str(tmp_path / "ckpt_stale")
    doc_loose, m_loose = _build(spark, scenes_df, out)
    assert m_loose["n_prefixes"] > 1
    # tighter bounds → strictly fewer prefixes than the loose build
    tight = dict(bounds=(-124.0, 30.0, -116.0, 38.0), max_cloud=60.0)
    fresh_out = str(tmp_path / "ckpt_fresh")
    doc_fresh, m_fresh = _build(spark, scenes_df, fresh_out, **tight)
    assert m_fresh["n_prefixes"] < m_loose["n_prefixes"]
    # resume over the loose build's work dir with the tight config
    doc_resumed, m_resumed = _build(spark, scenes_df, out, resume=True, **tight)
    assert mz.canonical_json(doc_resumed) == mz.canonical_json(doc_fresh)
    # no stale partition dirs or manifests survive
    parts = {d.split("=", 1)[1]
             for d in os.listdir(os.path.join(out, "assignments"))
             if d.startswith("qk_prefix=")}
    assert parts == set(checkpoint.read_manifests(out))
    assert len(parts) == m_fresh["n_prefixes"]


def test_builder_restores_session_confs(spark, scenes_df, tmp_path):
    """(review r3) build_with_checkpoint must not leave the session in
    dynamic-partition-overwrite / no-type-inference mode."""
    k1 = "spark.sql.sources.partitionOverwriteMode"
    k2 = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = (spark.conf.get(k1), spark.conf.get(k2))
    _build(spark, scenes_df, str(tmp_path / "ckpt_conf"))
    assert (spark.conf.get(k1), spark.conf.get(k2)) == before


def test_snapshot_manifest_invalidates_same_name_rewrite(
    spark, scenes_df, tmp_path
):
    """(VERDICT r4 #4) Iceberg-shaped lineage: a table written through
    catalog.write_table carries a snapshot manifest, and an in-place
    rewrite behind IDENTICAL file names/sizes/mtimes — exactly what a
    remote name-only path (or forged stats) would hide — still flips
    input_snapshot_hash and forces a full recompute on resume."""
    from mosaic_engine import catalog

    src = str(tmp_path / "snap_scenes")
    catalog.write_table(scenes_df, src)
    assert catalog.read_snapshot_manifest(spark, src) is not None

    df1 = spark.read.parquet(src)
    h1 = checkpoint.input_snapshot_hash(df1)
    out = str(tmp_path / "snap_ck")
    cfg = MosaicConfig(quadkey_zoom=7)
    _, m1 = checkpoint.build_with_checkpoint(spark, df1, cfg, out)
    assert m1["input_hash"] == h1

    # adversarial in-place rewrite: same file names, sizes, and mtimes
    # (stat-level evidence fully forged), but a NEW snapshot commit —
    # as any write_table rewrite performs
    part = next(
        os.path.join(src, f)
        for f in os.listdir(src)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    st_before = os.stat(part)
    os.utime(part, ns=(st_before.st_atime_ns, st_before.st_mtime_ns))
    snap2 = catalog.write_snapshot_manifest(spark, src)
    st_after = os.stat(part)
    assert (st_before.st_size, st_before.st_mtime_ns) == (
        st_after.st_size,
        st_after.st_mtime_ns,
    )

    df2 = spark.read.parquet(src)
    h2 = checkpoint.input_snapshot_hash(df2)
    assert h2 != h1  # the manifest catches what stats cannot
    _, m2 = checkpoint.build_with_checkpoint(
        spark, df2, cfg, out, resume=True
    )
    assert m2["input_hash"] == h2
    assert m2["n_prefixes_skipped"] == 0  # checkpoints invalidated

    # control: with the manifest gone the stat fallback sees identical
    # evidence and would have reused the stale checkpoints — the gap
    # this feature closes
    os.remove(os.path.join(src, catalog.SNAPSHOT_FILE))
    h3 = checkpoint.input_snapshot_hash(spark.read.parquet(src))
    assert h3 == checkpoint.input_snapshot_hash(spark.read.parquet(src))
    assert h3 != h2

    # and a genuine same-snapshot resume still skips everything
    catalog.write_table(scenes_df, str(tmp_path / "snap_scenes2"))
    df3 = spark.read.parquet(str(tmp_path / "snap_scenes2"))
    out2 = str(tmp_path / "snap_ck2")
    _, a = checkpoint.build_with_checkpoint(spark, df3, cfg, out2)
    _, b = checkpoint.build_with_checkpoint(
        spark, df3, cfg, out2, resume=True
    )
    assert b["n_prefixes_skipped"] == a["n_prefixes"]


def test_snapshot_manifest_found_under_deep_partitioning(spark, tmp_path):
    """(r6 advice) input_snapshot_hash probes ancestors up to the FS
    root: a table partitioned by 3+ columns puts its data files 3+
    dirs below the root holding _snapshot.json, and the old fixed
    3-level walk silently degraded lineage to stat/name there —
    exactly the rewrite-behind-same-names case the snapshot catches."""
    from mosaic_engine import catalog, checkpoint

    src = str(tmp_path / "deep_tbl")
    df = spark.range(24).selectExpr(
        "id", "id % 2 AS a", "id % 3 AS b", "id % 2 AS c"
    )
    catalog.write_table(df, src, partition_by=["a", "b", "c"])
    read = spark.read.parquet(src)
    h1 = checkpoint.input_snapshot_hash(read)
    # a new snapshot commit over byte-identical files must flip the
    # hash — only possible if the deep probe actually found the
    # manifest both times
    catalog.write_snapshot_manifest(spark, src)
    h2 = checkpoint.input_snapshot_hash(spark.read.parquet(src))
    assert h1 != h2


def test_torn_snapshot_manifest_degrades_not_crashes(spark, tmp_path):
    """(r6 advice) write_snapshot_manifest commits via temp+rename, and
    a torn/truncated manifest left by a crash on a store without
    atomic rename reads as ABSENT: lineage degrades to stat/name and
    write_table(mode='ignore') re-commits instead of raising."""
    from mosaic_engine import catalog, checkpoint

    src = str(tmp_path / "torn_tbl")
    catalog.write_table(spark.range(5), src)
    mpath = os.path.join(src, catalog.SNAPSHOT_FILE)
    assert not os.path.exists(mpath + ".tmp")  # temp renamed away
    full = open(mpath).read()
    with open(mpath, "w") as f:
        f.write(full[: len(full) // 2])  # torn mid-write
    assert catalog.read_snapshot_manifest(spark, src) is None
    h = checkpoint.input_snapshot_hash(spark.read.parquet(src))
    assert h and not h.startswith("nofiles-")
    # mode='ignore' sees no (valid) manifest and re-commits one
    catalog.write_table(spark.range(5), src, mode="ignore")
    assert catalog.read_snapshot_manifest(spark, src) is not None


def test_snapshot_manifest_outage_raises(spark, tmp_path, monkeypatch):
    """Both manifest reads fail with a non-corruption error and the
    existence probe fails too: absence cannot be told from an outage,
    so read_snapshot_manifest raises instead of answering 'absent'
    (which would let write_table(mode='ignore') re-commit over a
    healthy manifest)."""
    import pytest

    from mosaic_engine import catalog

    class OutageFS:
        probes = 0

        def exists(self, path):
            self.probes += 1
            if self.probes > 1:
                raise OSError("object store unreachable")
            return True

        def open(self, path):
            raise OSError("connection reset")

    src = str(tmp_path / "outage_tbl")
    catalog.write_table(spark.range(3), src)
    real = catalog._fs_and_path
    monkeypatch.setattr(
        catalog, "_fs_and_path",
        lambda sp, loc: (OutageFS(), real(sp, loc)[1]),
    )
    with pytest.raises(OSError, match="unreachable"):
        catalog.read_snapshot_manifest(spark, src)


def test_lineage_and_guard_edges(spark, scenes_df, tmp_path):
    """(r5 review) Non-file inputs yield a never-matching lineage token
    (resume degrades to recompute, never serves stale data); a remote
    out_dir fails loud instead of splitting data from manifests."""
    from pyspark.sql import Row

    mem = spark.createDataFrame([Row(a=1)])
    h1 = checkpoint.input_snapshot_hash(mem)
    h2 = checkpoint.input_snapshot_hash(mem)
    assert h1.startswith("nofiles-") and h1 != h2

    import pytest

    with pytest.raises(ValueError, match="POSIX-bound"):
        checkpoint.build_with_checkpoint(
            spark, scenes_df, MosaicConfig(quadkey_zoom=7),
            "s3a://bucket/ckpt",
        )
