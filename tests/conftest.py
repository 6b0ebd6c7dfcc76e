"""Shared fixtures: one local Spark session + deterministic scene tables."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mosaic_engine import datagen


@pytest.fixture(scope="session")
def spark():
    from mosaic_engine.job import make_session

    s = make_session(cores=8, shuffle_partitions=8, app="mosaic_engine_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    datagen.write_parquet(
        datagen.gen_scenes(n_scenes=150, paths=6, rows=6, seed=42),
        str(d / "scenes.parquet"),
    )
    datagen.write_parquet(datagen.gen_land(42), str(d / "land.parquet"))
    datagen.write_parquet(
        datagen.gen_knn_queries(n=60, seed=42), str(d / "knn_queries.parquet")
    )
    datagen.write_parquet(
        datagen.gen_vector_tiles(n=120, seed=42), str(d / "vector_tiles.parquet")
    )
    return str(d)


@pytest.fixture(scope="session")
def scene_records(fixture_dir):
    """The same scenes as python dicts for the pure-Python oracle."""
    import pyarrow.parquet as pq

    recs = pq.read_table(os.path.join(fixture_dir, "scenes.parquet")).to_pylist()
    for r in recs:
        r["acquisition_date"] = pd.Timestamp(r["acquisition_date"])
    return recs


@pytest.fixture(scope="session")
def scenes_df(spark, fixture_dir):
    return spark.read.parquet(os.path.join(fixture_dir, "scenes.parquet"))


@pytest.fixture
def force_compaction(spark, monkeypatch):
    """force(True) makes every top-k kernel built afterwards take its
    compaction branch: a one-row compaction floor, 64-pair scoring
    blocks and two-row Arrow batches, so a task holds many scored
    parts. force(False) restores the defaults."""
    from mosaic_engine import ops

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = (
        ops.TOPK_COMPACT_ROWS, ops.SCORE_BLOCK_PAIRS, spark.conf.get(conf)
    )

    def force(on: bool) -> None:
        floor, block, batch = (1, 64, "2") if on else default
        monkeypatch.setattr(ops, "TOPK_COMPACT_ROWS", floor)
        monkeypatch.setattr(ops, "SCORE_BLOCK_PAIRS", block)
        spark.conf.set(conf, batch)

    yield force
    spark.conf.set(conf, default[2])
