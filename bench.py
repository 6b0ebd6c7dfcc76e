"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
mosaic build over a cached deterministic synthetic scenes table
(N_SCENES, no payloads). Output:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "tiles_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_SCENES = int(os.environ.get("BENCH_SCENES", "1000000"))
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")


def bench_scenes_path() -> str:
    os.makedirs(CACHE, exist_ok=True)
    path = os.path.join(CACHE, f"scenes_bulk_{N_SCENES}.parquet")
    if not os.path.exists(path):
        from mosaic_engine import datagen

        # vectorized generator; 50x20 grid keeps footprints inside
        # valid latitudes (25..61°N)
        t = datagen.gen_scenes_bulk(N_SCENES, paths=50, rows=20, seed=42)
        datagen.write_parquet(t, path)
    return path


def main():
    import __spark_entry__ as entrymod
    from mosaic_engine import mosaic as mz
    from mosaic_engine import ops
    from mosaic_engine.job import make_session

    scenes_path = bench_scenes_path()
    spark = make_session(
        cores=CPUS, shuffle_partitions=max(int(CPUS) * 2, 16), app="bench"
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM + Python UDF workers so the first measured query
    # isn't charged for process startup
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x):
        return x

    spark.range(100_000).select(F.sum(_warm("id"))).collect()

    times: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name, fn):
        # one untimed warm-up execution per query, then best-of-2
        # measured runs: the warm pass absorbs first-execution effects
        # (query compile, UDF worker spin-up, shuffle-dir creation —
        # VERDICT r2 'What's wrong' #3), and the best-of-2 absorbs
        # transient shared-box stalls (a first-after-boot run has
        # measured 6x steady state on identical code) — what we report
        # is repeatable per-query wall time
        fn()
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        t0 = time.time()
        out = fn()
        times[name] = round(min(dt, time.time() - t0), 3)
        return out

    def timed_reload(name, fn):
        # index-reload lanes: the per-lane number in `times` follows the
        # same warm+best-of-2 protocol as every other lane, so it is a
        # WARM-CACHE RELOAD measurement (index parquet hot in the OS
        # page cache, session warmed) — NOT a true process-restart cost.
        # The genuinely first execution in this process is recorded
        # separately in extras as {name}_first_exec_sec; a real restart
        # lands between the two (page cache may or may not survive).
        t0 = time.time()
        out = fn()
        extras[f"{name}_first_exec_sec"] = round(time.time() - t0, 3)
        timed(name, fn)
        return out

    # flagship: mosaic build (assignment count == produced tile rows).
    # repartition: the cached fixture is ONE parquet file (< one split);
    # real inputs arrive as many files, so spread it across the cores.
    scenes = spark.read.parquet(scenes_path).repartition(int(CPUS) * 4).cache()
    scenes.count()  # materialize: IO/repartition excluded from measures
    cfg = ops.MosaicConfig(quadkey_zoom=8, optimized_selection=False)

    def mosaic_build():
        assign = mz.quadkey_assignments(scenes, cfg)
        return assign.agg({"n_assets": "sum", "quadkey": "count"}).collect()[0]

    row = timed("mosaic_build_synthetic", mosaic_build)
    n_assign = int(row["sum(n_assets)"] or 0)

    # cell-banded kNN over the synthetic scenes (J3 at scale shape)
    from mosaic_engine import datagen

    qpath = os.path.join(CACHE, "knn_queries.parquet")
    if not os.path.exists(qpath):
        datagen.write_parquet(datagen.gen_knn_queries(n=500, seed=42), qpath)
    knn_queries = spark.read.parquet(qpath)
    # level auto-picked from corpus density (knn_pick_level — resolves
    # to 8 at 1M scenes: ~1.4° cells, ~15 scenes/cell)
    timed(
        "knn_banded_synthetic",
        lambda: ops.knn_join(scenes, knn_queries).count(),
    )
    # serving path: corpus index built once (index-on-ingest), probe
    # batches reuse it — what a tile/scene-lookup service actually runs
    knn_idx = ops.knn_index(scenes, k_hint=3)
    timed(
        "knn_banded_served",
        lambda: ops.knn_join(None, knn_queries, index=knn_idx).count(),
    )
    # reload serving (r4, annotated r5): the index persisted at ingest
    # time and reloaded from parquet — a warm-cache reload measurement
    # (see timed_reload), with the first in-process execution recorded
    # in extras for the closer-to-restart number
    # existence sentinel = the COMMIT record's _SUCCESS marker (meta is
    # written last by knn_index_save's generation scheme), so an
    # interrupted save can never wedge later runs on a partial index
    # v6: one flat index format (no storage-region partitions, no
    # stored prep rollup; v5 and older generations now fail closed on
    # load), so earlier on-disk indexes are stale; superseded
    # knn_index_v*_ dirs are GC'd so each key bump doesn't leave a
    # multi-GB orphan in the cache forever
    import glob as _glob
    import shutil as _shutil

    idx_path = os.path.join(CACHE, f"knn_index_v6_{N_SCENES}")
    for old in _glob.glob(os.path.join(CACHE, f"knn_index_v*_{N_SCENES}")):
        if old != idx_path:
            _shutil.rmtree(old, ignore_errors=True)
    if not os.path.exists(os.path.join(idx_path, "meta", "_SUCCESS")):
        ops.knn_index_save(knn_idx, idx_path)
    timed_reload(
        "knn_banded_cold_index",
        lambda: ops.knn_join(
            None, knn_queries, index=ops.knn_index_load(spark, idx_path)
        ).count(),
    )
    # bulk serving (r5 — VERDICT r4 #5): a 100k-probe batch through the
    # same served index. The 1M-scene corpus fits KNN_RESIDENT_ROWS, so
    # the request is one mapInArrow over the probes against the members
    # resident in the index (plan-asserted in tests/test_plans.py); the
    # probes come from one parquet file, so knn_join spreads them over
    # defaultParallelism partitions first (one round-robin exchange)
    qpath_bulk = os.path.join(CACHE, "knn_queries_100k.parquet")
    if not os.path.exists(qpath_bulk):
        datagen.write_parquet(
            datagen.gen_knn_queries(n=100_000, seed=43), qpath_bulk
        )
    knn_queries_bulk = spark.read.parquet(qpath_bulk)
    # single measured run (not timed()'s warm+best-of-2): the lane is
    # ~60 s and the session/index are already hot from the lanes above;
    # tripling it would dominate the whole bench wall for ~2 s of
    # compile noise on a 60 s measurement
    t0 = time.time()
    ops.knn_join(None, knn_queries_bulk, index=knn_idx).count()
    times["knn_served_100k_probes"] = round(time.time() - t0, 3)
    extras["n_scenes"] = N_SCENES
    extras["n_assignments"] = n_assign
    # one row per tile-asset assignment; "tiles_per_sec" kept one round
    # for BENCH_r* continuity, same value under the accurate name
    rate = round(n_assign / times["mosaic_build_synthetic"], 1)
    extras["assignments_per_sec"] = rate
    extras["tiles_per_sec"] = rate

    # driver-table headline queries
    qs = entrymod.queries()
    for name in (
        "geo_tile_assign",
        "geo_quadkey_agg",
        "geo_knn_brute",
        "dedup_minhash_lsh_pairs",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "dedup_clusters",
        "text_fingerprint",
        "text_token_count_bpe",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "tpch_q1",
        "tpch_q3",
    ):
        timed(name, lambda n=name: qs[n](spark, SF_DIR).count())

    # IVF serving path (r4): train+assign once, persist the inverted
    # lists, then serve from the cold-loaded partitioned corpus (DPP
    # reads only the probed lists' bytes)
    from mosaic_engine import annops

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    ivf_path = os.path.join(
        CACHE, f"ivf_index_{SF_DIR.rstrip('/').split('sf')[-1]}"
    )
    if not os.path.exists(os.path.join(ivf_path, "meta", "_SUCCESS")):
        annops.ivf_index_save(annops.ivf_index(emb), ivf_path)
    timed_reload(
        "ann_ivf_served",
        lambda: annops.ivf_topk(
            None, index=annops.ivf_index_load(spark, ivf_path)
        ).count(),
    )

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query wall time (mosaic build + geo/dedup/ann/tpch suite)",
                "value": total,
                "unit": "sec",
                "queries": times,
                "timing": "best of 2 runs per query (first run warms, untimed)",
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "cores": int(CPUS),
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
