"""spark-submit entrypoint + session factory.

Usage (local or cluster — same code path; on a cluster pass the package
via ``spark-submit --py-files mosaic_engine.zip mosaic_engine/job.py``):

    python -m mosaic_engine.job build --scenes scenes.parquet \
        --out /tmp/mosaic --quadkey-zoom 8 --preference newest \
        --optimized-selection --max-cloud 25

Subcommands: build | missing | knn | tiles | info | gen (fixtures).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def make_session(
    cores: int | str = "*",
    shuffle_partitions: int = 32,
    app: str = "mosaic_engine",
    extra_conf: dict | None = None,
):
    """Local session factory; on a real cluster the builder inherits the
    spark-submit master/conf instead of local[N].

    On the local[N] branch the Python worker daemon is
    `mosaic_engine._pydaemon`: it starts workers with Spark's
    pyspark/py4j zips off `sys.path` (when the installed pyspark is the
    same version), so a task no longer pays ~0.2 s re-reading their
    zip directories before its kernel runs. The daemon starts before
    any --py-files arrive, so it is importable only through
    `spark.executorEnv.PYTHONPATH`, which this factory points at the
    repo; on a cluster that path is not ours to set, so the conf is
    left alone there."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # pin the session timezone (r5 review): event timestamps are
        # parquet TIMESTAMP_NTZ, and unix_timestamp/date_trunc interpret
        # NTZ through the SESSION zone — on a non-UTC host every
        # hour_epoch would shift by the UTC offset and sessionization
        # would split differently across DST, silently diverging from
        # the timezone-free DuckDB oracles
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # min(struct)/collect_list use ObjectHashAggregate; the default
        # 128-key fallback degrades to an external SORT of every row —
        # pathological for our per-cell group counts
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
    )
    # single-node shuffle: RAM-backed local dirs avoid 32-way disk
    # contention (real clusters give each executor its own disks)
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    if not os.environ.get("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        b = b.master(f"local[{cores}]").config(
            "spark.python.daemon.module", "mosaic_engine._pydaemon"
        )
    # make this package importable in Python workers regardless of cwd
    # (on a real cluster, spark-submit --py-files does this instead)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{prev}" if prev else pkg_parent
        )
    b = b.config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _add_cfg_args(p: argparse.ArgumentParser):
    p.add_argument("--quadkey-zoom", type=int, default=8)
    p.add_argument("--minzoom", type=int, default=7)
    p.add_argument("--maxzoom", type=int, default=12)
    p.add_argument(
        "--preference",
        choices=["newest", "oldest", "closest-to-date"],
        default="newest",
    )
    p.add_argument("--closest-date", default=None)
    p.add_argument("--optimized-selection", action="store_true")
    p.add_argument("--max-cloud", type=float, default=100.0)
    p.add_argument("--min-cloud", type=float, default=0.0)
    p.add_argument("--bounds", default=None, help="w,s,e,n")
    p.add_argument("--min-date", default=None)
    p.add_argument("--max-date", default=None)
    p.add_argument("--season", action="append", default=[])
    p.add_argument("--tier-only", action="store_true")
    p.add_argument("--max-assets-per-tile", type=int, default=None)


def _cfg_from_args(a) -> "MosaicConfig":
    from .ops import MosaicConfig

    return MosaicConfig(
        quadkey_zoom=a.quadkey_zoom,
        minzoom=a.minzoom,
        maxzoom=a.maxzoom,
        preference=a.preference,
        closest_date=a.closest_date,
        optimized_selection=a.optimized_selection,
        max_cloud=a.max_cloud,
        min_cloud=a.min_cloud,
        bounds=tuple(float(x) for x in a.bounds.split(",")) if a.bounds else None,
        min_date=a.min_date,
        max_date=a.max_date,
        seasons=tuple(a.season),
        tier_only=a.tier_only,
        max_assets_per_tile=a.max_assets_per_tile,
    )


def main(argv=None):
    ap = argparse.ArgumentParser("mosaic_engine")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "*"))
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="scenes parquet → mosaicJSON (E1)")
    b.add_argument("--scenes", required=True)
    b.add_argument("--out", required=True, help="output dir")
    b.add_argument("--resume", action="store_true")
    _add_cfg_args(b)

    m = sub.add_parser("missing", help="land + mosaic → gap quadkeys (E3)")
    m.add_argument("--scenes", required=True)
    m.add_argument("--land", required=True)
    m.add_argument("--out", required=True)
    _add_cfg_args(m)

    kp = sub.add_parser("knn", help="k nearest scenes per probe point (J3)")
    kp.add_argument("--scenes", required=True)
    kp.add_argument("--queries", required=True)
    kp.add_argument("--out", required=True)
    kp.add_argument(
        "--level", type=int, default=None,
        help="banding level; default auto-picks from corpus density",
    )

    tl = sub.add_parser(
        "tiles", help="batched tile reads: requests (tx,ty)@z → assets"
    )
    tl.add_argument("--scenes", required=True)
    tl.add_argument("--requests", required=True, help="parquet with tx,ty")
    tl.add_argument("--z", type=int, required=True, help="request zoom")
    tl.add_argument("--out", required=True)
    _add_cfg_args(tl)

    info = sub.add_parser("info", help="stats for a built mosaic dir (A5)")
    info.add_argument("--out", required=True, help="build output dir")

    g = sub.add_parser("gen", help="write deterministic fixture tables")
    g.add_argument("--out", required=True)
    g.add_argument("--n-scenes", type=int, default=200)
    g.add_argument("--paths", type=int, default=10)
    g.add_argument("--rows", type=int, default=10)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--no-payload", action="store_true")

    a = ap.parse_args(argv)

    if a.cmd == "gen":
        from . import datagen

        os.makedirs(a.out, exist_ok=True)
        datagen.write_parquet(
            datagen.gen_scenes(
                a.n_scenes, a.paths, a.rows, a.seed, payload=not a.no_payload
            ),
            os.path.join(a.out, "scenes.parquet"),
        )
        datagen.write_parquet(
            datagen.gen_land(a.seed), os.path.join(a.out, "land.parquet")
        )
        datagen.write_parquet(
            datagen.gen_knn_queries(seed=a.seed),
            os.path.join(a.out, "knn_queries.parquet"),
        )
        datagen.write_parquet(
            datagen.gen_vector_tiles(seed=a.seed),
            os.path.join(a.out, "vector_tiles.parquet"),
        )
        print(json.dumps({"written": a.out}))
        return 0

    if a.cmd == "info":
        from . import checkpoint

        with open(os.path.join(a.out, "metrics.json")) as f:
            metrics = json.load(f)
        mans = checkpoint.read_manifests(a.out)
        metrics["prefixes"] = {
            p: {"n_tiles": m["n_tiles"], "n_assignments": m["n_assignments"]}
            for p, m in sorted(mans.items())
        }
        print(json.dumps(metrics, indent=2))
        return 0

    spark = make_session(cores=a.cores)
    t0 = time.time()
    if a.cmd == "build":
        from . import checkpoint

        cfg = _cfg_from_args(a)
        scenes = spark.read.parquet(a.scenes)
        doc, metrics = checkpoint.build_with_checkpoint(
            spark, scenes, cfg, a.out, resume=a.resume
        )
        elapsed = time.time() - t0
        rate = metrics["n_assignments"] / max(elapsed, 1e-9)
        metrics.update(
            elapsed_sec=elapsed,
            # n_assignments / sec (one row per tile-asset pair) — naming it
            # tiles_per_sec overstated throughput by the assets-per-tile
            # factor; the old key is kept one deprecation round (same
            # value) so existing consumers keep parsing, matching bench.py
            assignments_per_sec=rate,
            tiles_per_sec=rate,
        )
        print(json.dumps(metrics))
    elif a.cmd == "missing":
        from . import mosaic

        cfg = _cfg_from_args(a)
        scenes = spark.read.parquet(a.scenes)
        land = spark.read.parquet(a.land)
        assign = mosaic.quadkey_assignments(scenes, cfg)
        gj, _ = mosaic.missing_quadkeys_geojson(land, assign, cfg.quadkey_zoom)
        os.makedirs(a.out, exist_ok=True)
        with open(os.path.join(a.out, "missing.geojson"), "w") as f:
            f.write(gj)
        print(json.dumps({"elapsed_sec": time.time() - t0, "out": a.out}))
    elif a.cmd == "knn":
        from . import ops

        scenes = spark.read.parquet(a.scenes)
        queries = spark.read.parquet(a.queries)
        res = ops.knn_join(scenes, queries, level=a.level)
        res.write.mode("overwrite").parquet(os.path.join(a.out, "knn.parquet"))
        print(json.dumps({"elapsed_sec": time.time() - t0, "out": a.out}))
    elif a.cmd == "tiles":
        from . import mosaic, ops

        cfg = _cfg_from_args(a)
        scenes = spark.read.parquet(a.scenes)
        assign = mosaic.quadkey_assignments(scenes, cfg)
        requests = spark.read.parquet(a.requests)
        res = ops.assets_for_tiles(assign, requests, a.z, cfg.quadkey_zoom)
        res.write.mode("overwrite").parquet(os.path.join(a.out, "tiles.parquet"))
        print(json.dumps({"elapsed_sec": time.time() - t0, "out": a.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
