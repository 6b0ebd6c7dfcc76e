"""Skew-engagement evidence (VERDICT r4 #2).

Constructs a HOTSPOT corpus (datagen's hotspot knob: a large fraction
of all scenes revisit one 4°×4° region) plus a vector layer clustered
in the same region, then measures the per-task time distribution of:

  1. raster_vector_join with salt_buckets=8 (default) vs salt_buckets=1
     (salting disabled) — the max-task-time ratio shows the salt
     actually engages: without it one task owns every hot cell's
     within-cell cross product;
  2. the kNN scoring stage under a probe batch clustered entirely
     inside the hotspot — evidence that the r5 fused score+partial
     combiner keeps per-task work vectorized and per-task OUTPUT
     bounded (≤ queries×k), so a hot storage region degrades
     throughput linearly, not catastrophically;
  3. a capped build_mosaic (max_assets_per_tile=CAP) over the same
     corpus — the selection's skew case: each hot cell's rows meet in
     one merge task after the map-side partial collect (walls of 3 warm
     builds, and the hottest stage's task spread).

Run: python scripts/bench_skew.py   (env: SPARK_GRAFT_CPUS, default 32)
Prints one JSON line; the measured numbers live in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mosaic_engine import datagen, mosaic, ops  # noqa: E402
from mosaic_engine.job import make_session  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_SCENES = 100_000
N_VECTORS = 6_000
HOT_FRAC = 0.8
CAP = 5


def _hot_center() -> tuple[float, float]:
    """Center of datagen's hotspot 2x2 grid cells (paths=rows=10)."""
    hp, hr = 10 // 2 + 1, 10 // 2 + 1
    lon = datagen.GRID_LON_BASE + (hp - 0.5) * datagen.GRID_DLON
    lat = datagen.GRID_LAT_BASE + (hr - 0.5) * datagen.GRID_DLAT
    return lon, lat


def gen_clustered_vectors(n: int, hot_frac: float, seed: int = 7) -> pa.Table:
    rng = np.random.default_rng(seed)
    clon, clat = _hot_center()
    recs = []
    for fid in range(n):
        if rng.random() < hot_frac:
            cx = clon + float(rng.uniform(-2.0, 2.0))
            cy = clat + float(rng.uniform(-2.0, 2.0))
        else:
            cx = float(rng.uniform(-131.0, -106.0))
            cy = float(rng.uniform(24.0, 45.0))
        half = float(rng.uniform(0.1, 0.5))
        xs = [cx - half, cx + half, cx + half, cx - half, cx - half]
        ys = [cy - half, cy - half, cy + half, cy + half, cy - half]
        recs.append((fid, xs, ys, '{"kind":"skew"}'))
    return pa.Table.from_pydict(
        {
            "feature_id": pa.array([r[0] for r in recs], pa.int64()),
            "xs": pa.array([r[1] for r in recs], pa.list_(pa.float64())),
            "ys": pa.array([r[2] for r in recs], pa.list_(pa.float64())),
            "tags": pa.array([r[3] for r in recs], pa.string()),
        }
    )


def gen_clustered_probes(n: int, seed: int = 11) -> pa.Table:
    rng = np.random.default_rng(seed)
    clon, clat = _hot_center()
    return pa.Table.from_pydict(
        {
            "query_id": pa.array(range(n), pa.int64()),
            "lon": pa.array(clon + rng.uniform(-2, 2, n), pa.float64()),
            "lat": pa.array(clat + rng.uniform(-2, 2, n), pa.float64()),
            "k": pa.array(np.full(n, 5, dtype=np.int32), pa.int32()),
        }
    )


def stage_metrics(spark, after_stage: int) -> list[dict]:
    ui = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0][
        "id"
    ]
    stages = json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete"
        )
    )
    out = []
    for s in stages:
        if s["stageId"] <= after_stage:
            continue
        sid = s["stageId"]
        try:
            det = json.load(
                urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app}/stages/{sid}/0/"
                    "taskSummary?quantiles=0.5,1.0"
                )
            )
            p50, mx = det["executorRunTime"]
        except Exception:
            p50 = mx = 0.0
        out.append(
            {
                "stageId": sid,
                "runTime_s": round(s["executorRunTime"] / 1000, 2),
                "tasks": s["numCompleteTasks"],
                "task_p50_s": round(p50 / 1000, 2),
                "task_max_s": round(mx / 1000, 2),
            }
        )
    return out


def max_stage_id(spark) -> int:
    ui = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0][
        "id"
    ]
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
    )
    return max((s["stageId"] for s in stages), default=-1)


def main():
    spark = make_session(
        cores=CPUS, shuffle_partitions=CPUS * 2, app="bench_skew"
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = "/tmp/bench_skew"
    os.makedirs(tmp, exist_ok=True)
    sp = os.path.join(tmp, f"scenes_{N_SCENES}.parquet")
    vp = os.path.join(tmp, "vectors.parquet")
    qp = os.path.join(tmp, "probes.parquet")
    if not os.path.exists(sp):
        datagen.write_parquet(
            datagen.gen_scenes(
                n_scenes=N_SCENES,
                paths=10,
                rows=10,
                seed=42,
                payload=False,
                hotspot_frac=HOT_FRAC,
            ),
            sp,
        )
    if not os.path.exists(vp):
        datagen.write_parquet(gen_clustered_vectors(N_VECTORS, 0.8), vp)
    if not os.path.exists(qp):
        datagen.write_parquet(gen_clustered_probes(2000), qp)
    scenes = spark.read.parquet(sp).repartition(CPUS * 2).cache()
    scenes.count()
    vectors = spark.read.parquet(vp)
    probes = spark.read.parquet(qp)

    results = {}
    # ---- raster_vector_join: salted vs unsalted ----
    # at bench scale the exploded vector side fits the planner's
    # auto-broadcast threshold and the join never shuffles — the exact
    # regime where salting is moot. The 100-TB regime this evidence
    # targets has BOTH sides data-scale (shuffle hash join on the
    # quadkey), so force that plan shape for the measurement.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # AQE skew-join split is the RUNTIME backstop for the same problem
    # and would mask the salt in this A/B — disable it for the
    # measurement (production keeps both defenses on)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")

    import statistics

    from pyspark.sql import functions as F

    def consume(salt):
        # a COUNT alone lets Catalyst prune all per-pair work, so the
        # hot key merges at memory speed and no skew is visible; every
        # real consumer touches each pair at least once — model that
        # with a per-pair hash + aggregate, kept inside the join stage
        out = ops.raster_vector_join(
            scenes, vectors, zoom=6, salt_buckets=salt
        )
        return (
            out.select(F.xxhash64("image_id", "feature_id").alias("h"))
            .agg(F.sum(F.pmod(F.col("h"), F.lit(1_000_000))))
            .first()
        )

    walls = {1: [], 8: []}
    for salt in (1, 8):
        consume(salt)  # warm
    for _ in range(3):
        for salt in (1, 8):
            before = max_stage_id(spark)
            t0 = time.time()
            consume(salt)
            walls[salt].append(round(time.time() - t0, 2))
            stages = stage_metrics(spark, before)
            hot = max(
                (s for s in stages if s["tasks"] > 1),
                key=lambda s: s["runTime_s"],
            )
            results[f"rv_salt{salt}_hot_stage"] = hot
    results["rv_salt1_walls"] = walls[1]
    results["rv_salt8_walls"] = walls[8]
    results["rv_wall_ratio_unsalted_over_salted"] = round(
        statistics.median(walls[1]) / statistics.median(walls[8]), 2
    )
    results["rv_max_task_ratio_unsalted_over_salted"] = round(
        results["rv_salt1_hot_stage"]["task_max_s"]
        / max(results["rv_salt8_hot_stage"]["task_max_s"], 0.01),
        2,
    )

    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    # ---- kNN scoring under a fully-clustered probe batch ----
    idx = ops.knn_index(scenes, k_hint=5)
    ops.knn_join(None, probes, index=idx).count()  # warm
    before = max_stage_id(spark)
    t0 = time.time()
    n = ops.knn_join(None, probes, index=idx).count()
    wall = time.time() - t0
    stages = stage_metrics(spark, before)
    hot = max(
        (s for s in stages if s["tasks"] > 1), key=lambda s: s["runTime_s"]
    )
    results["knn_clustered_probes"] = {
        "wall_s": round(wall, 2),
        "rows": n,
        "hot_stage": hot,
    }

    results["capped_build"] = capped_build(spark, scenes)

    print(json.dumps(results))
    spark.stop()


def capped_build(spark, scenes) -> dict:
    """Walls of 3 capped builds (after one warm-up) and the hottest
    stage of the last one."""
    cfg = ops.MosaicConfig(quadkey_zoom=8, max_assets_per_tile=CAP)
    mosaic.build_mosaic(scenes, cfg)  # warm
    walls = []
    for _ in range(3):
        before = max_stage_id(spark)
        t0 = time.time()
        mosaic.build_mosaic(scenes, cfg)
        walls.append(round(time.time() - t0, 2))
    stages = stage_metrics(spark, before)
    hot = max(stages, key=lambda s: s["runTime_s"])
    return {"walls": walls, "hot_stage": hot}


if __name__ == "__main__":
    main()
