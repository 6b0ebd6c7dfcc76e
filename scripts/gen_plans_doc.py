"""Regenerate docs/PLANS.md — the flagship physical plans with
commentary (task brief: '.explain("formatted")' the plan and iterate
until it's the plan you'd want). Run: python scripts/gen_plans_doc.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from mosaic_engine import datagen, job, mosaic as mz, ops, udfs
    from mosaic_engine.ops import MosaicConfig

    spark = job.make_session(cores=8, shuffle_partitions=8, app="plans")
    spark.sparkContext.setLogLevel("ERROR")
    path = "/tmp/plans_scenes.parquet"
    if not os.path.exists(path):
        datagen.write_parquet(datagen.gen_scenes(150, 6, 6, 42), path)
    scenes = spark.read.parquet(path)

    cfg = MosaicConfig(
        quadkey_zoom=7,
        optimized_selection=True,
        max_cloud=80.0,
        bounds=(-130.0, 25.0, -100.0, 45.0),
    )
    filtered = ops.filter_scenes(scenes, cfg)
    tiles = udfs.explode_to_quadkeys(
        filtered, cfg.quadkey_zoom, passthrough=mz.EXPLODE_PASSTHROUGH
    )
    assign = ops.assignments(tiles, cfg)

    qpath = "/tmp/plans_knn_queries.parquet"
    if not os.path.exists(qpath):
        datagen.write_parquet(datagen.gen_knn_queries(n=60, seed=42), qpath)
    # a local probe table, as a served request's: it holds
    # defaultParallelism partitions, so knn_join does not re-spread it
    probes = spark.createDataFrame(spark.read.parquet(qpath).toPandas())
    knn = ops.knn_join(scenes, probes, level=5)
    # the union-kernel path (members not resident), forced by a zero
    # residency bound while the index is built
    _saved_bound = ops.KNN_RESIDENT_ROWS
    ops.KNN_RESIDENT_ROWS = 0
    knn_union = ops.knn_join(scenes, probes, level=5)
    ops.KNN_RESIDENT_ROWS = _saved_bound

    from mosaic_engine import annops, textops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lsh_pairs = textops.minhash_lsh_pairs(docs)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = annops.ivf_topk(emb, n_queries=10, k=5, n_probe=2)

    from mosaic_engine import streaming, textops as _to

    # incremental star-guard stats pass: batch bands vs a persisted
    # parquet band state (the shape each micro-batch executes)
    prev_path = "/tmp/plans_bands_prev.parquet"
    if not os.path.exists(prev_path):
        _to.minhash_banded(docs).write.parquet(prev_path)
    inc_stats = streaming._cumulative_bucket_stats(
        _to.minhash_banded(docs.limit(40)),
        spark.read.parquet(prev_path),
    )
    inc_stats.count()  # executed plan: AQE's final join strategy

    sections = [
        (
            "Filtered scan (F1–F5)",
            "Every CLI filter is a Catalyst predicate: all of them reach "
            "the parquet scan as PushedFilters, and ReadSchema carries "
            "only the referenced columns. On an Iceberg table the same "
            "plan prunes partitions/files by these predicates.",
            formatted(filtered.select("image_id")),
        ),
        (
            "Fused footprint→cell explode (J1 = G2∘G5∘G7)",
            "ONE map-only stage: scan → (pushed) filter → Arrow batch → "
            "numpy kernels (bbox cover, exact polygon∩tile, packed int64 "
            "cell encode). No Exchange anywhere — the tile grid is "
            "computed, not stored, so the spatial join needs no shuffle. "
            "r7: the kernel emits one row per SCENE with a packed-cell "
            "ARRAY (passthrough columns cross the Python boundary once, "
            "as Arrow buffers) and the (scene, cell) pair expansion is "
            "the JVM codegen Generate below it — boundary rows are "
            "|scenes|, not |pairs|.",
            formatted(tiles),
        ),
        (
            "Selection aggregation (A1–A3, one exchange)",
            "Shuffle keys are int64 cells. Stage 1: per-(cell,path,row) "
            "best scene via min(struct) with map-side partial_min — "
            "dense quadkeys never concentrate before reduction. Stage 2: "
            "ONE per-cell collect (map-side partial collect_list, one "
            "exchange, one sort; max_assets_per_tile slices the sorted "
            "list to its best cap rows). The per-cell outputs are "
            "struct-field extractions on the sorted array (sels.image_id, "
            "array_min(sels.min_lon), …) in one projection; quadkey "
            "strings materialize only there, as a JVM expression over "
            "the packed cell (no ArrowEvalPython), next to the per-cell "
            "min/max of the selected scenes' bboxes — the mosaic bounds "
            "reduce from the same rows the build collects (as Arrow).",
            formatted(assign),
        ),
        (
            "Cell-stats kNN (J3, one-pass exact pruning)",
            "Scene centroids key to codegen-native web-mercator cells; "
            "the bounded per-cell stats dim rolls up to coarse levels, "
            "and while the corpus fits KNN_RESIDENT_ROWS the index's "
            "broadcast cascade prep also holds the corpus members, "
            "sorted by cell (CSR). A request is then ONE MapInArrow "
            "stage over the probes: per batch, numpy bounds (evaluated "
            "in haversine-argument space over per-cell precomputed "
            "trig, single-level steps) derive each probe's pruning "
            "radius R*, the surviving cells' members are gathered and "
            "scored with the exact haversine, and the exact top k is "
            "ranked in the kernel. No exchange, no join, no broadcast "
            "exchange, no JVM aggregation, nothing collected.",
            formatted(knn),
        ),
        (
            "Cell-stats kNN, union-score kernel (members not resident)",
            "Past KNN_RESIDENT_ROWS (or when the cascade stops at the "
            "level-9 rollup) the members are not resident: the probe "
            "kernel emits the surviving (probe, cell) pairs, corpus "
            "members (one row per scene) and those pairs union and "
            "hash-exchange ONCE on the parent cell, and a MapInArrow "
            "kernel equi-joins and scores them in numpy — the Python "
            "boundary carries each input row once instead of the "
            "joined blow-up — and its per-task rank<k combiner emits "
            "~k rows per query into the final exact aggregation.",
            formatted(knn_union),
        ),
        (
            "Incremental dedup star-guard stats (per micro-batch)",
            "The cumulative bucket-stats pass of the streamed dedup "
            "lane (streaming._cumulative_bucket_stats): the persisted "
            "band state is reached through a BROADCAST left-semi on "
            "the batch's own bucket set, so the corpus-sized side is "
            "scanned and filtered map-side and only rows in "
            "batch-touched buckets enter the aggregation shuffle — "
            "per-batch stats work stays O(batch) as history grows "
            "(measured flat in BENCH/BASELINE.md 'Incremental "
            "dedup'). Plan below is the AQE-final executed plan.",
            inc_stats._jdf.queryExecution().executedPlan().toString(),
        ),
        (
            "MinHash-LSH candidate pairs (dedup lane)",
            "The pair generator never goes all-pairs: shingles build "
            "map-only from the per-doc split array (no token shuffle), "
            "signatures reduce with map-side partial_min on doc_id, and "
            "candidates meet through a hash equi-join on (band, key) — "
            "only colliding docs shuffle together. The bucket-size "
            "aggregation guarding degenerate mega-buckets shuffles on "
            "the SAME (band, key), so it rides the join's exchange; "
            "oversized buckets exit through the star branch instead of "
            "the quadratic self-join.",
            formatted(lsh_pairs),
        ),
        (
            "IVF ANN top-k (embedding lane)",
            "Bounded driver state (n_list×DIM integer centroids — the "
            "standard k-means pattern) becomes literal columns, so list "
            "assignment is a map-only projection over the corpus; the "
            "query side (tiny) broadcasts; candidates meet through a "
            "broadcast equi-join on the list id, touching ~n_probe/"
            "n_list of the corpus. r7: the exact-integer cosine scoring "
            "and the per-task rank<k pre-reduction run in ONE MapInArrow "
            "kernel (bit-identical scores), so the single per-query "
            "aggregation exchange receives ≤ queries-in-task × k rows "
            "by construction — the r6 salted two-phase tail is gone.",
            formatted(ivf),
        ),
    ]

    out = [
        "# Physical plans — flagship pipeline\n",
        "Generated by `python scripts/gen_plans_doc.py` (pyspark "
        f"{spark.version}, AQE on). The flagship geo pipeline stages, "
        "then the text-dedup and embedding-ANN lanes:\n",
    ]
    for title, commentary, plan in sections:
        out.append(f"\n## {title}\n\n{commentary}\n\n```\n{plan}```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
