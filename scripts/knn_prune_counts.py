"""What the kNN cascade prunes, counted on one probe batch.

Builds a resident kNN index (``ops.knn_index``, auto level) over
``datagen.gen_scenes_bulk(N, seed)``, then runs the resident probe
kernel (``ops._make_probe_kernel``) on the driver, single-threaded, over
one ``datagen.gen_knn_queries(P, probe_seed)`` batch, and prints one
JSON line:

  * ``pairs``: the (probe, cell) pairs that survive ``ops._cascade_walk``
    (the cells the kernel scores), and per probe;
  * ``scored``: the members of those cells, i.e. the pairs the
    haversine kernel scores, and per result row;
  * ``kernel_s``: the kernel's wall over the batch (best of 3);
  * ``box_area_p50``/``p90``: the median and 90th-percentile share of
    a cell's tile rect (in degree²) that its prune rect covers (1.0
    where the prune rect is the tile rect);
  * ``sha``: a digest of the served rows, to check that two versions
    of the pruning serve the identical rows.

Usage: python scripts/knn_prune_counts.py [N] [P] [seed] [probe_seed]
(defaults 40000 13750 1 4242; env SPARK_GRAFT_CPUS sets the session's
cores, default 4).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import types

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mosaic_engine import datagen, ops  # noqa: E402
from mosaic_engine.job import make_session  # noqa: E402


def main(n: int, p: int, seed: int, probe_seed: int) -> dict:
    spark = make_session(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    spark.sparkContext.setLogLevel("ERROR")
    scenes = spark.createDataFrame(
        datagen.gen_scenes_bulk(n, seed=seed)
        .select(["image_id", "min_lon", "max_lon", "min_lat", "max_lat"])
        .to_pandas()
    )
    idx = ops.knn_index(scenes)
    prep = idx.prep[0]
    if "members" not in prep:
        raise SystemExit("the corpus is not resident: nothing to count")
    q = datagen.gen_knn_queries(p, seed=probe_seed)
    rb = pa.RecordBatch.from_arrays(
        [q.column("query_id").combine_chunks(), q.column("lon").combine_chunks(),
         q.column("lat").combine_chunks(), q.column("k").combine_chunks().cast(pa.int32())],
        names=["query_id", "lon", "lat", "k_req"],
    )
    kreq = rb.column("k_req").to_numpy().astype(np.int64)
    pid, cell = ops._cascade_walk(
        prep, rb.column("lon").to_numpy(), rb.column("lat").to_numpy(), kreq
    )
    cells, ns = prep["levels"][prep["cap"]]
    tw, ts, te, tn = ops._cell_rect_np(cells, prep["cap"])
    # a version without member boxes prunes against the tile rects
    bw, bs, be, bn = prep.get("rects", {}).get(prep["cap"], (tw, ts, te, tn))
    share = (be - bw) * (bn - bs) / ((te - tw) * (tn - ts))
    scored = int(ns[np.searchsorted(cells, cell)].sum())
    kern = ops._make_probe_kernel(types.SimpleNamespace(value=prep))
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        out = pa.Table.from_batches(list(kern(iter([rb]))))
        walls.append(time.perf_counter() - t0)
    out = out.sort_by([("query_id", "ascending"), ("rank", "ascending")])
    spark.stop()
    return {
        "scenes": n, "probes": p, "level": idx.level,
        "pairs": int(len(pid)), "pairs_per_probe": round(len(pid) / p, 2),
        "scored": scored, "result_rows": out.num_rows,
        "scored_per_result": round(scored / max(out.num_rows, 1), 1),
        "kernel_s": round(min(walls), 3),
        "box_area_p50": round(float(np.median(share)), 4),
        "box_area_p90": round(float(np.quantile(share, 0.9)), 4),
        "sha": hashlib.sha256(repr(out.to_pydict()).encode()).hexdigest()[:16],
    }


if __name__ == "__main__":
    args = [int(a) for a in sys.argv[1:]]
    print(json.dumps(main(*(args + [40_000, 13_750, 1, 4242][len(args):]))))
