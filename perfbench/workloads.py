"""The three closed-loop workloads: one client issues the next
operation only after the previous one returned.

Each workload sets itself up (inputs, index, untimed warm-up of every
operation type), then runs ``step`` until the run's time is up, and
finally checks what it cannot check per operation. Every operation's
output is checked; one that raises or fails its check counts as failed.

In a traced run steps alternate between running exactly as untraced
and running under spans; operation kinds that occur only once or twice
in a run are traced every time. Where a public function
fuses several modules (``mosaic.build_mosaic``), the traced step calls
the modules one by one and materialises each module's output, so each
span holds that module's own work.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass

import pyarrow.compute as pc

from mosaic_engine import datagen, mosaic, ops, streaming, textops, udfs
from mosaic_engine.ops import MosaicConfig

from . import inputs
from .tracing import NullTracer


@dataclass
class Op:
    kind: str
    wall_s: float
    items: int
    ok: bool
    traced: bool = False


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _doc_sha(doc: dict) -> str:
    return hashlib.sha256(mosaic.canonical_json(doc).encode()).hexdigest()


def _median(ops_: list[Op], kind: str, traced: bool = False) -> float:
    walls = [o.wall_s for o in ops_ if o.kind == kind and o.traced == traced]
    return statistics.median(walls) if walls else float("nan")


def _rate(ops_: list[Op], kind: str) -> float:
    """Median over the untraced ``kind`` operations of items per second;
    a median, so one operation slowed by the host moves it little."""
    rates = [o.items / o.wall_s for o in ops_ if o.kind == kind and not o.traced]
    return statistics.median(rates) if rates else float("nan")


class MosaicBuild:
    """Repeated uncapped ``build_mosaic`` (newest, quadkey_zoom 8) over a
    multi-file parquet scene table."""

    name = "mosaic_build"
    N_SCENES = 30_000
    N_FILES = 8
    # the JIT keeps speeding builds up for several calls after the first
    WARM_BUILDS = 3
    CFG = MosaicConfig(quadkey_zoom=8, preference="newest")

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.ref_sha = None

    def setup(self) -> list[Op]:
        d = os.path.join(self.work, "scenes")
        inputs.write_files(datagen.gen_scenes_bulk(self.N_SCENES, seed=self.seed), d, self.N_FILES, "scenes")
        self.scenes = self.spark.read.parquet(d)
        return [self._build(traced=False) for _ in range(self.WARM_BUILDS)]

    def step(self, i: int) -> list[Op]:
        return [self._build(traced=self.tr.enabled and i % 2 == 1)]

    def _build(self, traced: bool) -> Op:
        if traced:
            with self.tr.op(f"mosaic.build_mosaic#{len(self.tr.spans)}"):
                doc, wall = _timed(self._build_traced)
        else:
            (doc, _), wall = _timed(lambda: mosaic.build_mosaic(self.scenes, self.CFG))
        sha = _doc_sha(doc)
        if self.ref_sha is None:
            self.ref_sha = sha
        ok = not mosaic.validate_mosaic(doc) and sha == self.ref_sha
        n_assign = sum(len(v) for v in doc["tiles"].values())
        return Op("build", wall, n_assign, ok, traced)

    def _build_traced(self) -> dict:
        cfg, tr = self.CFG, self.tr
        with tr.span("ops.filter_scenes") as c:
            filtered = ops.filter_scenes(self.scenes, cfg).persist()
            c["rows_out"] = filtered.count()
        with tr.span("udfs.explode") as c:
            tiles = udfs.explode_to_quadkeys(
                filtered, cfg.quadkey_zoom, passthrough=udfs.EXPLODE_PASSTHROUGH
            ).persist()
            c["rows_out"] = tiles.count()
        with tr.span("ops.assignments") as c:
            assign = ops.assignments(tiles, cfg).persist()
            c["rows_out"] = assign.count()
        with tr.span("ops.mosaic_bounds"):
            bounds = ops.mosaic_bounds(filtered, assign)
        with tr.span("mosaic.collect") as c:
            rows = assign.select("quadkey", "assets").collect()
            c["collect_rows"] = len(rows)
        for df in (assign, tiles, filtered):
            df.unpersist(blocking=False)
        return mosaic.assemble_mosaic_doc(
            {r["quadkey"]: list(r["assets"]) for r in rows}, bounds, cfg
        )

    def finish(self, done: list[Op]) -> None:
        pass

    def end_to_end(self, done: list[Op]) -> dict:
        return {"op_s_p50": (_median(done, "build"), "build"),
                "items_per_s": (_rate(done, "build"), "build")}


class KnnServe:
    """A saved and reloaded kNN index serving ``knn_join`` requests in a
    fixed seeded order: small requests (broadcast scoring join) and,
    every BULK_EVERY-th request, a bulk one past
    ``ops.KNN_PROBE_BROADCAST_LIMIT`` (union scoring kernel)."""

    name = "knn_serve"
    N_SCENES = 40_000
    N_FILES = 8
    SMALL_PROBES = 500
    BULK_PROBES = ops.KNN_PROBE_BROADCAST_LIMIT + 5_000
    BULK_EVERY = 5
    # small requests keep getting faster for several calls after the first
    WARM_SMALL = 2
    CHECK_PER_REQUEST = 2

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.rng = random.Random(seed)
        self.samples: list[tuple[int, float, float, int, list]] = []
        self.sample_op: list[Op] = []

    def setup(self) -> list[Op]:
        tr, d = self.tr, os.path.join(self.work, "scenes")
        inputs.write_files(datagen.gen_scenes_bulk(self.N_SCENES, seed=self.seed), d, self.N_FILES, "scenes")
        self.scenes = self.spark.read.parquet(d)
        path = os.path.join(self.work, "index")
        with tr.span("ops.knn_index") as c:
            idx = ops.knn_index(self.scenes)
            c["level"] = idx.level
        with tr.span("ops.knn_index_save"):
            ops.knn_index_save(idx, path)
        with tr.span("ops.knn_index_load") as c:
            self.index = ops.knn_index_load(self.spark, path)
        # the base for the pruning ratio of ops.knn_join.small.files_read
        c["files_total"] = sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
        return [self._request(-1 - i, bulk=i == self.WARM_SMALL, traced=False)
                for i in range(self.WARM_SMALL + 1)]

    def step(self, i: int) -> list[Op]:
        bulk = i % self.BULK_EVERY == self.BULK_EVERY - 1
        # a run holds few bulk requests, so a traced run traces all of
        # them; small ones alternate, which gives the tracing overhead
        traced = self.tr.enabled and (bulk or (i - i // self.BULK_EVERY) % 2 == 1)
        return [self._request(i, bulk, traced)]

    def _request(self, i: int, bulk: bool, traced: bool) -> Op:
        n = self.BULK_PROBES if bulk else self.SMALL_PROBES
        table = datagen.gen_knn_queries(n, seed=self.seed * 100_003 + i)
        queries = self.spark.createDataFrame(table.to_pandas())
        kind = "bulk" if bulk else "small"
        with (self.tr if traced else _NULL).op(f"ops.knn_join.{kind}#{i}") as c:
            res, wall = _timed(lambda: ops.knn_join(None, queries, index=self.index).toArrow())
            c["result_rows"] = res.num_rows
        ks = table.column("k").to_pylist()
        op = Op(kind, wall, n, res.num_rows == sum(ks), traced)
        # a seeded sample of probes is checked against knn_bruteforce
        # once the run ends (one oracle job for the whole run)
        lon, lat = table.column("lon").to_pylist(), table.column("lat").to_pylist()
        for q in self.rng.sample(range(n), self.CHECK_PER_REQUEST):
            got = sorted(res.filter(pc.equal(res["query_id"], q)).to_pylist(), key=lambda r: r["rank"])
            self.samples.append((len(self.samples), lon[q], lat[q], ks[q],
                                 [(r["image_id"], r["dist_m"]) for r in got]))
            self.sample_op.append(op)
        return op

    def finish(self, done: list[Op]) -> None:
        qs = self.spark.createDataFrame(
            [(s[0], s[1], s[2], s[3]) for s in self.samples],
            "query_id long, lon double, lat double, k int",
        )
        want: dict[int, list] = {}
        for r in ops.knn_bruteforce(self.scenes, qs).collect():
            want.setdefault(r["query_id"], []).append(r)
        for qid, _, _, _, got in self.samples:
            exp = [(r["image_id"], r["dist_m"]) for r in sorted(want.get(qid, []), key=lambda r: r["rank"])]
            if not _same_neighbours(got, exp):
                self.sample_op[qid].ok = False
                print(f"check failed: probe {qid} neighbours {got} != knn_bruteforce {exp}",
                      file=sys.stderr)

    def end_to_end(self, done: list[Op]) -> dict:
        return {"op_s_p50": (_median(done, "small"), "small"),
                "items_per_s": (_rate(done, "bulk"), "bulk")}


def _fail(done: list[Op], kind: str, why: str) -> None:
    """Mark the last ``kind`` operation failed, saying why on stderr."""
    [o for o in done if o.kind == kind][-1].ok = False
    print(f"check failed: {why}", file=sys.stderr)


def _same_neighbours(got: list, exp: list, tol_m: float = 1e-3) -> bool:
    """Equal ranked (image_id, dist_m) lists. An id may differ from the
    oracle's at a rank only if the oracle lists it at an equal distance
    (a tie the two kernels may order differently)."""
    if len(got) != len(exp):
        return False
    for (gid, gd), (eid, ed) in zip(got, exp):
        if abs(gd - ed) > tol_m:
            return False
        if gid != eid and not any(i == gid and abs(d - gd) <= tol_m for i, d in exp):
            return False
    return True


class IncrementalRefresh:
    """Scene and caption-doc arrivals onto a base corpus. Steps alternate
    between the two operations of an arrival: ``run_incremental`` +
    ``finalize`` (arrival to refreshed mosaicJSON), then
    ``run_incremental_dedup`` on its docs. When the run's time is up,
    ``compact_tiles_log`` + ``compact_dedup_logs`` fold every arrival
    into one generation, untimed."""

    name = "incremental_refresh"
    N_BASE = 10_000
    N_ARRIVAL = 2_500
    DOCS_ARRIVAL = 500
    MAX_ARRIVALS = 64
    CFG = MosaicConfig(quadkey_zoom=8, optimized_selection=True,
                       max_assets_per_tile=5, max_cloud=60)

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.scenes_dir = os.path.join(work, "scenes")
        self.docs_dir = os.path.join(work, "docs")
        self.tiles_work = os.path.join(work, "mosaic_state")
        self.dedup_work = os.path.join(work, "dedup_state")
        self.last_doc = None

    def setup(self) -> list[Op]:
        self.pool = datagen.gen_scenes_bulk(self.N_BASE + self.MAX_ARRIVALS * self.N_ARRIVAL, seed=self.seed)
        inputs.write_files(self.pool.slice(0, self.N_BASE), self.scenes_dir, 4, "base")
        # the base arrival warms both operation types
        return [self._refresh(0, self.N_BASE, traced=False), self._dedup(0, traced=False)]

    def step(self, i: int) -> list[Op]:
        batch = i // 2 + 1
        if batch >= self.MAX_ARRIVALS:
            raise RuntimeError("scene pool exhausted; raise MAX_ARRIVALS")
        # a run holds few dedup steps, so a traced run traces all of
        # them; refreshes alternate, which gives the tracing overhead
        if i % 2:
            return [self._dedup(batch, self.tr.enabled)]
        traced = self.tr.enabled and batch % 2 == 0
        start = self.N_BASE + (batch - 1) * self.N_ARRIVAL
        inputs.write_files(self.pool.slice(start, self.N_ARRIVAL), self.scenes_dir, 1, f"arrival{batch:03d}")
        return [self._refresh(batch, self.N_ARRIVAL, traced)]

    def _refresh(self, batch: int, n_scenes: int, traced: bool) -> Op:
        tr, s, cfg = self.tr if traced else _NULL, self.spark, self.CFG
        with tr.op(f"refresh#{batch}"):
            t0 = time.perf_counter()
            with tr.span("streaming.ingest"):
                streaming.run_incremental(s, self.scenes_dir, cfg, self.tiles_work)
            with tr.span("streaming.finalize"):
                doc = streaming.finalize(s, self.scenes_dir, cfg, self.tiles_work)
            wall = time.perf_counter() - t0
        self.last_doc = doc
        return Op("refresh", wall, n_scenes, not mosaic.validate_mosaic(doc), traced)

    def _dedup(self, batch: int, traced: bool) -> Op:
        tr, s = self.tr if traced else _NULL, self.spark
        # doc ids are batch * n + i, so every batch has the same n
        inputs.write_files(inputs.docs(batch, self.DOCS_ARRIVAL, self.seed), self.docs_dir, 1, f"docs{batch:03d}")
        before = streaming.incremental_dedup_pairs(s, self.dedup_work).count() if traced else 0
        with tr.op(f"dedup#{batch}"):
            with tr.span("streaming.dedup") as c:
                nb, wall = _timed(lambda: streaming.run_incremental_dedup(s, self.docs_dir, self.dedup_work))
        if traced:
            c["pairs_emitted"] = streaming.incremental_dedup_pairs(s, self.dedup_work).count() - before
        return Op("dedup", wall, self.DOCS_ARRIVAL, nb == 1, traced)

    def finish(self, done: list[Op]) -> None:
        s = self.spark
        with self.tr.op("compact"):
            with self.tr.span("streaming.compact"):
                folded = (streaming.compact_tiles_log(s, self.tiles_work),
                          streaming.compact_dedup_logs(s, self.dedup_work))
        if 0 in folded:
            _fail(done, "dedup", f"compaction folded {folded} batches")
        oneshot, _ = mosaic.build_mosaic(s.read.parquet(self.scenes_dir), self.CFG)
        if _doc_sha(oneshot) != _doc_sha(self.last_doc):
            _fail(done, "refresh", "last refreshed mosaic differs from a one-shot build_mosaic")
        got = {(r["doc_a"], r["doc_b"]) for r in
               streaming.incremental_dedup_pairs(s, self.dedup_work).select("doc_a", "doc_b").collect()}
        want = {(r["doc_a"], r["doc_b"]) for r in
                textops.minhash_lsh_pairs(s.read.parquet(self.docs_dir)).select("doc_a", "doc_b").collect()}
        if got != want or not want:
            _fail(done, "dedup", f"{len(got)} incremental dedup pairs, {len(want)} one-shot pairs,"
                  f" {len(got ^ want)} differ")

    def end_to_end(self, done: list[Op]) -> dict:
        # scenes per second of whole arrivals (ingest + finalize + dedup
        # of its docs); a run that stops after a refresh holds one dedup
        # fewer, so a plain items-over-time ratio would move with that
        cycle_s = _median(done, "refresh") + _median(done, "dedup")
        return {"op_s_p50": (_median(done, "refresh"), "refresh"),
                "items_per_s": (self.N_ARRIVAL / cycle_s, "refresh+dedup")}


_NULL = NullTracer()

WORKLOADS = {w.name: w for w in (MosaicBuild, KnnServe, IncrementalRefresh)}
