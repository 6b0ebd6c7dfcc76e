"""Embedding similarity search — exact + LSH-bucketed ANN.

Design for cross-engine exactness AND 100 TB scale: embeddings are
quantized to integer vectors (round(x*1000) — standard int quantization
in ANN systems), so dot products are exact integer sums (< 2^53, exact
even in double accumulation — no float-order nondeterminism), and the
random-hyperplane LSH uses integer pseudo-random weights, making bucket
assignment bit-reproducible in any engine. Pairwise column math is
pyspark.sql.functions (JVM); the IVF centroid scoring is a vectorized
Arrow matmul (exact int64 — Catalyst's higher-order functions
interpret per row, while a batch matmul is ~1000× cheaper and equally
deterministic because every dot is an exact integer).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves the stringified
# type hints ('pd.Series') of UDFs defined under `from __future__
# import annotations` against the DEFINING module's globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import LSH_MAX_BUCKET, banded_candidate_pairs

QUANT = 1000.0
N_PLANES = 8
DIM = 64
# integer hyperplane weights: w[j][i] = ((1103515245*(j+1) + 12345*(i+1)
#   + 31*(j+1)*(i+1)) % 2048) - 1024   (LCG-style, deterministic)
PLANES = [
    [
        ((1103515245 * (j + 1) + 12345 * (i + 1) + 31 * (j + 1) * (i + 1)) % 2048)
        - 1024
        for i in range(DIM)
    ]
    for j in range(N_PLANES)
]


def quantized(col) -> Column:
    """array<float> → array<long>: round(x * 1000)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * F.lit(QUANT)).cast("long")
    )


def dot_long(a, b) -> Column:
    """Exact integer dot product of two array<long> columns.

    A dimension mismatch raises loudly (r5 review): zip_with would pad
    the shorter array and a coalesce-to-0 would hand a corrupt
    wrong-DIM vector a plausible-but-wrong score — the IVF path
    already fails loud on the same input, and the ANN paths must
    agree. NULL arrays pass through as NULL (dropped by _nonzero)."""
    val = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.coalesce(x * y, F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return F.when(
        a.isNotNull() & b.isNotNull() & (F.size(a) != F.size(b)),
        F.raise_error(
            F.format_string(
                "dot_long: embedding dimension mismatch (%d vs %d)",
                F.size(a),
                F.size(b),
            )
        ).cast("long"),
    ).otherwise(val)


def with_quantized(emb: DataFrame) -> DataFrame:
    q = emb.select(
        "vec_id", "label", quantized(F.col("embedding")).alias("q")
    )
    return q.withColumn("norm2", dot_long(F.col("q"), F.col("q")))


def _nonzero(base: DataFrame) -> DataFrame:
    """Drop zero-norm / NULL-embedding rows before any cosine math: a
    zero vector has no direction, and under Spark's default ANSI mode
    the norm division would abort the whole job (with ANSI off, the
    NULL score would sort to rank 1 of every top-k). norm2 > 0 is
    null-safe, so NULL embeddings (norm2 NULL) drop too."""
    return base.filter(F.col("norm2") > 0)


def _cosine_score(qa, na, qb, nb) -> Column:
    """Exact-integer cosine similarity. Callers must route inputs
    through _nonzero first (see there) — this is the ONE definition of
    the score every ANN op uses."""
    return dot_long(qa, qb).cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def _cosine_topk_arrow(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, q, norm2, qq, qn2) candidate rows → exact
    top-k per query, scored and pre-reduced in ONE Arrow kernel (r7,
    guide §4.2 — the IVF-assign precedent applied to every cosine
    path). Catalyst's higher-order functions interpret the 64-element
    dot per ROW; the kernel does one int64 row-wise multiply-sum per
    batch — the SAME exact-integer dot (products/sums within the
    module's 2^53 bound, float64 cast + IEEE sqrt/divide identical to
    the JVM expression, so scores are bit-identical) — and reduces
    each task with the rank-k reduction every kNN kernel shares: the
    per-query rank<k superset under the (−score, vec_id) order (ties
    retained; ops._compact_topk), then the one exact finalizer
    (ops._exact_topk) on (ns, vec_id). That in-kernel reduction
    replaces the r6 salted phase-1 aggregation: per-task output is ≤
    queries-in-task × k BY CONSTRUCTION, so the single final exchange
    carries k-sized partials regardless of candidate fan-out — one
    aggregation phase instead of two, and no aggregation key ever
    carries a candidate share at all. A wrong-DIM embedding still
    fails loud (dimension mismatch), matching dot_long/IVF."""
    from pyspark.sql import types as T

    from .ops import (
        TOPK_COMPACT_ROWS, _compact_topk, _exact_topk, _rank_keep_tables,
    )

    src = cand.select("query_id", "vec_id", "q", "norm2", "qq", "qn2")
    in_f = {f.name: f.dataType for f in src.schema.fields}
    floor = TOPK_COMPACT_ROWS

    def kern(batches):
        import pyarrow as pa

        def scored():
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                tbl = pa.Table.from_batches([rb])
                qo = tbl.column("q").to_numpy(zero_copy_only=False)
                qqo = tbl.column("qq").to_numpy(zero_copy_only=False)
                ql = np.fromiter((len(v) for v in qo), np.int64, len(qo))
                qql = np.fromiter((len(v) for v in qqo), np.int64, len(qqo))
                if (ql != qql).any():
                    i = int(np.flatnonzero(ql != qql)[0])
                    raise ValueError(
                        f"cosine topk: embedding dimension mismatch "
                        f"({ql[i]} vs {qql[i]})"
                    )
                Q = np.vstack(qo).astype(np.int64)
                QQ = np.vstack(qqo).astype(np.int64)
                dots = (Q * QQ).sum(axis=1)
                n2 = tbl.column("norm2").to_numpy(zero_copy_only=False)
                qn2 = tbl.column("qn2").to_numpy(zero_copy_only=False)
                ns = -(
                    dots.astype(np.float64)
                    / (np.sqrt(n2.astype(np.float64))
                       * np.sqrt(qn2.astype(np.float64)))
                )
                yield pa.table(
                    {
                        "query_id": tbl.column("query_id"),
                        "vec_id": tbl.column("vec_id"),
                        "ns": pa.array(ns, pa.float64()),
                    }
                )

        out = _compact_topk(
            scored(), _rank_keep_tables("query_id", "ns", k), floor
        )
        if out is not None:
            yield from out.to_batches()

    pruned = src.mapInArrow(
        kern,
        schema=T.StructType(
            [
                T.StructField("query_id", in_f["query_id"]),
                T.StructField("vec_id", in_f["vec_id"]),
                T.StructField("ns", T.DoubleType()),
            ]
        ),
    )
    return _exact_topk(pruned, "query_id", "ns", "vec_id", k).select(
        "query_id",
        "rank",
        F.col("vec_id").alias("neighbor_id"),
        (-F.col("ns")).alias("score"),
    )


def cosine_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Brute-force exact cosine top-k for query vectors (vec_id < n).

    Scale shape: broadcast the query block, stream the corpus, no
    window — per-query top-k via sorted-struct aggregation.
    """
    base = _nonzero(with_quantized(emb))
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qn2"),
    )
    scored = base.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _cosine_topk_arrow(scored, k)


def lsh_bucket_col(qcol) -> Column:
    """Random-hyperplane LSH bucket (integer-exact sign bits) — the
    full-width special case of lsh_band_col, kept as ONE definition so
    the sign/tie convention can never desynchronize (r5 review)."""
    return lsh_band_col(qcol, 0, N_PLANES)


def lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket) — the IVF/LSH-style partition assignment."""
    return with_quantized(emb).select(
        "vec_id", "label", lsh_bucket_col(F.col("q")).alias("bucket")
    )


def ann_lsh_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5, n_probes: int = 1
) -> DataFrame:
    """ANN: exact cosine top-k WITHIN the query's probed LSH buckets.

    The bucket equi-join replaces the cross join — at 10^12 scale each
    query touches ~n_probes/2^J of the corpus. Multi-probe: in addition
    to its own bucket, each query probes the Hamming-1 neighbor buckets
    whose hyperplane margin |q·w_j| is smallest (the planes most likely
    to have flipped a true neighbor's sign) — recall rises monotonically
    with n_probes at a fixed bucket count. Results are deterministic
    (integer bucketing + exact scores), so the SQL oracle reproduces
    them bit-for-bit.
    """
    if not 1 <= n_probes <= N_PLANES + 1:
        raise ValueError(f"n_probes must be in [1, {N_PLANES + 1}]")
    base = _nonzero(with_quantized(emb)).withColumn(
        "bucket", lsh_bucket_col(F.col("q"))
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qn2"),
        "bucket",
    )
    if n_probes > 1:
        # margin-ordered single-bit flips (|q·w_j| asc, j asc tiebreak)
        margins = F.array(
            *[
                F.struct(
                    F.abs(dot_long(F.col("qq"), F.array(*[F.lit(v) for v in PLANES[j]]))).alias("m"),
                    F.lit(j).alias("j"),
                )
                for j in range(N_PLANES)
            ]
        )
        powers = F.array(*[F.lit(1 << j) for j in range(N_PLANES)])
        flips = F.transform(
            F.slice(F.sort_array(margins), 1, n_probes - 1),
            lambda s: F.col("bucket").bitwiseXOR(
                F.element_at(powers, s["j"] + 1)
            ),
        )
        probes = F.concat(F.array(F.col("bucket")), flips)
        queries = queries.withColumn("bucket", F.explode(probes))
    cand = base.join(F.broadcast(queries), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _cosine_topk_arrow(cand, k)


N_LIST = 16
IVF_ITERS = 3


def ivf_centroids(
    emb: DataFrame,
    n_list: int = N_LIST,
    iters: int = IVF_ITERS,
    base: DataFrame | None = None,
):
    """Deterministic Lloyd k-means centroids over quantized embeddings —
    IVF's training step, bit-reproducible in any engine (the SQL oracle
    re-derives identical centroids from the data alone):

      * init: the vectors with vec_id < n_list (deterministic seed)
      * assign: argmax cosine against the current INTEGER centroids —
        the dot product is an exact integer sum, so no float-summation
        order can perturb it; ties break on centroid id
      * update: per-dimension INTEGER centroid floor(sum/count) via
        posexplode → (cid, dim) integer sums (exact, commutative);
        clusters that lose every member drop out

    Returns a list of (cid, [int; DIM]) — bounded (n_list × DIM), the
    standard driver-side k-means state (Spark ML's KMeans collects the
    same per iteration).

    Exactness bound: the per-dimension mean uses floor(sum / count) in
    DOUBLE (matching the SQL oracle operation-for-operation), exact
    while per-cluster |sum(val)| < 2^53 — at the default QUANT that is
    ~10^12 rows per cluster; past that, switch BOTH engines to integer
    floor division.
    """
    if base is None:
        # callers holding an already-materialized quantization (see
        # ivf_index) pass it in so the embedding scan + quantize kernel
        # run once per ingest, not once per phase (r4 review)
        base = (
            _nonzero(with_quantized(emb))
            .select("vec_id", "q")
            .localCheckpoint(eager=True)
        )
    cents = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in base.filter(F.col("vec_id") < n_list).collect()
    ]
    cents.sort()
    for _ in range(iters):
        # assignment + per-dimension partial sums fused in ONE Arrow
        # kernel (r7, guide §2.3 "aggregate before you shuffle"): the
        # r6 iteration posexploded DIM× the corpus and shuffled every
        # (cid, dim, val) row into the mean aggregation — 64× the
        # corpus rows per Lloyd step. Each task now emits at most
        # n_list × DIM partial rows (exact int64 sums — commutative,
        # so the merge order cannot perturb the result), and the
        # exchange carries ~tasks × n_list × DIM rows regardless of
        # corpus size. The final floor(sum/count) is the identical
        # double-division the SQL oracle computes.
        partials = _ivf_partials(base, cents)
        means = (
            partials.groupBy("cid", "dim")
            .agg(
                F.floor(
                    F.sum("s").cast("double") / F.sum("n").cast("double")
                )
                .cast("long")
                .alias("m")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("dim"), F.col("m")))
                    ),
                    lambda s: s["m"],
                ).alias("c")
            )
        )
        cents = [
            (int(r["cid"]), [int(v) for v in r["c"]]) for r in means.collect()
        ]
        cents.sort()
    return cents


def _ivf_partials(base: DataFrame, cents) -> DataFrame:
    """Per-task (cid, dim, s, n) partial centroid sums for one Lloyd
    step: the same exact-integer argmax-cosine assignment as
    _ivf_assign_col, with the per-dimension sums and member counts
    accumulated in-kernel (np.add.at scatter) instead of exploding the
    corpus. Sums are exact int64 (see ivf_centroids' 2^53 bound), so
    partial merge order is immaterial."""
    import numpy as np
    from pyspark.sql import types as T

    if not cents:
        raise ValueError(
            "ivf: no centroids — the deterministic seed takes the "
            f"vectors with vec_id < n_list (default {N_LIST}); an "
            "empty/zero-norm corpus or one whose vec_ids do not start "
            "at 0 yields none (r5 review: was an opaque IndexError)"
        )
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.int64)
    ncc = (C * C).sum(axis=1)
    den = np.sqrt(ncc.astype(np.float64))
    valid = ncc > 0
    dim = C.shape[1]

    def kern(batches):
        import pandas as pd

        sums = np.zeros((len(cids), dim), dtype=np.int64)
        cnts = np.zeros(len(cids), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = pdf["q"]
            for v in q:
                if v is None or len(v) != dim:
                    raise ValueError(
                        f"ivf assign: embedding must be non-null with "
                        f"{dim} dims (got "
                        f"{'null' if v is None else len(v)})"
                    )
            Q = np.vstack(q.to_numpy())
            dots = Q.astype(np.int64) @ C.T
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = np.where(
                    valid, dots.astype(np.float64) / den, -np.inf
                )
            idx = np.argmax(scores, axis=1)
            np.add.at(sums, idx, Q)
            np.add.at(cnts, idx, 1)
        nz = np.flatnonzero(cnts)
        if len(nz) == 0:
            return
        yield pd.DataFrame(
            {
                "cid": np.repeat(cids[nz], dim),
                "dim": np.tile(np.arange(dim, dtype=np.int64), len(nz)),
                "s": sums[nz].ravel(),
                "n": np.repeat(cnts[nz], dim),
            }
        )

    return base.select("q").mapInPandas(
        kern,
        schema=T.StructType(
            [
                T.StructField("cid", T.LongType()),
                T.StructField("dim", T.LongType()),
                T.StructField("s", T.LongType()),
                T.StructField("n", T.LongType()),
            ]
        ),
    )


def _ivf_assign_col(cents, qcol: str) -> Column:
    """argmax_j cos(q, centroid_j), ties → smallest cid, as ONE Arrow
    batch matmul (int64 — exact, so summation order cannot perturb the
    result and the SQL oracle reproduces it bit-for-bit). A Column
    formulation (16 literal-centroid aggregate/zip_with dots per row)
    is interpreted per-row by Catalyst's higher-order functions — ~70µs
    per dot; the numpy matmul is ~1000× cheaper per row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    if not cents:
        raise ValueError(
            "ivf: no centroids — the deterministic seed takes the "
            f"vectors with vec_id < n_list (default {N_LIST}); an "
            "empty/zero-norm corpus or one whose vec_ids do not start "
            "at 0 yields none (r5 review: was an opaque IndexError)"
        )
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.int64)
    ncc = (C * C).sum(axis=1)
    den = np.sqrt(ncc.astype(np.float64))
    valid = ncc > 0

    dim = C.shape[1]

    @pandas_udf(T.LongType())
    def assign(q: pd.Series) -> pd.Series:
        if len(q) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        for v in q:
            # loud, attributable failure instead of an opaque vstack
            # error (NULL embeddings are filtered by _nonzero upstream,
            # but a wrong-DIM vector would still pass norm2 > 0)
            if v is None or len(v) != dim:
                raise ValueError(
                    f"ivf assign: embedding must be non-null with "
                    f"{dim} dims (got "
                    f"{'null' if v is None else len(v)})"
                )
        Q = np.vstack(q.to_numpy())  # (n, DIM) int64
        dots = Q.astype(np.int64) @ C.T  # exact
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = np.where(
                valid, dots.astype(np.float64) / den, -np.inf
            )
        # argmax takes the FIRST max; cents are cid-sorted → min-cid tie
        return pd.Series(cids[np.argmax(scores, axis=1)])

    return assign(F.col(qcol))


@dataclass
class IvfIndex:
    """Reusable IVF corpus index: the trained integer centroids (the
    bounded driver-side k-means state) and the assigned corpus
    (vec_id, label, q, norm2, cid). Build once with ivf_index, serve
    many query batches through ivf_topk(index=...) — repeated batches
    skip BOTH the k-means training scans and the corpus-wide
    assignment matmul (index on ingest, query per request)."""

    cents: list  # [(cid, [int; DIM])], cid-sorted
    corpus: DataFrame


def ivf_index(
    emb: DataFrame, n_list: int = N_LIST, iters: int = IVF_ITERS
) -> IvfIndex:
    """Train centroids and assign the corpus once (see IvfIndex). The
    quantization is materialized ONCE and shared by both phases —
    training iterations and the corpus assignment read the same
    checkpointed base instead of re-running the embedding scan."""
    full = _nonzero(with_quantized(emb)).localCheckpoint(eager=True)
    cents = ivf_centroids(
        emb, n_list=n_list, iters=iters, base=full.select("vec_id", "q")
    )
    corpus = full.withColumn("cid", _ivf_assign_col(cents, "q"))
    return IvfIndex(cents, corpus)


def ivf_index_save(idx: IvfIndex, path: str) -> None:
    """Persist an IvfIndex as parquet so serving survives the
    SparkSession. The corpus is written PARTITIONED BY cid — the
    inverted-list layout on disk: a served query that probes n_probe
    of n_list lists reads only those directories (Spark's dynamic
    partition pruning fires on the broadcast probe join), so each
    request touches ~n_probe/n_list of the corpus bytes, not just of
    the rows.

    GENERATION commit (r5 review, mirrors ops.knn_index_save): data
    lands in ``path/cents_g<G>`` + ``path/corpus_g<G>`` first and ONE
    small ``path/meta`` overwrite commits the generation last, so a
    crash mid-re-save can never serve a mixed index. A `path` whose
    meta lacks a gen (the pre-generation layout) raises
    ops.LegacyStateError before anything is written or deleted.
    Superseded generations are best-effort GC'd after the commit,
    KEEPING the immediate predecessor so an index loaded from it keeps
    serving through a re-save (r6 — VERDICT r5 #4: repeated re-saves
    previously accumulated corpus-sized ``corpus_g*`` dirs forever;
    growth is now bounded at two generations). All I/O goes
    through Spark's Hadoop FS layer, so `path` may be local, HDFS, or
    s3a."""
    from .ops import (
        _commit_meta, _gc_superseded_generations, _next_generation,
    )

    spark = idx.corpus.sparkSession
    gen = _next_generation(spark, path, ("gen",))
    spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in idx.cents],
        "cid long, c array<long>",
    ).write.mode("overwrite").parquet(f"{path}/cents_g{gen}")
    idx.corpus.write.mode("overwrite").partitionBy("cid").parquet(
        f"{path}/corpus_g{gen}"
    )
    _commit_meta(spark, path, gen=gen)
    _gc_superseded_generations(spark, path, ("cents", "corpus"), gen)


def ivf_index_load(spark, path: str) -> IvfIndex:
    """Reload an ivf_index_save'd index by following ``path/meta``. A
    missing or unreadable meta raises its read error and a meta
    without a gen (the pre-generation layout) raises
    ops.LegacyStateError — no unversioned dirs are ever served. The
    partition column comes back type-inferred (int), so it is re-cast
    to long to keep the serving join's key type identical to the
    built-inline path. NOTE the two-generation GC bound
    (ops._gc_superseded_generations): a loaded handle survives exactly
    one re-save over `path`; reload after each re-save."""
    from .ops import _read_meta

    sfx = f"_g{int(_read_meta(spark, path, ('gen',))['gen'])}"
    cents = sorted(
        (int(r["cid"]), [int(v) for v in r["c"]])
        for r in spark.read.parquet(f"{path}/cents{sfx}").collect()
    )
    corpus = spark.read.parquet(f"{path}/corpus{sfx}").withColumn(
        "cid", F.col("cid").cast("long")
    )
    return IvfIndex(cents, corpus)


def ivf_topk(
    emb: DataFrame | None,
    n_queries: int = 10,
    k: int = 5,
    n_list: int = N_LIST,
    n_probe: int = 2,
    cents=None,
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF ANN: exact cosine top-k within the n_probe nearest inverted
    lists. The corpus partitions by trained centroid (one map stage);
    each query probes its n_probe best lists — candidates meet through
    a broadcast equi-join on cid, touching ~n_probe/n_list of the
    corpus. Deterministic end to end (integer-exact training).

    Pass a prebuilt ``index`` (ivf_index / ivf_index_load) to serve
    from the stored inverted lists without retraining or reassigning;
    `emb`/`n_list`/`cents` are then ignored."""
    if index is not None:
        cents, base = index.cents, index.corpus
    else:
        if cents is None:
            # materialize the quantization ONCE and share it between
            # the training iterations and the serving assignment (r7;
            # previously the one-shot path re-scanned + re-quantized
            # the embeddings after training — ivf_index already did
            # the sharing, the inline path now matches)
            full = _nonzero(with_quantized(emb)).localCheckpoint(
                eager=True
            )
            cents = ivf_centroids(
                emb, n_list=n_list, base=full.select("vec_id", "q")
            )
            base = full.withColumn("cid", _ivf_assign_col(cents, "q"))
        else:
            # the documented min-cid tie-break relies on a cid-sorted
            # list (argmax takes the FIRST max) — internal producers
            # sort; an unsorted caller-supplied list must not silently
            # change assignment determinism (r5 review)
            cents = sorted(cents)
            base = _nonzero(with_quantized(emb)).withColumn(
                "cid", _ivf_assign_col(cents, "q")
            )
    qs = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qn2"),
    )
    probes = qs.withColumn(
        "cid", F.explode(_ivf_probe_col(cents, "qq", n_probe))
    )
    cand = base.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _cosine_topk_arrow(cand, k)


def _ivf_probe_col(cents, qcol: str, n_probe: int) -> Column:
    """Array of the n_probe best centroid ids per query (score desc,
    cid asc tiebreak) — same exact-integer scoring as assignment."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    if not cents:
        raise ValueError(
            "ivf: no centroids to probe (see _ivf_assign_col — empty "
            "or non-0-seeded corpus)"
        )
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.int64)
    ncc = (C * C).sum(axis=1)
    den = np.sqrt(ncc.astype(np.float64))
    valid = ncc > 0
    take = min(n_probe, len(cents))

    dim = C.shape[1]

    @pandas_udf(T.ArrayType(T.LongType()))
    def probe(q: pd.Series) -> pd.Series:
        out = []
        for vec in q:  # query side is bounded by contract
            if vec is None or len(vec) != dim:
                raise ValueError(
                    f"ivf probe: embedding must be non-null with {dim} "
                    f"dims (got {'null' if vec is None else len(vec)})"
                )
            dots = np.asarray(vec, dtype=np.int64) @ C.T
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = np.where(
                    valid, dots.astype(np.float64) / den, -np.inf
                )
            order = np.lexsort((cids, -scores))
            out.append(cids[order[:take]].tolist())
        return pd.Series(out)

    return probe(F.col(qcol))


def recall_stats(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    index: IvfIndex | None = None,
) -> DataFrame:
    """ANN recall observability (VERDICT r4 #7): recall@k of each
    approximate path against the exact brute-force top-k on the same
    probe block, one row per method — so a pipeline operator can alert
    on avg_recall/min_recall drops (bucket skew, embedding drift)
    instead of trusting the index blindly.

    Shape at scale: the brute baseline costs one corpus scan per probe
    BLOCK (never corpus×corpus) — recall is always measured on a
    bounded probe sample. The baseline is localCheckpointed once and
    shared by all three method comparisons. Deterministic end to end
    (every path is integer-exact), so a SQL oracle reproduces the
    stats bit-for-bit: avg = one IEEE division of exact integers.
    """
    brute = (
        cosine_topk(emb, n_queries, k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    qids = brute.select("query_id").distinct()
    # a monitoring job that already holds the serving IvfIndex passes
    # it in so the recall check doesn't retrain k-means per invocation
    # (r5 review); the default path stays deterministic-from-data for
    # the SQL oracle
    methods = [
        ("lsh_p1", ann_lsh_topk(emb, n_queries, k)),
        ("lsh_p3", ann_lsh_topk(emb, n_queries, k, n_probes=3)),
        ("ivf_p2", ivf_topk(emb, n_queries, k, n_probe=2, index=index)),
    ]
    parts = []
    for name, approx in methods:
        inter = approx.select("query_id", "neighbor_id").join(
            brute, ["query_id", "neighbor_id"]
        )
        per_q = qids.join(
            inter.groupBy("query_id").agg(F.count("*").alias("h")),
            "query_id",
            "left",
        ).select(F.coalesce("h", F.lit(0).cast("long")).alias("h"))
        parts.append(
            per_q.agg(
                F.count("*").alias("n_queries"),
                F.sum("h").alias("total_hits"),
                F.min("h").alias("min_h"),
            ).select(
                F.lit(name).alias("method"),
                "n_queries",
                "total_hits",
                (
                    F.col("total_hits").cast("double")
                    / (F.col("n_queries") * F.lit(k)).cast("double")
                ).alias("avg_recall"),
                (
                    F.col("min_h").cast("double")
                    / F.lit(k).cast("double")
                ).alias("min_recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lsh_band_col(qcol, band: int, rows: int) -> Column:
    """Sign-bit bucket of one LSH band (planes band*rows .. +rows)."""
    bucket = F.lit(0)
    for r in range(rows):
        w = F.array(*[F.lit(v) for v in PLANES[band * rows + r]])
        bucket = bucket + F.when(
            dot_long(qcol, w) >= 0, F.lit(1 << r)
        ).otherwise(F.lit(0))
    return bucket


def neardup_pairs(
    emb: DataFrame,
    min_score: float = 0.9,
    bands: int = 2,
    max_bucket: int | None = LSH_MAX_BUCKET,
    on_overflow: str = "star",
) -> DataFrame:
    """Embedding near-duplicate pairs — LSH-banded candidate generation
    (a pair is a candidate iff it collides in at least one band's
    bucket), exact integer-cosine verification.

    The band self-join is a hash equi-join on (band, bucket): only
    colliding vectors meet, so the op stays linear-ish at corpus scale
    (the old same-label blocking was quadratic within a label). Banding
    over J/bands-bit buckets trades bucket size for recall exactly like
    minhash_lsh_pairs."""
    if bands < 1 or N_PLANES % bands != 0:
        raise ValueError(
            f"bands must divide N_PLANES={N_PLANES} (got {bands}) — a "
            "non-divisor silently drops planes and bands > N_PLANES "
            "degenerates every band to one all-corpus bucket"
        )
    rows = N_PLANES // bands
    # localCheckpoint: the quantization feeds `bands` band branches,
    # the guard's bucket-size join, and BOTH verify joins (qa/qb) —
    # without pinning, the full-corpus scan+quantize re-executes ~5×
    # per action (same rationale as minhash_banded / simhash_pairs)
    base = _nonzero(with_quantized(emb)).localCheckpoint(eager=True)
    parts = [
        base.select(
            "vec_id",
            F.lit(b).alias("band"),
            lsh_band_col(F.col("q"), b, rows).alias("key"),
        )
        for b in range(bands)
    ]
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    cand = banded_candidate_pairs(
        banded,
        "vec_id",
        "vec_a",
        "vec_b",
        max_bucket=max_bucket,
        on_overflow=on_overflow,
    )
    qa = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("q_a"),
        F.col("norm2").alias("n2_a"),
    )
    qb = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("q_b"),
        F.col("norm2").alias("n2_b"),
    )
    score = _cosine_score(
        F.col("q_a"), F.col("n2_a"), F.col("q_b"), F.col("n2_b")
    ).alias("score")
    return (
        cand.join(qa, "vec_a")
        .join(qb, "vec_b")
        .select("vec_a", "vec_b", score)
        .filter(F.col("score") >= min_score)
    )
