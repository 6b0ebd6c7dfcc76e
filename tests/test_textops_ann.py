"""textops / annops unit behavior (the DuckDB oracle gate covers
cross-engine equality; these pin semantics on constructed cases)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from mosaic_engine import annops, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog", lang="en", source="a", n_chars=43),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog", lang="en", source="a", n_chars=43),  # exact dup
        Row(doc_id=3, text="the quick brown fox leaps over the lazy dog", lang="en", source="a", n_chars=43),  # near dup
        Row(doc_id=4, text="le chat et le chien et le poisson", lang="fr", source="b", n_chars=33),
        Row(doc_id=5, text="completely different words entirely unrelated content", lang="en", source="a", n_chars=54),
    ]
    return spark.createDataFrame(rows)


def test_dedup_exact_finds_dup(spark, docs):
    out = {r["canonical_id"]: r["n_copies"] for r in textops.dedup_exact(docs).collect()}
    assert out[1] == 2  # docs 1+2 identical, canonical = min id
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_minhash_identical_docs_same_signature(spark, docs):
    sig = {r["doc_id"]: tuple(r[f"mh{j}"] for j in range(len(textops.MINHASH_AB)))
           for r in textops.minhash_signatures(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[5]
    pairs = {(r["doc_a"], r["doc_b"]) for r in textops.minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 5) not in pairs and (2, 5) not in pairs


def test_simhash_near_dup_is_close(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs).collect()}
    assert sh[1] == sh[2]
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[5]).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard_ordering(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in textops.ngram_jaccard_pairs(docs, min_jaccard=0.0).collect()}
    assert pairs[(1, 2)] == 1.0
    # zero-overlap pairs produce no row at all (no shared gram)
    assert pairs[(1, 3)] > pairs.get((1, 5), 0.0)


def test_lang_id_markers(spark, docs):
    out = {r["doc_id"]: r for r in textops.lang_id(docs).collect()}
    assert out[1]["pred_lang"] == "en" and out[1]["match_meta"]
    assert out[4]["pred_lang"] == "fr" and out[4]["match_meta"]


def test_fingerprint_order_free(spark):
    rows = [
        Row(doc_id=1, text="alpha beta gamma", lang="en", source="a", n_chars=16),
        Row(doc_id=2, text="gamma alpha beta", lang="en", source="a", n_chars=16),
        Row(doc_id=3, text="alpha beta delta", lang="en", source="a", n_chars=16),
    ]
    df = spark.createDataFrame(rows)
    fp = {r["doc_id"]: r["fingerprint"] for r in textops.fingerprint(df).collect()}
    assert fp[1] == fp[2]  # bag fingerprint ignores order
    assert fp[1] != fp[3]


@pytest.fixture(scope="module")
def emb(spark):
    # 64-dim: the engine's LSH hyperplanes are DIM=64 (annops.DIM)
    rng = np.random.default_rng(0)
    base = rng.normal(size=64).astype(np.float32)
    rows = [
        Row(vec_id=0, embedding=[float(v) for v in base], label=1),
        Row(vec_id=1, embedding=[float(v) for v in base * 2.0], label=1),  # same direction
        Row(vec_id=2, embedding=[float(v) for v in -base], label=1),  # opposite
        Row(vec_id=3, embedding=[float(v) for v in rng.normal(size=64)], label=2),
        Row(vec_id=4, embedding=[float(v) for v in base + rng.normal(size=64).astype(np.float32) * 0.01], label=1),
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk_ranks_direction(spark, emb, force_compaction):
    def ranked(df, k):
        return sorted(
            (r["rank"], r["neighbor_id"], r["score"])
            for r in annops.cosine_topk(df, n_queries=1, k=k).collect()
        )

    want = {k: ranked(emb, k) for k in (2, 4)}
    # one task holding every candidate, compacting at each part
    force_compaction(True)
    for k, rows in want.items():
        assert ranked(emb.coalesce(1), k) == rows, k
    out = want[4]
    # nearest: scaled copy (score ~1) then tiny-noise copy, opposite last
    assert out[0][1] in (1, 4) and out[0][2] > 0.99
    assert out[1][1] in (1, 4) and out[1][2] > 0.99
    assert out[-1][1] == 2 and out[-1][2] < -0.99


def test_lsh_bucket_groups_same_direction(spark, emb):
    b = {r["vec_id"]: r["bucket"] for r in annops.lsh_buckets(emb).collect()}
    assert b[0] == b[1]  # scaling never changes hyperplane signs
    assert 0 <= b[0] < 2 ** annops.N_PLANES
    assert b[2] != b[0]  # opposite direction flips (nonzero) sign bits


def test_neardup_pairs_threshold(spark, emb):
    pairs = {(r["vec_a"], r["vec_b"]): r["score"]
             for r in annops.neardup_pairs(emb, min_score=0.99).collect()}
    assert (0, 1) in pairs and (0, 4) in pairs
    assert (0, 2) not in pairs


def test_shingles_shuffle_free_and_correct(spark):
    """Array-transform shingling: same shingle bags as a scalar oracle,
    and the plan has no Window/Exchange before the explode."""
    rows = [
        Row(doc_id=1, text="The quick brown fox", lang="en", source="a", n_chars=19),
        Row(doc_id=2, text="  one  ", lang="en", source="a", n_chars=7),
        Row(doc_id=3, text="", lang="en", source="a", n_chars=0),
        Row(doc_id=4, text="a b, c d", lang="en", source="a", n_chars=8),
    ]
    df = spark.createDataFrame(rows)
    got = {}
    for r in textops.shingles(df, w=2).collect():
        got.setdefault(r["doc_id"], []).append(r["shingle"])
    import re

    exp = {}
    for r in rows:
        toks = [t for t in re.split(r"[^a-z0-9']+", r.text.lower()) if t]
        sh = [f"{toks[i]}_{toks[i+1]}" for i in range(len(toks) - 1)]
        if sh:
            exp[r.doc_id] = sh
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in exp.items()}
    plan = textops.shingles(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan


def test_ngram_jaccard_verifies_lsh_candidates(spark, docs):
    """Default candidates = minhash LSH pairs: output ⊆ candidate set,
    jaccard values exact (match a per-pair scalar recomputation)."""
    cand = {(r["doc_a"], r["doc_b"])
            for r in textops.minhash_lsh_pairs(docs).collect()}
    out = textops.ngram_jaccard_pairs(docs, n=4, min_jaccard=0.0).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in out} <= cand
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def grams(t):
        t = t.lower()
        return {t[i:i + 4] for i in range(max(len(t) - 3, 0))}

    for r in out:
        ga, gb = grams(texts[r["doc_a"]]), grams(texts[r["doc_b"]])
        exp = len(ga & gb) / len(ga | gb)
        assert r["jaccard"] == pytest.approx(exp, rel=1e-12)
    # an explicit candidate frame is honored verbatim
    one = spark.createDataFrame([Row(doc_a=1, doc_b=3)])
    only = textops.ngram_jaccard_pairs(docs, candidates=one).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in only} <= {(1, 3)}


def test_neardup_pairs_blocks_on_lsh_not_label(spark):
    """Near-identical vectors in DIFFERENT labels are still found (the
    old same-label blocking missed them); candidates collide in an LSH
    band, so no quadratic all-pairs self-join on a coarse key."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=64)
    rows = [
        Row(vec_id=0, embedding=[float(v) for v in base], label=1),
        Row(vec_id=1, embedding=[float(v) for v in base * 1.5], label=2),
        Row(vec_id=2, embedding=[float(v) for v in -base], label=1),
    ]
    df = spark.createDataFrame(rows)
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             annops.neardup_pairs(df, min_score=0.99).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_ann_multiprobe_recall_monotone(spark):
    """Recall vs brute force rises with n_probes at fixed bucket count
    (VERDICT r1 'Next round' #5 acceptance)."""
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    brute = {}
    for r in annops.cosine_topk(df, n_queries=10, k=5).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(n_probes):
        got = {}
        for r in annops.ann_lsh_topk(
            df, n_queries=10, k=5, n_probes=n_probes
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hit = sum(len(got.get(q, set()) & nn) for q, nn in brute.items())
        return hit / sum(len(nn) for nn in brute.values())

    r1, r3, r9 = recall(1), recall(3), recall(9)
    assert r1 <= r3 <= r9
    assert r9 > r1  # the fixture must actually exercise the extra probes


def test_ivf_topk_recall_and_determinism(spark):
    """IVF (integer k-means) ANN: recall vs brute rises with n_probe
    (probed-list superset ⇒ monotone), and training+search are fully
    deterministic across runs (integer-exact arithmetic)."""
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = annops.ivf_centroids(df)
    assert 1 <= len(cents) <= annops.N_LIST
    assert cents == annops.ivf_centroids(df)  # bit-stable training
    brute = {}
    for r in annops.cosine_topk(df, n_queries=10, k=5).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(n_probe):
        got = {}
        for r in annops.ivf_topk(
            df, n_queries=10, k=5, n_probe=n_probe, cents=cents
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hit = sum(len(got.get(q, set()) & nn) for q, nn in brute.items())
        return hit / sum(len(nn) for nn in brute.values())

    r1, r4, rall = recall(1), recall(4), recall(len(cents))
    assert r1 <= r4 <= rall
    assert rall == 1.0  # probing every list IS brute force


def test_dedup_clusters_chain_propagation_and_singletons(spark):
    """Star contraction crosses a path graph's full diameter,
    singletons keep their own id."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}", lang="en", source="a", n_chars=6)
         for i in range(8)]
    )
    pairs = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in [(0, 1), (1, 2), (2, 3), (3, 4), (6, 7)]]
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in textops.dedup_clusters(docs, pairs=pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 6}


def test_simhash_pairs_complete_vs_exact_allpairs(spark, docs):
    """Banded candidates must find EVERY pair with hamming ≤ 3 (the
    pigeonhole guarantee) — verified against an exact all-pairs check
    on the wide signature; reported hamming values are exact."""
    sig = {r["doc_id"]: r["simhash"]
           for r in textops.simhash64(docs).collect()}
    ids = sorted(sig)
    exp = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= 3:
                exp[(a, b)] = h
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in textops.simhash_pairs(docs).collect()}
    assert got == exp
    assert got, "fixture must contain at least one near-dup pair"
    with pytest.raises(ValueError, match="complete"):
        textops.simhash_pairs(docs, max_hamming=4)


def test_token_count_bpe_matches_scalar(spark):
    import re

    rows = [
        Row(doc_id=1, text="Hello, wo9rld  foo", lang="en", source="a", n_chars=18),
        Row(doc_id=2, text="it's 2024!", lang="en", source="a", n_chars=10),
        Row(doc_id=3, text="   ", lang="en", source="a", n_chars=3),
    ]
    out = {r["doc_id"]: r for r in
           textops.token_count_bpe(spark.createDataFrame(rows)).collect()}
    for r in rows:
        t = r.text.lower()
        ws = len([x for x in re.split(r"\s+", t) if x])
        bpe = len(re.findall(textops.BPE_PATTERN, t))
        assert out[r.doc_id]["n_ws_tokens"] == ws, r.doc_id
        assert out[r.doc_id]["n_bpe_tokens"] == bpe, r.doc_id
        assert out[r.doc_id]["chars_per_bpe"] == pytest.approx(
            len(t) / max(bpe, 1))


def test_dedup_clusters_raises_when_not_converged(spark, monkeypatch):
    # force the distributed loop (the r7 small-graph fast path needs
    # no rounds and cannot fail to converge)
    monkeypatch.setattr(textops, "CC_COLLECT_EDGES", 0)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"d{i}", lang="en", source="a", n_chars=2)
         for i in range(64)]
    )
    chain = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(63)]
    )
    with pytest.raises(RuntimeError, match="converge"):
        textops.dedup_clusters(docs, pairs=chain, max_iters=1)


def test_connected_components_long_chain_log_rounds(spark, monkeypatch):
    """(VERDICT r2 #3) Star contraction must converge in O(log n)
    rounds, not diameter-many: a 512-node path graph (diameter 511 —
    min-label propagation would need ~511 rounds) finishes within
    ceil(log2 n) + 3 rounds with exactly the right labels. The r7
    small-graph fast path is disabled so the distributed loop itself
    stays locked."""
    import math

    monkeypatch.setattr(textops, "CC_COLLECT_EDGES", 0)

    from pyspark.sql import functions as F

    n = 512
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    chain = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels, rounds = textops.connected_components(docs, chain, max_iters=25)
    assert rounds <= math.ceil(math.log2(n)) + 3, rounds
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


@pytest.mark.parametrize("fast_path", [True, False])
def test_connected_components_mixed_graph_matches_unionfind(
    spark, monkeypatch, fast_path
):
    """Random multi-component graph vs a scalar union-find oracle —
    through BOTH the r7 driver-side fast path and the distributed
    contraction loop (forced by zeroing the fast-path bound)."""
    import random

    if not fast_path:
        monkeypatch.setattr(textops, "CC_COLLECT_EDGES", 0)

    from pyspark.sql import functions as F

    rng = random.Random(7)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(220)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {i: find(i) for i in range(n)}
    # oracle roots ARE component minima (union always keeps the min)
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    edf = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in edges]
    )
    labels, _ = textops.connected_components(docs, edf, max_iters=25)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == exp


def test_winnow_fingerprints_match_scalar_oracle(spark):
    """Winnowing vs a direct scalar implementation: same fingerprint
    sets, shared-substring docs share fingerprints, short docs empty."""
    rows = [
        Row(doc_id=1, text="The quick brown fox jumps", lang="en", source="a", n_chars=25),
        Row(doc_id=2, text="a quick brown fox sleeps", lang="en", source="a", n_chars=24),
        Row(doc_id=3, text="zz", lang="en", source="a", n_chars=2),  # < k
        Row(doc_id=4, text="abcdefg", lang="en", source="a", n_chars=7),
    ]
    got = {}
    for r in textops.winnow_fingerprints(spark.createDataFrame(rows)).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    k, w = textops.WINNOW_K, textops.WINNOW_W

    def oracle(t):
        t = t.lower()
        codes = [
            sum(ord(t[i + j]) * textops.POW31[j] for j in range(k))
            % textops.P
            for i in range(len(t) - k + 1)
        ]
        return {min(codes[i:i + w]) for i in range(len(codes) - w + 1)}

    exp = {r.doc_id: oracle(r.text) for r in rows if len(r.text) >= k + w - 1}
    assert got == {d: s for d, s in exp.items() if s}
    # near-dup docs share the 'quick brown fox' fingerprints
    assert got[1] & got[2]


def test_lsh_mega_bucket_guard_star_policy(spark):
    """(VERDICT r2 #1) A degenerate corpus — thousands of identical
    boilerplate docs sharing one band signature — must NOT trigger the
    quadratic within-bucket self-join. Buckets over max_bucket degrade
    to a star on the bucket-min id: O(n) pairs, connectivity (and thus
    clustering) preserved, overflow observable via lsh_bucket_stats."""
    from pyspark.sql import functions as F

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate license header text").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("a").alias("source"),
        F.lit(41).alias("n_chars"),
    )
    pairs = textops.minhash_lsh_pairs(docs).localCheckpoint(eager=True)
    rows = pairs.collect()  # O(bucket · 1) star pairs, never ~n²/2
    assert len(rows) == n - 1
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {
        (0, i) for i in range(1, n)
    }
    # connectivity preserved: one cluster rooted at the min doc_id
    got = (
        textops.dedup_clusters(docs, pairs=pairs)
        .groupBy("cluster_id")
        .count()
        .collect()
    )
    assert {(r["cluster_id"], r["count"]) for r in got} == {(0, n)}
    # the observability companion flags every band's bucket
    banded = textops.minhash_banded(docs)
    stats = {
        r["band"]: (r["n_overflow_buckets"], r["n_overflow_rows"])
        for r in textops.lsh_bucket_stats(banded).collect()
    }
    assert stats == {b: (1, n) for b in range(textops.LSH_BANDS)}


def test_lsh_guard_exact_below_cap_and_unguarded_identical(spark, docs):
    """Small buckets keep exact all-pairs semantics: the guarded
    default equals the unguarded (max_bucket=None) pair set."""
    guarded = {(r["doc_a"], r["doc_b"])
               for r in textops.minhash_lsh_pairs(docs).collect()}
    exact = {(r["doc_a"], r["doc_b"])
             for r in textops.minhash_lsh_pairs(docs, max_bucket=None).collect()}
    assert guarded == exact and guarded


def test_embedding_neardup_mega_bucket_guard(spark):
    """The embedding pair generator shares banded_candidate_pairs, so a
    degenerate corpus (thousands of identical vectors → one LSH bucket
    per band) must also degrade to star pairs, all of which survive the
    exact cosine verify (score 1.0)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    base = [float(v) for v in rng.normal(size=annops.DIM)]
    n = 4000
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(v) for v in base]).alias("embedding"),
        F.lit(1).alias("label"),
    )
    got = annops.neardup_pairs(emb, min_score=0.99, max_bucket=500).collect()
    assert len(got) == n - 1
    assert {(r["vec_a"], r["vec_b"]) for r in got} == {
        (0, i) for i in range(1, n)
    }
    assert all(r["score"] > 0.999 for r in got)


def test_oracle_sf_buckets_stay_under_guard_cap(spark):
    """The pair oracles (DuckDB) model UNguarded all-pairs semantics
    while the Spark defaults are guarded: equality of the oracle gate
    therefore rests on the invariant that no band bucket at the oracle
    scale factor exceeds LSH_MAX_BUCKET. Pin it — if datagen or the cap
    ever changes, this fails loudly instead of a confusing hash diff."""
    import os

    from pyspark.sql import functions as F

    sf = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    mx = (
        textops.lsh_bucket_stats(textops.minhash_banded(docs))
        .agg(F.max("max_bucket_rows"))
        .first()[0]
    )
    assert mx < textops.LSH_MAX_BUCKET, mx
    # simhash banding
    sig = textops.simhash64(docs)
    rows = textops.SIM64_BITS // textops.SIMHASH_BANDS
    mask = (1 << rows) - 1
    parts = [
        sig.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * rows)
            .bitwiseAND(F.lit(mask))
            .alias("key"),
        )
        for b in range(textops.SIMHASH_BANDS)
    ]
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    mx = (
        textops.lsh_bucket_stats(banded)
        .agg(F.max("max_bucket_rows"))
        .first()[0]
    )
    assert mx < textops.LSH_MAX_BUCKET, mx
    # embedding hyperplane-LSH banding (annops.neardup_pairs layout)
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    base = annops.with_quantized(emb)
    rows_e = annops.N_PLANES // 2
    parts = [
        base.select(
            "vec_id",
            F.lit(b).alias("band"),
            annops.lsh_band_col(F.col("q"), b, rows_e).alias("key"),
        )
        for b in range(2)
    ]
    banded = parts[0].unionByName(parts[1])
    mx = (
        textops.lsh_bucket_stats(banded)
        .agg(F.max("max_bucket_rows"))
        .first()[0]
    )
    assert mx < textops.LSH_MAX_BUCKET, mx


def test_zero_norm_embedding_is_excluded_not_fatal(spark):
    """(review r3) A zero-quantized (or NULL) embedding must not abort
    the job (Spark 4 ANSI DIVIDE_BY_ZERO) nor occupy rank 1 with a NULL
    score — it simply has no direction and is excluded."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(4)
    base = [float(v) for v in rng.normal(size=annops.DIM)]
    rows = [
        Row(vec_id=0, embedding=base, label=1),
        Row(vec_id=1, embedding=[float(v) * 2 for v in base], label=1),
        Row(vec_id=2, embedding=[0.0001] * annops.DIM, label=1),  # → zero
        Row(vec_id=3, embedding=None, label=1),
    ]
    emb = spark.createDataFrame(rows, schema="vec_id long, "
                                "embedding array<double>, label int")
    out = annops.cosine_topk(emb, n_queries=2, k=3).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 2 not in ids and 3 not in ids
    assert all(r["score"] is not None for r in out)
    assert {r["query_id"] for r in out} == {0, 1}
    # banded pairs path survives too
    pairs = annops.neardup_pairs(emb, min_score=0.9).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in pairs} == {(0, 1)}


def test_neardup_bands_validated(spark):
    import numpy as np
    from pyspark.sql import Row

    emb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0] * annops.DIM, label=1)])
    for bad in (0, 3, 16):
        with pytest.raises(ValueError, match="bands"):
            annops.neardup_pairs(emb, bands=bad)


def test_char_ngrams_short_docs_yield_no_rows(spark):
    """(review r3) Spark's sequence(1, 0) is DESCENDING [1, 0]; docs
    shorter than n must emit zero grams (matching the SQL oracle's
    end-exclusive range), not bogus sub-n-length grams."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b", lang="en", source="a", n_chars=3),
        Row(doc_id=2, text="", lang="en", source="a", n_chars=0),
        Row(doc_id=3, text="abcd", lang="en", source="a", n_chars=4),
        Row(doc_id=4, text="abcde", lang="en", source="a", n_chars=5),
    ])
    got = {}
    for r in textops.char_ngrams(docs, n=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["gram"])
    assert got == {3: {"abcd"}, 4: {"abcd", "bcde"}}
    # short identical docs in a candidate pair: no grams → no jaccard row
    cand = spark.createDataFrame([Row(doc_a=1, doc_b=2)])
    assert textops.ngram_jaccard_pairs(docs, candidates=cand).count() == 0


def test_ivf_index_save_load_serves_identically(spark, tmp_path):
    """IvfIndex persistence (r4): a cold-loaded index serves the exact
    rows the built-inline path produces — training and assignment are
    skipped, and the corpus parquet is laid out as on-disk inverted
    lists (partitioned by cid)."""
    import os

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    built = sorted(map(tuple, annops.ivf_topk(emb).collect()))

    idx = annops.ivf_index(emb)
    path = str(tmp_path / "ivf_idx")
    annops.ivf_index_save(idx, path)
    # inverted-list layout: one directory per centroid list, under the
    # committed generation (meta-last commit, r5)
    gen = int(spark.read.parquet(os.path.join(path, "meta")).first()["gen"])
    dirs = [d for d in os.listdir(os.path.join(path, f"corpus_g{gen}"))
            if d.startswith("cid=")]
    assert 1 <= len(dirs) <= annops.N_LIST
    # re-save commits a NEW generation; a stale partial generation dir
    # without a meta rewrite is invisible to the loader. The re-save
    # goes through a LOADED index — the exact flow the GC must not
    # break: the new generation is written by lazily reading the old
    # one, and `reloaded` keeps serving from those kept files.
    reloaded = annops.ivf_index_load(spark, path)
    annops.ivf_index_save(reloaded, path)
    assert int(
        spark.read.parquet(os.path.join(path, "meta")).first()["gen"]
    ) == gen + 1
    # post-commit GC (VERDICT r5 #4 + r6 review): bounded at live +
    # immediate predecessor — repeated re-saves no longer accumulate
    # corpus-sized dirs forever
    assert sorted(os.listdir(path)) == [
        f"cents_g{gen}", f"cents_g{gen + 1}",
        f"corpus_g{gen}", f"corpus_g{gen + 1}", "meta",
    ]
    # the pre-re-save loaded index still serves (g{gen} files kept)
    assert sorted(
        map(tuple, annops.ivf_topk(None, index=reloaded).collect())
    ) == built
    # a third save retires g{gen}: growth stays bounded at two
    annops.ivf_index_save(annops.ivf_index_load(spark, path), path)
    assert sorted(os.listdir(path)) == [
        f"cents_g{gen + 1}", f"cents_g{gen + 2}",
        f"corpus_g{gen + 1}", f"corpus_g{gen + 2}", "meta",
    ]

    loaded = annops.ivf_index_load(spark, path)
    assert loaded.cents == idx.cents
    served = sorted(map(tuple, annops.ivf_topk(None, index=loaded).collect()))
    assert served == built

    # serving from the in-session index (no disk round-trip) agrees too
    inline = sorted(map(tuple, annops.ivf_topk(None, index=idx).collect()))
    assert inline == built

    # plan shape: dynamic partition pruning fires on the partitioned
    # corpus scan — a served query reads only its probed lists' bytes
    plan = (
        annops.ivf_topk(None, index=loaded)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_recall_stats_matches_manual_and_orders(spark):
    """(VERDICT r4 #7) recall_stats must equal a hand-computed recall
    vs brute on the same probe block, stay in [0, 1], and show the
    multi-probe path at least matching single-probe."""
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    stats = {r["method"]: r for r in annops.recall_stats(df).collect()}
    assert set(stats) == {"lsh_p1", "lsh_p3", "ivf_p2"}

    brute = {}
    for r in annops.cosine_topk(df, n_queries=10, k=5).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in annops.ann_lsh_topk(df, n_queries=10, k=5).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & nn) for q, nn in brute.items())
    s = stats["lsh_p1"]
    assert s["n_queries"] == len(brute)
    assert s["total_hits"] == hits
    assert s["avg_recall"] == hits / (len(brute) * 5)
    for r in stats.values():
        assert 0.0 <= r["min_recall"] <= r["avg_recall"] <= 1.0
    assert stats["lsh_p3"]["avg_recall"] >= stats["lsh_p1"]["avg_recall"]


def test_quality_and_langid_keep_zero_token_docs(spark):
    """(r5 review) Zero-token / NULL-text docs must appear in
    quality_score and lang_id output with the documented zero-default
    semantics instead of silently vanishing through an inner join."""
    from pyspark.sql import Row, types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
    ])
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog", "en", "a", 37),
            (2, "!!! ???", "en", "a", 7),   # pure punctuation
            (3, None, "en", "a", 0),        # extraction failed
            (4, "", "en", "a", 0),          # empty
        ],
        schema,
    )
    q = {r["doc_id"]: r for r in textops.quality_score(df).collect()}
    assert set(q) == {1, 2, 3, 4}
    assert q[2]["n_tokens"] == 0 and q[2]["mean_tok_len"] == 0.0
    assert q[2]["punct_ratio"] > 0.5  # the noise is visible
    assert q[3]["quality"] == q[4]["quality"] == 0.2  # 0.2*(1-0)
    assert q[1]["quality"] > q[2]["quality"]

    lid = {r["doc_id"]: r for r in textops.lang_id(df).collect()}
    assert set(lid) == {1, 2, 3, 4}
    assert lid[3]["n_markers"] == 0 and lid[3]["pred_lang"] is not None

    # NULL texts are EXCLUDED from exact dedup, not collapsed together
    dd = textops.dedup_exact(df).collect()
    assert sorted(r["canonical_id"] for r in dd) == [1, 2, 4]
    assert all(r["n_copies"] == 1 for r in dd)


def test_dot_long_dimension_mismatch_raises(spark, emb):
    """(r5 review) A wrong-DIM embedding must fail loud in the cosine
    paths (matching the IVF path), never score plausibly-wrong."""
    from pyspark.sql import Row
    from pyspark.sql.utils import PythonException

    import pytest as _pytest

    bad = emb.unionByName(
        spark.createDataFrame(
            [Row(vec_id=99, embedding=[1.0] * 32, label=1)]
        )
    )
    with _pytest.raises(Exception, match="dimension mismatch"):
        annops.cosine_topk(bad, n_queries=1, k=3).collect()


def test_ivf_empty_centroids_raise_loud(spark):
    """(r5 review) A corpus whose vec_ids don't start at 0 must raise
    the seed-contract ValueError, not an opaque IndexError."""
    from pyspark.sql import Row

    import pytest as _pytest

    df = spark.createDataFrame(
        [Row(vec_id=1000 + i, embedding=[float(i + 1)] * 64, label=0)
         for i in range(5)]
    )
    with _pytest.raises(ValueError, match="no centroids"):
        annops.ivf_topk(df, n_queries=2, k=2).collect()


def test_banded_pairs_on_overflow_raise(spark):
    """(r5 review) on_overflow='raise' fails loud when a bucket exceeds
    the cap instead of silently star-degrading — the oracle-lane
    contract; the default keeps star semantics."""
    from pyspark.sql import Row

    rows = [Row(doc_id=i, band=0, key=7) for i in range(30)]
    banded = spark.createDataFrame(rows)
    # default: star degradation, n-1 pairs
    pairs = textops.banded_candidate_pairs(banded, max_bucket=10).collect()
    assert len(pairs) == 29
    import pytest as _pytest

    with _pytest.raises(Exception, match="exhaustive"):
        textops.banded_candidate_pairs(
            banded, max_bucket=10, on_overflow="raise"
        ).collect()
    with _pytest.raises(ValueError, match="on_overflow"):
        textops.banded_candidate_pairs(banded, on_overflow="nope")
