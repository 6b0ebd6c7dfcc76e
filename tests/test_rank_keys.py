"""Property tests of the packed-key ranking kernels in ops: the rank<k
keep-mask (_rank_keep_mask / _rank_keep_seg), the cascade's per-probe
R* rule (_rstar_values / _rstar_np) and the bulk union-score kernel,
each against a brute reference written out row by row below."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from mosaic_engine import geometry, ops

SEED = st.integers(min_value=0, max_value=2**32 - 1)


def _lt(a: float, b: float) -> bool:
    """Total order of the rank kernels: numbers ascending, every NaN
    after every number and tied with every other NaN."""
    if math.isnan(a):
        return False
    return math.isnan(b) or a < b


def _ref_keep(qid, dist, k):
    """Exact rank-min<k mask: a row is kept when fewer than its k rows
    of the same query lie strictly before it."""
    n = len(qid)
    ks = np.broadcast_to(np.asarray(k), (n,))
    keep = np.zeros(n, dtype=bool)
    for i in range(n):
        below = sum(
            1 for j in range(n) if qid[j] == qid[i] and _lt(dist[j], dist[i])
        )
        keep[i] = below < ks[i]
    return keep


def _case(seed: int, grid: bool):
    """Random (qid, dist, k) with ties, negatives (cosine ranks on
    −score), NaN of either sign, per-row k including k <= 0, and
    string or integer ids. grid=True puts values on an integer grid,
    far coarser than the key quantum."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 120))
    nq = int(rng.integers(1, 12))
    q = rng.integers(0, nq, n)
    if grid:
        scale = float(10.0 ** rng.integers(-3, 7))
        dist = rng.integers(-20, 20, n).astype(np.float64) * scale
    else:
        dist = rng.normal(0.0, float(10.0 ** rng.integers(-6, 7)), n)
        dup = rng.random(n) < 0.3
        dist[dup] = dist[rng.integers(0, n, n)][dup]
    dist[rng.random(n) < 0.1] = np.nan
    dist[rng.random(n) < 0.05] = -np.nan  # sign bit set
    dist[rng.random(n) < 0.05] = -0.0
    dist[rng.random(n) < 0.05] = 0.0
    qid = np.array([f"q{v}" for v in q], dtype=object) if seed % 2 else q
    if seed % 3 == 0:
        k = int(rng.integers(-1, 8))
    else:
        k = rng.integers(-1, 8, nq)[q]
    return qid, dist, k


@settings(max_examples=150, deadline=None)
@given(SEED)
def test_rank_keep_mask_is_superset_of_exact_rank(seed):
    qid, dist, k = _case(seed, grid=False)
    got = ops._rank_keep_mask(qid, dist, k)
    ref = _ref_keep(qid, dist, k)
    assert not (ref & ~got).any()
    # what is kept beyond the exact set is confined to rows whose value
    # shares a packed key with a row of the same query that is exactly
    # kept under the extra row's own k
    codes = np.unique(qid, return_inverse=True)[1]
    nseg = int(codes.max()) + 1
    key, _ = ops._packed_keys(codes, nseg, dist)
    ks = np.broadcast_to(np.asarray(k), (len(qid),))
    for i in np.flatnonzero(got & ~ref):
        same = (codes == codes[i]) & _ref_keep(qid, dist, int(ks[i]))
        assert same.any() and key[i] <= key[same].max()


@settings(max_examples=150, deadline=None)
@given(SEED)
def test_rank_keep_mask_exact_when_values_exceed_quantum(seed):
    qid, dist, k = _case(seed, grid=True)
    got = ops._rank_keep_mask(qid, dist, k)
    np.testing.assert_array_equal(got, _ref_keep(qid, dist, k))


@settings(max_examples=100, deadline=None)
@given(SEED)
def test_rank_keep_mask_keeps_boundary_ties(seed):
    qid, dist, k = _case(seed, grid=seed % 2 == 0)
    got = ops._rank_keep_mask(qid, dist, k)
    for i in np.flatnonzero(got):
        tied = (qid == qid[i]) & (
            (dist == dist[i]) | (np.isnan(dist) & np.isnan(dist[i]))
        )
        assert got[tied].all()


def test_rank_keep_mask_edge_shapes():
    d = np.array([3.0, 1.0, 2.0, 1.0])
    q = np.array([7, 7, 7, 7])
    assert not ops._rank_keep_mask(q, d, 0).any()
    assert not ops._rank_keep_mask(q, d, -2).any()
    assert ops._rank_keep_mask(q, d, 9).all()
    # the two tied minima both survive k=1; the k-th value closes k=3
    np.testing.assert_array_equal(
        ops._rank_keep_mask(q, d, 1), [False, True, False, True]
    )
    np.testing.assert_array_equal(
        ops._rank_keep_mask(q, d, 3), [False, True, True, True]
    )
    # per-row k: each row is held to its own k
    np.testing.assert_array_equal(
        ops._rank_keep_mask(q, d, np.array([9, 0, 3, 1])),
        [True, False, True, True],
    )
    # a null k (NaN in a float k array) keeps nothing for its row
    np.testing.assert_array_equal(
        ops._rank_keep_mask(q, d, np.array([np.nan, 1.0, 3.0, 1.0])),
        [False, True, True, True],
    )
    assert ops._rank_keep_mask(q[:0], d[:0], 1).shape == (0,)


@settings(max_examples=200, deadline=None)
@given(
    st.floats(allow_nan=False),
    st.integers(min_value=1, max_value=2**40),
)
def test_key_ceiling_bounds_its_bucket(v, nseg):
    key, shift = ops._packed_keys(np.array([nseg - 1]), nseg, [v])
    top = ops._key_ceiling(key, shift)
    assert top[0] >= v
    # and it rounds back to the same key, except at +inf (the bucket
    # reaches into the NaN patterns) and -0.0 (keys fold it onto +0.0)
    again, _ = ops._packed_keys(np.array([nseg - 1]), nseg, top)
    assert (
        again[0] == key[0]
        or top[0] == np.inf
        or (top[0] == 0.0 and np.signbit(top[0]))
    )


def _ref_rstar(pid, maxd, n, kreq_row):
    """Per probe: walk its cells by ascending maxd, R* = the maxd at
    which the running count first reaches k (+inf if it never does)."""
    out = {}
    for p in np.unique(pid):
        rows = np.flatnonzero(pid == p)
        run, r = 0, np.inf
        for i in sorted(rows, key=lambda i: maxd[i]):
            run += n[i]
            if run >= kreq_row[i]:
                r = maxd[i]
                break
        out[int(p)] = r
    return out


def _rstar_case(seed: int, grid: bool):
    rng = np.random.default_rng(seed)
    P = int(rng.integers(1, 30))
    m = int(rng.integers(1, 400))
    pid = np.sort(rng.integers(0, P, m))
    if grid:
        hi = rng.integers(1, 1000, m).astype(np.float64)
        lo = np.maximum(hi - rng.integers(0, 500, m), 0.0)
    else:
        hi = rng.uniform(0.0, float(10.0 ** rng.integers(-8, 1)), m)
        lo = hi * rng.uniform(0.0, 1.0, m)
        dup = rng.random(m) < 0.2
        hi[dup] = hi[rng.integers(0, m, m)][dup]
        lo = np.minimum(lo, hi)
    n = rng.integers(0, 6, m)
    kreq = rng.integers(1, 12, P)[pid]
    return pid, lo, hi, n, kreq


@settings(max_examples=150, deadline=None)
@given(SEED, st.booleans())
def test_rstar_is_a_valid_radius_one_quantum_from_exact(seed, grid):
    pid, lo, hi, n, kreq = _rstar_case(seed, grid)
    rstar = ops._rstar_values(pid, hi, n, kreq)
    ref = _ref_rstar(pid, hi, n, kreq)
    nseg = int(pid.max()) + 1
    for p, r_exact in ref.items():
        r = rstar[p]
        rows = pid == p
        if r_exact == np.inf:
            assert r == np.inf
            continue
        # at least k members provably lie within R*
        assert n[rows & (hi <= r)].sum() >= kreq[rows][0]
        # never below the exact radius, and inside its key bucket
        assert r >= r_exact
        kr, _ = ops._packed_keys(np.array([p, p]), nseg, [r, r_exact])
        assert kr[0] == kr[1]


@settings(max_examples=150, deadline=None)
@given(SEED, st.booleans())
def test_rstar_survivors_superset_of_exact_rule(seed, grid):
    pid, lo, hi, n, kreq = _rstar_case(seed, grid)
    got = ops._rstar_np(pid, lo, hi, n, kreq)
    assert np.all(np.diff(got) > 0)
    ref = _ref_rstar(pid, hi, n, kreq)
    exact = np.flatnonzero(lo <= np.array([ref[int(p)] for p in pid]))
    assert set(exact) <= set(got)
    if grid:
        np.testing.assert_array_equal(got, exact)


def _union_batch(rng, string_ids: bool):
    """One union-kernel input partition: corpus members (side 0) and
    probe candidates (side 1) over a handful of cells."""
    cells = rng.integers(0, 6, 200)
    mem = {
        "cell": cells,
        "image_id": [f"img{i:03d}" for i in range(200)],
        "slon": rng.uniform(-1, 1, 200).round(2),
        "slat": rng.uniform(-1, 1, 200).round(2),
    }
    nq = 25
    qids = (
        [f"p{i}" for i in range(nq)] if string_ids else list(range(nq))
    )
    kq = rng.integers(0, 6, nq)
    cand = [(q, c) for q in range(nq) for c in rng.choice(6, 2, False)]
    plon = rng.uniform(-1, 1, nq)
    plat = rng.uniform(-1, 1, nq)
    n_m, n_p = len(mem["cell"]), len(cand)
    qtype = pa.string() if string_ids else pa.int64()
    tbl = pa.table(
        {
            "cell": pa.array(
                list(mem["cell"]) + [c for _, c in cand], pa.int64()
            ),
            "image_id": pa.array(mem["image_id"] + [None] * n_p),
            "slon": pa.array(list(mem["slon"]) + [None] * n_p, pa.float64()),
            "slat": pa.array(list(mem["slat"]) + [None] * n_p, pa.float64()),
            "query_id": pa.array(
                [None] * n_m + [qids[q] for q, _ in cand], qtype
            ),
            "plon": pa.array([None] * n_m + [plon[q] for q, _ in cand]),
            "plat": pa.array([None] * n_m + [plat[q] for q, _ in cand]),
            "k_req": pa.array(
                [None] * n_m + [int(kq[q]) for q, _ in cand], pa.int32()
            ),
            "side": pa.array([0] * n_m + [1] * n_p, pa.int8()),
        }
    )
    return tbl, mem, cand, qids, kq, plon, plat


def test_union_score_kernel_matches_brute(monkeypatch):
    """The bulk kernel gathers ids only for its survivors; with a tiny
    expansion chunk (forcing the doubling compaction) its output must
    still hold every pair of each query's exact top-k_req (ties kept),
    carry the input id types, and score with geometry.haversine_m."""
    monkeypatch.setattr(ops, "SCORE_BLOCK_PAIRS", 64)
    monkeypatch.setattr(ops, "TOPK_COMPACT_ROWS", 64)
    rng = np.random.default_rng(11)
    for string_ids in (False, True):
        tbl, mem, cand, qids, kq, plon, plat = _union_batch(rng, string_ids)
        out = pa.Table.from_batches(
            list(ops._make_union_score()(tbl.to_batches(max_chunksize=97)))
        )
        assert out.schema.field("query_id").type == tbl.schema.field(
            "query_id"
        ).type
        assert out.schema.field("k_req").type == pa.int32()
        got = {
            (r["query_id"], r["image_id"]): r["dist_m"]
            for r in out.to_pylist()
        }
        assert len(got) == out.num_rows
        for q in range(len(qids)):
            qcells = {c for qq, c in cand if qq == q}
            ids = [i for i in range(200) if mem["cell"][i] in qcells]
            d = geometry.haversine_m(
                np.full(len(ids), plon[q]),
                np.full(len(ids), plat[q]),
                mem["slon"][ids],
                mem["slat"][ids],
            )
            keep = _ref_keep(np.zeros(len(ids)), d, int(kq[q]))
            for i, di, kp in zip(ids, d, keep):
                key = (qids[q], mem["image_id"][i])
                if kp:
                    assert key in got, key
                    np.testing.assert_allclose(got[key], di, rtol=1e-12)
                else:
                    assert key not in got, key


@settings(max_examples=200, deadline=None)
@given(
    counts=st.lists(st.integers(0, 40), max_size=30),
    block=st.integers(1, 50),
)
def test_pair_blocks_cover_every_pair_within_block(counts, block):
    """_pair_blocks, the pair chunker of the resident kNN and union
    kernels, yields every (row, member) pair of the CSR ranges exactly
    once, rows ascending, and no block holds more than `block` pairs —
    also when a single range is longer than a block."""
    cnt = np.array(counts, dtype=np.int64)
    lo = np.cumsum(cnt) - cnt + 7
    hi = lo + cnt
    got = []
    for row, mem in ops._pair_blocks(lo, hi, block):
        assert 0 < len(row) == len(mem) <= block
        got += list(zip(row.tolist(), mem.tolist()))
    assert got == [
        (i, j) for i in range(len(cnt)) for j in range(lo[i], hi[i])
    ]
