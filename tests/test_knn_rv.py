"""kNN (banded vs brute vs scalar oracle) + raster↔vector join + cells."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from mosaic_engine import cells, datagen, ops
from tests import oracle


def _oracle_centroid_lon(min_lon, max_lon):
    """Footprint centroid lon honoring the crossing convention
    (min_lon > max_lon): rotate the naive midpoint by 180° and wrap."""
    raw = (min_lon + max_lon) / 2
    if min_lon > max_lon:
        return ((raw + 360.0) % 360.0) - 180.0
    return raw


def _oracle_knn(scene_records, query_recs):
    """Scalar brute-force top-k with (dist, image_id) tiebreak."""
    cents = [
        (
            r["image_id"],
            _oracle_centroid_lon(r["min_lon"], r["max_lon"]),
            (r["min_lat"] + r["max_lat"]) / 2,
        )
        for r in scene_records
    ]
    out = {}
    for q in query_recs:
        scored = sorted(
            (
                (oracle.haversine_m(q["lon"], q["lat"], lon, lat), iid)
                for iid, lon, lat in cents
            ),
        )[: q["k"]]
        out[q["query_id"]] = [(i + 1, iid, d) for i, (d, iid) in enumerate(scored)]
    return out


def test_cells_roundtrip_and_parent():
    rng = np.random.default_rng(1)
    for level in (0, 3, 9, 15, 29):
        xs = rng.integers(0, 1 << level, 200) if level else np.zeros(200, np.int64)
        ys = rng.integers(0, 1 << level, 200) if level else np.zeros(200, np.int64)
        packed = cells.pack_cell(xs, ys, level)
        rx, ry, rl = cells.unpack_cell(packed)
        assert (rx == xs).all() and (ry == ys).all() and (rl == level).all()


@pytest.mark.parametrize("mode", ["banded", "brute"])
def test_knn_matches_oracle(spark, scenes_df, scene_records, fixture_dir, mode):
    queries = spark.read.parquet(os.path.join(fixture_dir, "knn_queries.parquet"))
    if mode == "banded":
        res = ops.knn_join(scenes_df, queries, level=5)
    else:
        res = ops.knn_bruteforce(scenes_df, queries)
    got: dict[int, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["image_id"], r["dist_m"])
        )
    for q in got:
        got[q].sort()
    qrecs = pq.read_table(
        os.path.join(fixture_dir, "knn_queries.parquet")
    ).to_pylist()
    exp = _oracle_knn(scene_records, qrecs)
    assert set(got) == set(exp)
    for qid in exp:
        g, e = got[qid], exp[qid]
        assert [(r, i) for r, i, _ in g] == [(r, i) for r, i, _ in e], qid
        for (_, _, gd), (_, _, ed) in zip(g, e):
            assert gd == pytest.approx(ed, rel=1e-12)


def test_rv_join_matches_oracle(spark, scenes_df, scene_records, fixture_dir):
    vectors = spark.read.parquet(
        os.path.join(fixture_dir, "vector_tiles.parquet")
    )
    got = {
        (r["quadkey"], r["image_id"], r["feature_id"])
        for r in ops.raster_vector_join(scenes_df, vectors, 8).collect()
    }
    vrecs = pq.read_table(
        os.path.join(fixture_dir, "vector_tiles.parquet")
    ).to_pylist()
    exp = set()
    vq = {}
    for v in vrecs:
        sc = {
            "fp_xs": v["xs"],
            "fp_ys": v["ys"],
            "min_lon": min(v["xs"]),
            "min_lat": min(v["ys"]),
            "max_lon": max(v["xs"]),
            "max_lat": max(v["ys"]),
        }
        vq[v["feature_id"]] = oracle.scene_quadkeys(sc, 8)
    for s in scene_records:
        sq = oracle.scene_quadkeys(s, 8)
        for fid, qs in vq.items():
            for qk in sq & qs:
                exp.add((qk, s["image_id"], fid))
    assert got == exp


def test_knn_tiebreak_by_image_id(spark):
    """Equal distances break ties by image_id ascending."""
    from pyspark.sql import Row

    scenes = spark.createDataFrame(
        [
            Row(image_id="B", min_lon=9.0, max_lon=11.0, min_lat=-1.0, max_lat=1.0),
            Row(image_id="A", min_lon=9.0, max_lon=11.0, min_lat=-1.0, max_lat=1.0),
            Row(image_id="C", min_lon=19.0, max_lon=21.0, min_lat=-1.0, max_lat=1.0),
        ]
    )
    queries = spark.createDataFrame(
        [Row(query_id=0, lon=10.0, lat=0.0, k=2)]
    )
    for fn in (ops.knn_bruteforce, lambda s, q: ops.knn_join(s, q, level=6)):
        got = sorted(
            (r["rank"], r["image_id"]) for r in fn(scenes, queries).collect()
        )
        assert got == [(1, "A"), (2, "B")]


@pytest.mark.parametrize("level", [3, 5, 8])
def test_knn_adversarial_probes_match_brute(spark, scenes_df, level):
    """Cell-stats pruning must stay exact for probes the old ring-guard
    mishandled: high-latitude (poleward coverage < cos(lat_query) band
    estimate), far out-of-extent, antimeridian, and on-cell-corner
    probes — at coarse AND fine levels (VERDICT r1 'What's wrong' #2/#3,
    ADVICE r1 poleward-guard finding)."""
    from pyspark.sql import Row

    probes = [
        (0, -120.0, 79.2, 3),    # poleward of the corpus, coarse-level trap
        (1, -118.0, 74.0, 5),
        (2, 179.9, 30.0, 4),     # antimeridian side, corpus far west of it
        (3, -179.9, -30.0, 4),
        (4, 55.0, -80.0, 7),     # deep out-of-extent southern ocean
        (5, -118.125, 30.0, 3),  # exactly on a level-5 cell corner lon
        (6, -121.3, 33.9, 1),    # inside the corpus extent
        (7, 0.0, 0.0, 2),
    ]
    queries = spark.createDataFrame(
        [Row(query_id=i, lon=lo, lat=la, k=k) for i, lo, la, k in probes]
    )
    banded = ops.knn_join(scenes_df, queries, level=level)
    brute = ops.knn_bruteforce(scenes_df, queries)
    got = sorted(map(tuple, banded.collect()))
    exp = sorted(map(tuple, brute.collect()))
    assert [g[:3] for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-12)


def test_knn_random_global_probes_match_brute(spark, scenes_df):
    """120 seeded-random probes across the full globe — including
    latitudes beyond the mercator clamp (±85.05..) and random k — must
    equal brute force at coarse AND fine banding levels. This sweeps
    the bound math (wrapped lon, meridian stationary latitude, R*
    counting) over inputs no hand-written case anticipates."""
    from pyspark.sql import Row

    rng = np.random.default_rng(42)
    n = 120
    lons = rng.uniform(-180.0, 180.0, n)
    lats = rng.uniform(-89.0, 89.0, n)
    ks = rng.integers(1, 8, n)
    # pin a few extremes over the random draw
    lons[:4] = [-180.0, 180.0, 0.0, 179.999]
    lats[:4] = [88.9, -88.9, 0.0, -85.0511]
    queries = spark.createDataFrame(
        [Row(query_id=i, lon=float(lons[i]), lat=float(lats[i]), k=int(ks[i]))
         for i in range(n)]
    )
    exp = sorted(map(tuple, ops.knn_bruteforce(scenes_df, queries).collect()))
    for level in (2, 6, 9):
        got = sorted(
            map(tuple, ops.knn_join(scenes_df, queries, level=level).collect())
        )
        assert [g[:3] for g in got] == [e[:3] for e in exp], f"level={level}"
        for g, e in zip(got, exp):
            assert g[3] == pytest.approx(e[3], rel=1e-12)


@pytest.mark.parametrize("level", [11, 13])
def test_knn_past_cap_refinement_matches_brute(
    spark, monkeypatch, force_compaction, level
):
    """Past FINE_COLLECT_ROWS the cascade kernel stops at the level-9
    rollup and a second pass refines its survivors down to `level`.
    Forcing that path (a zero collect cap) on a hotspot corpus with
    pole/antimeridian edge scenes must stay exact vs brute force, for
    seeded global probes and for probes dropped next to scene
    centroids, where the fine cells are dense. Past the cap the members
    are never resident, whatever the residency bound: under the
    default bound and under 0 the union kernel scores, with the
    default reduction and with every task compacting."""
    from pyspark.sql import Row

    monkeypatch.setattr(ops, "FINE_COLLECT_ROWS", 0)
    t = datagen.gen_scenes(
        n_scenes=4000, paths=10, rows=10, seed=11, payload=False,
        edge_cases=True, hotspot_frac=0.7,
    ).select(["image_id", "min_lon", "max_lon", "min_lat", "max_lat"])
    df = spark.createDataFrame(t.to_pandas())

    rng = np.random.default_rng(level)
    n = 200
    lons = rng.uniform(-180.0, 180.0, n)
    lats = rng.uniform(-89.0, 89.0, n)
    ks = rng.integers(1, 12, n)
    near = n // 2
    pick = rng.integers(0, t.num_rows, near)
    mid_lon = (t["min_lon"].to_numpy() + t["max_lon"].to_numpy()) / 2
    mid_lat = (t["min_lat"].to_numpy() + t["max_lat"].to_numpy()) / 2
    jitter = rng.normal(0.0, 0.3, (2, near))
    lons[:near] = (mid_lon[pick] + jitter[0] + 180.0) % 360.0 - 180.0
    lats[:near] = np.clip(mid_lat[pick] + jitter[1], -89.0, 89.0)
    queries = spark.createDataFrame(
        [Row(query_id=i, lon=float(lons[i]), lat=float(lats[i]), k=int(ks[i]))
         for i in range(n)]
    )
    exp = sorted(map(tuple, ops.knn_bruteforce(df, queries).collect()))
    cases = [(bound, on) for bound in (ops.KNN_RESIDENT_ROWS, 0)
             for on in (False, True)]
    for bound, compact in cases:
        monkeypatch.setattr(ops, "KNN_RESIDENT_ROWS", bound)
        if not compact:
            idx = ops.knn_index(df, level=level)
            assert idx.prep[0]["cap"] == 9 and "members" not in idx.prep[0]
        force_compaction(compact)
        got = sorted(
            map(tuple, ops.knn_join(None, queries, index=idx).collect())
        )
        assert [g[:3] for g in got] == [e[:3] for e in exp], (bound, compact)
        for g, e in zip(got, exp):
            assert g[3] == pytest.approx(e[3], rel=1e-12)


@pytest.mark.parametrize("level", [6, 8, 9])
def test_knn_scene_beyond_mercator_clamp_stays_exact(spark, level):
    """A scene centroid poleward of the mercator clamp (±85.05°) maps
    into the edge tile row but physically sits up to ~550 km OUTSIDE
    that row's rect. At fine levels (cell diameter < the overflow) the
    un-stretched rect's maxd underestimates the pruning radius R*, so
    the TRUE nearest scene's cell gets pruned and the distant polar
    scene is returned (code-review r2 finding): probe just south of the
    top row, polar decoy at 544 km, true neighbor at ~300 km in a cell
    whose lower bound exceeds the broken R* of ~90 km.

    The same holds past the antimeridian: a scene stored unwrapped
    wholly east of 180° (min_lon < max_lon, centroid lon 183) must
    key into the tile column that holds its wrapped centroid (-177),
    not the clamped last column, or R* prunes it in favour of a scene
    109 km away (level 8). The reference is oracle.haversine_m over
    the raw centroids."""
    from pyspark.sql import Row

    east = spark.createDataFrame(
        [("east", 181.0, 185.0, 10.0, 11.0), ("near", -176.5, -175.5, 10.0, 11.0)],
        "image_id string, min_lon double, max_lon double, "
        "min_lat double, max_lat double",
    )
    probe = spark.createDataFrame([Row(query_id=0, lon=-177.0, lat=10.5, k=1)])
    ref = min(
        (oracle.haversine_m(-177.0, 10.5, (w + e) / 2, 10.5), iid)
        for iid, w, e in (("east", 181.0, 185.0), ("near", -176.5, -175.5))
    )
    assert ref[1] == "east"  # the construction is adversarial
    got = ops.knn_join(east, probe, level=level).collect()
    assert [(r["rank"], r["image_id"]) for r in got] == [(1, "east")]
    assert got[0]["dist_m"] == pytest.approx(ref[0], abs=1e-6)

    scenes = spark.createDataFrame(
        [
            Row(image_id="POLAR", min_lon=-119.0, max_lon=-117.0,
                min_lat=89.8, max_lat=90.0),     # centroid (-118, 89.9)
            Row(image_id="NEAR", min_lon=-87.5, max_lon=-86.5,
                min_lat=84.5, max_lat=85.5),     # centroid (-87, 85.0)
        ]
    )
    queries = spark.createDataFrame([Row(query_id=0, lon=-118.0, lat=85.0, k=1)])
    got = ops.knn_join(scenes, queries, level=level).collect()
    exp = ops.knn_bruteforce(scenes, queries).collect()
    assert exp[0]["image_id"] == "NEAR"  # the construction is adversarial
    assert [tuple(r)[:3] for r in got] == [tuple(r)[:3] for r in exp]
    assert got[0]["dist_m"] == pytest.approx(exp[0]["dist_m"], rel=1e-12)


def test_knn_auto_level_exact_on_dense_and_sparse(spark, scenes_df):
    """(VERDICT r2 #7) level=None auto-picks the banding level from
    corpus density; exactness must hold on a dense corpus (the scenes
    fixture) and a sparse scattered one, probes in- and out-of-extent."""
    from pyspark.sql import Row

    queries = spark.createDataFrame(
        [
            Row(query_id=0, lon=-120.0, lat=34.0, k=3),
            Row(query_id=1, lon=10.0, lat=-70.0, k=2),  # far out of extent
            Row(query_id=2, lon=179.5, lat=40.0, k=4),
        ]
    )
    got = sorted(map(tuple, ops.knn_join(scenes_df, queries).collect()))
    exp = sorted(map(tuple, ops.knn_bruteforce(scenes_df, queries).collect()))
    assert [g[:3] for g in got] == [e[:3] for e in exp]

    sparse = spark.createDataFrame(
        [
            Row(image_id=f"S{i}", min_lon=float(lo), max_lon=float(lo + 2),
                min_lat=float(la), max_lat=float(la + 2))
            for i, (lo, la) in enumerate(
                [(-150, -40), (20, 60), (100, -10), (170, 10), (-60, 45)]
            )
        ]
    )
    got = sorted(map(tuple, ops.knn_join(sparse, queries).collect()))
    exp = sorted(map(tuple, ops.knn_bruteforce(sparse, queries).collect()))
    assert [g[:3] for g in got] == [e[:3] for e in exp]

    # an empty corpus serves no rows at the auto-picked (clamped) level
    # and at levels at or below the clamp
    empty = spark.createDataFrame(
        [],
        "image_id string, min_lon double, max_lon double, "
        "min_lat double, max_lat double",
    )
    for lv in (None, 2, 3):
        assert ops.knn_join(empty, queries, level=lv).count() == 0, lv

    # a corpus smaller than k returns every scene for every probe
    two = spark.createDataFrame(sparse.take(2))
    got = sorted(map(tuple, ops.knn_join(two, queries, k=3).collect()))
    exp = sorted(map(tuple, ops.knn_bruteforce(two, queries, k=3).collect()))
    assert len(got) == 2 * 3
    assert {g[2] for g in got} == {"S0", "S1"}
    assert [g[:3] for g in got] == [e[:3] for e in exp]


def test_knn_pick_level_heuristic_shape():
    """~max(16, 4k) scenes per nonempty cell, clamped to
    [KNN_MIN_LEVEL, KNN_MAX_LEVEL] (cap raised 12 → 14 in r5 for the
    occupancy-verified bump; knn_index refines this closed-form guess
    against measured row-weighted occupancy)."""
    assert ops.knn_pick_level(1_000_000, 3) == 8
    assert ops.knn_pick_level(10_000, 3) == 5
    assert ops.knn_pick_level(100, 3) == 3          # clamp low
    assert ops.knn_pick_level(10**12, 8) == ops.KNN_MAX_LEVEL  # clamp high
    assert ops.knn_pick_level(0, 1) == 3            # empty corpus safe


def test_knn_rect_bounds_bracket_sampled_distances():
    """The cascade kernel's bounds (_bounds_fast_np over the per-cell
    attributes of _cell_attrs_np / _rect_attrs_np) must bracket the
    haversine argument a = sin²(d/2R) from the probe to ANY point of
    the cell rect, and to every member of a member-box rect — the R*
    pruning rule is exact only under that invariant (a is monotone in
    distance). Adversarial probe modes: uniform, near the cell's
    antipodal meridian (Δλ_max = 180 interior case), inside the cell
    (on a member, for boxes), and near-polar."""
    rng = np.random.default_rng(1234)
    for trial in range(200):
        level = int(rng.integers(1, 14))
        z2 = 1 << level
        x = int(rng.integers(0, z2))
        y = int(rng.integers(0, z2))
        cell = np.array([(x << 30) + y], dtype=np.int64)
        cw, cs, ce, cn = ops._cell_rect_np(cell, level)
        mode = trial % 4
        if mode == 0:
            lon = float(rng.uniform(-180, 180))
            lat = float(rng.uniform(-89.9, 89.9))
        elif mode == 1:
            lon = float(
                ((cw[0] + ce[0]) / 2 + 180 + rng.uniform(-2, 2) + 540)
                % 360 - 180
            )
            lat = float(rng.uniform(-89.9, 89.9))
        elif mode == 2:
            lon = float(rng.uniform(cw[0], ce[0]))
            lat = float(
                rng.uniform(max(cs[0], -89.9), min(cn[0], 89.9))
            )
        else:
            lon = float(rng.uniform(-180, 180))
            lat = float(rng.choice([-89.95, 89.95]))
        p = np.radians(lat)
        a_lo, a_hi = ops._bounds_fast_np(
            np.array([lon]),
            np.array([np.sin(p)]), np.array([np.cos(p)]),
            np.array([np.tan(p)]), ops._cell_attrs_np(cell, level),
        )
        gs = np.linspace(0, 1, 21)
        GL, GP = np.meshgrid(
            cw[0] + gs * (ce[0] - cw[0]), cs[0] + gs * (cn[0] - cs[0])
        )
        p2 = np.radians(GP.ravel())
        a = (
            np.sin((p2 - p) / 2.0) ** 2
            + np.cos(p) * np.cos(p2)
            * np.sin(np.radians(GL.ravel() - lon) / 2.0) ** 2
        )
        assert a_lo[0] <= a.min() + 1e-15, (level, x, y, lon, lat)
        assert a_hi[0] >= a.max() - 1e-15, (level, x, y, lon, lat)

    # member-box rects (_prep_from_arrays prunes resident cells against
    # the box of their members, which lie ON its edges): 1..N points in
    # a random tile — single points, zero-width boxes, boxes on the
    # ±180 edges and in the polar rows — and the bounds from their box
    # must bracket a at every member
    for trial in range(300):
        level = int(rng.integers(1, 14))
        nmax = (1 << level) - 1
        shape = trial % 5
        x = int(rng.integers(0, nmax + 1))
        y = int(rng.integers(0, nmax + 1))
        if shape == 3:
            x = int(rng.choice([0, nmax]))
        if shape == 4:
            y = int(rng.choice([0, nmax]))
        cell = np.array([(x << 30) + y], dtype=np.int64)
        cw, cs, ce, cn = (v[0] for v in ops._cell_rect_np(cell, level))
        m = 1 if shape == 0 else int(rng.integers(2, 9))
        mlon = rng.uniform(cw, ce, m)
        mlat = rng.uniform(cs, cn, m)
        if shape == 1:
            mlon[:] = mlon[0]  # zero-width box
        elif shape == 2:
            mlat[:] = mlat[0]  # zero-height box
        elif shape == 3:
            mlon[0] = cw if x == 0 else ce  # on the ±180 edge
        elif shape == 4:
            mlat[0] = cn if y == 0 else cs  # at the pole
        attrs = ops._rect_attrs_np(
            *(np.array([v]) for v in (mlon.min(), mlat.min(), mlon.max(), mlat.max()))
        )
        for mode in range(4):
            if mode == 0:
                lon = float(rng.uniform(-180, 180))
                lat = float(rng.uniform(-89.9, 89.9))
            elif mode == 1:
                lon = float((mlon.mean() + rng.uniform(-2, 2) + 360) % 360 - 180)
                lat = float(rng.uniform(-89.9, 89.9))
            elif mode == 2:
                lon, lat = float(mlon[-1]), float(mlat[-1])  # on a member
            else:
                lon = float(rng.uniform(-180, 180))
                lat = float(rng.choice([-89.95, 89.95]))
            p = np.radians(lat)
            a_lo, a_hi = ops._bounds_fast_np(
                np.array([lon]), np.array([np.sin(p)]), np.array([np.cos(p)]),
                np.array([np.tan(p)]), attrs,
            )
            p2 = np.radians(mlat)
            a = (
                np.sin((p2 - p) / 2.0) ** 2
                + np.cos(p) * np.cos(p2) * np.sin(np.radians(mlon - lon) / 2.0) ** 2
            )
            ctx = (level, x, y, shape, mode, lon, lat)
            assert a_lo[0] <= a.min() + 1e-15, ctx
            assert a_hi[0] >= a.max() - 1e-15, ctx


def test_knn_index_reuse_matches_brute(spark, scenes_df):
    """A prebuilt knn_index serves multiple probe batches (the
    index-on-ingest / query-per-request pattern) with exact results."""
    from pyspark.sql import Row

    idx = ops.knn_index(scenes_df, k_hint=4)
    batches = [
        [Row(query_id=0, lon=-120.0, lat=34.0, k=3),
         Row(query_id=1, lon=150.0, lat=-50.0, k=2)],
        [Row(query_id=0, lon=-118.5, lat=36.0, k=4),
         Row(query_id=1, lon=0.0, lat=0.0, k=1)],
    ]
    for rows in batches:
        q = spark.createDataFrame(rows)
        got = sorted(map(tuple, ops.knn_join(None, q, index=idx).collect()))
        exp = sorted(map(tuple, ops.knn_bruteforce(scenes_df, q).collect()))
        assert [g[:3] for g in got] == [e[:3] for e in exp]


def test_knn_crossing_scene_centroid_is_wrapped(spark):
    """(review r3) A scene spanning the antimeridian (min_lon > max_lon,
    the datagen convention) has its centroid at ±180, NOT at lon 0 —
    both the banded path and the brute-force oracle must return it as
    the nearest scene for a probe at lon 179."""
    from pyspark.sql import Row

    scenes = spark.createDataFrame(
        [
            # spans [170, 190] unwrapped → stored min_lon=170, max_lon=-170
            Row(image_id="XING", min_lon=170.0, max_lon=-170.0,
                min_lat=-1.0, max_lat=1.0),
            # decoy exactly where the naive midpoint of XING would land
            Row(image_id="DECOY", min_lon=-1.0, max_lon=1.0,
                min_lat=-1.0, max_lat=1.0),
        ]
    )
    queries = spark.createDataFrame([Row(query_id=0, lon=179.0, lat=0.0, k=1)])
    brute = ops.knn_bruteforce(scenes, queries).collect()
    assert brute[0]["image_id"] == "XING"
    # centroid at ±180 → probe at 179 is ~111 km away (1° of equator)
    assert brute[0]["dist_m"] == pytest.approx(111195.0, rel=1e-2)
    for level in (4, 7):
        got = ops.knn_join(scenes, queries, level=level).collect()
        assert got[0]["image_id"] == "XING"
        assert got[0]["dist_m"] == pytest.approx(brute[0]["dist_m"], rel=1e-12)


def test_knn_index_save_load_matches_built_inline(spark, scenes_df, tmp_path):
    """KnnIndex persistence (r4): a cold-loaded index serves results
    identical to the built-inline index — including the adversarial
    probes (antimeridian, poleward, out-of-extent) — so
    index-on-ingest survives SparkSession boundaries."""
    from pyspark.sql import Row

    idx = ops.knn_index(scenes_df, k_hint=4)
    path = str(tmp_path / "knn_idx")
    ops.knn_index_save(idx, path)
    loaded = ops.knn_index_load(spark, path)
    assert loaded.level == idx.level

    probes = [
        Row(query_id=0, lon=-120.0, lat=34.0, k=3),
        Row(query_id=1, lon=179.9, lat=-4.0, k=2),     # antimeridian
        Row(query_id=2, lon=-40.0, lat=86.0, k=3),     # poleward
        Row(query_id=3, lon=60.0, lat=-70.0, k=1),     # out of extent
        Row(query_id=4, lon=190.0, lat=10.0, k=2),     # unnormalized lon
    ]
    q = spark.createDataFrame(probes)
    got = sorted(map(tuple, ops.knn_join(None, q, index=loaded).collect()))
    exp = sorted(map(tuple, ops.knn_join(None, q, index=idx).collect()))
    assert got == exp
    brute = sorted(map(tuple, ops.knn_bruteforce(scenes_df, q).collect()))
    assert [g[:3] for g in got] == [b[:3] for b in brute]

    # on-disk layout: one flat generation — no partition dirs under
    # either table, and the cascade prep is not stored but rebuilt
    # from the stats at the cap meta records, equal to the built one
    assert sorted(os.listdir(path)) == ["cent_g0", "meta", "stats_g0"]
    for d in ("cent_g0", "stats_g0"):
        assert not any(
            os.path.isdir(os.path.join(path, d, f))
            for f in os.listdir(os.path.join(path, d))
        )
    built, got_prep = idx.prep[0], loaded.prep[0]
    assert got_prep["cap"] == built["cap"]
    assert got_prep["chain"] == built["chain"]
    assert got_prep["levels"].keys() == built["levels"].keys()
    for lv, (cells_, ns) in built["levels"].items():
        np.testing.assert_array_equal(got_prep["levels"][lv][0], cells_)
        np.testing.assert_array_equal(got_prep["levels"][lv][1], ns)


def test_rv_join_salted_shape_on_hotspot(spark):
    """(r4) raster_vector_join skew handling: on a deliberately skewed
    fixture (one cell holding most scenes AND most features) the salted
    plan must (a) emit the exact same pair multiset as the unsalted
    join, and (b) split the hot cell's scene rows across salt_buckets
    join keys so no single task owns the whole within-cell cross
    product."""
    from pyspark.sql import Row

    from mosaic_engine import udfs

    # 200 scenes and 40 features all stacked on one ~1° cell, plus a
    # few background rows elsewhere
    scenes = spark.createDataFrame(
        [
            Row(image_id=f"HOT_{i:04d}", min_lon=10.0, min_lat=45.0,
                max_lon=10.4, max_lat=45.4,
                fp_xs=[10.0, 10.4, 10.4, 10.0, 10.0],
                fp_ys=[45.0, 45.0, 45.4, 45.4, 45.0])
            for i in range(200)
        ]
        + [
            Row(image_id=f"BG_{i:04d}", min_lon=-60.0 + i, min_lat=-10.0,
                max_lon=-59.6 + i, max_lat=-9.6,
                fp_xs=[-60.0 + i, -59.6 + i, -59.6 + i, -60.0 + i, -60.0 + i],
                fp_ys=[-10.0, -10.0, -9.6, -9.6, -10.0])
            for i in range(5)
        ]
    )
    vectors = spark.createDataFrame(
        [
            Row(feature_id=i, xs=[10.0, 10.4, 10.4, 10.0, 10.0],
                ys=[45.0, 45.0, 45.4, 45.4, 45.0])
            for i in range(40)
        ]
        + [
            Row(feature_id=100 + i,
                xs=[-60.0 + i, -59.6 + i, -59.6 + i, -60.0 + i, -60.0 + i],
                ys=[-10.0, -10.0, -9.6, -9.6, -10.0])
            for i in range(3)
        ]
    )
    salted = ops.raster_vector_join(scenes, vectors, 8, salt_buckets=8)
    plain = ops.raster_vector_join(scenes, vectors, 8, salt_buckets=1)
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b and len(a) >= 200 * 40  # hot cross product present

    # salted shape: the hot cell's scene rows spread across >1 salt
    s_qk = udfs.explode_to_quadkeys(scenes, 8, passthrough=["image_id"])
    from pyspark.sql import functions as F

    hot_cell = (
        s_qk.groupBy("cell").count().orderBy(F.desc("count")).first()["cell"]
    )
    n_salts = (
        s_qk.filter(F.col("cell") == hot_cell)
        .select(
            F.pmod(F.xxhash64("image_id"), F.lit(8)).cast("int").alias("s")
        )
        .distinct()
        .count()
    )
    assert n_salts == 8  # 200 hashed ids cover all 8 salts w.h.p. (deterministic fixture)

    # the join operates on (cell, salt), visible in the plan
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan
    with pytest.raises(ValueError):
        ops.raster_vector_join(scenes, vectors, 8, salt_buckets=0)


def test_knn_index_occupancy_bump_on_hotspot(spark):
    """(r5) The auto level pick must react to MEASURED density: a
    corpus whose hotspot packs most scenes into a few cells gets a
    finer banding level than the closed-form guess, and results stay
    exact."""
    from pyspark.sql import Row

    from mosaic_engine import datagen

    t = datagen.gen_scenes(
        n_scenes=5000, paths=10, rows=10, seed=7, payload=False,
        edge_cases=False, hotspot_frac=0.9,
    )
    df = spark.createDataFrame(t.to_pandas())
    guess = ops.knn_pick_level(df.count(), 8)
    idx = ops.knn_index(df, k_hint=8)
    assert idx.level > guess, (idx.level, guess)

    probes = spark.createDataFrame(
        [Row(query_id=i, lon=-119.0 + i * 0.7, lat=34.0 + i * 0.3, k=4)
         for i in range(6)]
    )
    got = sorted(
        map(tuple, ops.knn_join(None, probes, index=idx).collect())
    )
    want = sorted(map(tuple, ops.knn_bruteforce(df, probes).collect()))
    # bruteforce emits rank as long and knn_join as int — compare values
    assert [(q, int(r), i, d) for q, r, i, d in got] == [
        (q, int(r), i, d) for q, r, i, d in want
    ]


def test_knn_index_rollup_stats_match_direct_build(spark):
    """(r6) The auto path derives the final stats dim by rolling the
    KNN_MAX_LEVEL fine stats up to the chosen level instead of
    re-aggregating the corpus — exact only if a point's direct
    level-L cell equals the ancestor of its level-14 cell (see
    _parent_cell_col). Lock that equivalence on a density-skewed
    corpus with pole/antimeridian edge cases, at the auto-picked
    level AND a coarse one."""
    from mosaic_engine import datagen

    t = datagen.gen_scenes(
        n_scenes=4000, paths=10, rows=10, seed=11, payload=False,
        edge_cases=True, hotspot_frac=0.7,
    )
    df = spark.createDataFrame(t.to_pandas())
    rolled = ops.knn_index(df, k_hint=4)  # auto → rollup-built stats
    direct = ops.knn_index(df, level=rolled.level)  # corpus groupBy
    assert rolled.stats.columns == ["cell", "n_in_cell"]
    assert direct.stats.columns == ["cell", "n_in_cell"]
    got = sorted(map(tuple, rolled.stats.collect()))
    want = sorted(map(tuple, direct.stats.collect()))
    assert len(got) > 1 and sum(n for _, n in got) == t.num_rows
    assert got == want


def test_pack_cell_rejects_out_of_range_coords():
    """(r5 review) Morton packing masks to 30 bits, so out-of-range
    coords would alias silently — they must raise instead."""
    import pytest as _pytest

    cells.pack_cell(np.array([3]), np.array([0]), 2)  # max valid
    for xs, ys, lv in (
        ([4], [0], 2),
        ([0], [-1], 2),
        ([1 << 30], [0], 29),
    ):
        with _pytest.raises(ValueError, match="out of range"):
            cells.pack_cell(np.array(xs), np.array(ys), lv)


def test_knn_index_save_generation_commit(spark, scenes_df, tmp_path):
    """(r5 review) Re-saving an index over the same path commits via
    meta-last generations: a crash that leaves a partial new
    generation must not corrupt what the loader serves."""
    import shutil

    path = str(tmp_path / "idx")
    idx0 = ops.knn_index(scenes_df, level=5)
    ops.knn_index_save(idx0, path)
    loaded0 = ops.knn_index_load(spark, path)
    assert loaded0.level == 5

    # simulate a crash mid-re-save: a partial new stats generation
    # appears but meta was never rewritten
    shutil.copytree(
        os.path.join(path, "stats_g0"), os.path.join(path, "stats_g1")
    )
    assert ops.knn_index_load(spark, path).level == 5  # still gen 0

    # a full re-save at a new level commits and supersedes
    ops.knn_index_save(ops.knn_index(scenes_df, level=6), path)
    loaded1 = ops.knn_index_load(spark, path)
    assert loaded1.level == 6
    # post-commit GC keeps live + immediate predecessor (r6 review:
    # save(load(path), path) lazily READS the predecessor and the
    # loaded index keeps serving from it — deleting it at commit
    # would break the index the caller still holds)
    assert sorted(os.listdir(path)) == [
        "cent_g0", "cent_g1", "meta", "stats_g0", "stats_g1",
    ]
    # the index loaded BEFORE the re-save must still serve (its
    # backing g0 files were kept)
    assert ops.knn_join(
        None,
        spark.createDataFrame(
            [(0, -120.0, 33.0, 2)], "query_id long, lon double, lat double, k int"
        ),
        index=loaded0,
    ).count() == 2
    # a third save retires g0: growth stays bounded at two generations
    ops.knn_index_save(ops.knn_index(scenes_df, level=6), path)
    assert sorted(os.listdir(path)) == [
        "cent_g1", "cent_g2", "meta", "stats_g1", "stats_g2",
    ]
    # served results match a fresh index at the same level
    queries = spark.createDataFrame(
        [(i, -120.0 + i, 33.0 + 0.5 * i, 3) for i in range(4)],
        "query_id long, lon double, lat double, k int",
    )
    a = sorted(map(tuple, ops.knn_join(None, queries, index=loaded1).collect()))
    b = sorted(map(tuple, ops.knn_join(
        None, queries, index=ops.knn_index(scenes_df, level=6)).collect()))
    assert a == b



def test_knn_index_load_refuses_inconsistent_members(
    spark, scenes_df, tmp_path
):
    """A loaded index makes its members resident only when they are the
    corpus its stats count: a cent_g<G> from another corpus (a mixed
    generation) raises ValueError on load instead of serving wrong
    neighbours."""
    import shutil

    path, other = str(tmp_path / "idx"), str(tmp_path / "other")
    ops.knn_index_save(ops.knn_index(scenes_df, level=5), path)
    ops.knn_index_save(ops.knn_index(scenes_df.limit(10), level=5), other)
    shutil.rmtree(os.path.join(path, "cent_g0"))
    shutil.copytree(
        os.path.join(other, "cent_g0"), os.path.join(path, "cent_g0")
    )
    with pytest.raises(ValueError, match="inconsistent"):
        ops.knn_index_load(spark, path)

@pytest.mark.parametrize("kind", ["knn", "ivf"])
def test_index_resave_over_unreadable_meta_raises(
    spark, scenes_df, tmp_path, kind
):
    """A save over an index whose meta cannot be read must raise and
    leave the directory as it was. Reading such a meta as "no index
    here" restarted at generation 0, and the post-commit GC then
    deleted the live generation and the predecessor a loaded handle
    still reads. A load raises too, instead of serving stale
    unversioned dirs lying beside the meta: the IVF loader once read
    an unreadable meta as the pre-generation layout and served them."""
    import shutil

    idx, save, load = _small_index(spark, scenes_df, kind)
    path = str(tmp_path / kind)
    for _ in range(3):
        save(idx, path)
    for d in os.listdir(path):
        if d.endswith("_g2"):
            shutil.copytree(os.path.join(path, d), os.path.join(path, d[:-3]))
    _truncate_meta(path)
    before = _listing(path)
    with pytest.raises(Exception):
        load(spark, path)
    with pytest.raises(Exception):
        save(idx, path)
    assert _listing(path) == before


def _small_index(spark, scenes_df, kind):
    """A small built index of `kind` with its save and load functions."""
    from mosaic_engine import annops

    if kind == "knn":
        return (
            ops.knn_index(scenes_df, level=5),
            ops.knn_index_save,
            ops.knn_index_load,
        )
    vecs = np.random.default_rng(5).normal(size=(64, annops.DIM))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label int",
    )
    return annops.ivf_index(emb), annops.ivf_index_save, annops.ivf_index_load


def _truncate_meta(path):
    meta = os.path.join(path, "meta")
    part = next(
        os.path.join(meta, f) for f in os.listdir(meta)
        if f.endswith(".parquet")
    )
    os.truncate(part, os.path.getsize(part) // 2)


def _listing(path):
    return sorted(
        (os.path.relpath(d, path), sorted(fs)) for d, _, fs in os.walk(path)
    )


@pytest.mark.parametrize(
    "kind,field", [("knn", "gen"), ("knn", "prep_cap"), ("ivf", "gen")]
)
def test_index_meta_without_generation_fields_raises(
    spark, scenes_df, tmp_path, kind, field
):
    """A meta from a layout that predates generation commits (no gen),
    or a kNN meta saved before the prep cap was recorded, is refused:
    load and save raise LegacyStateError and the directory is left as
    it was. The IVF meta holds only gen, so its gen-less meta is
    written as a null gen, which the loaders read like a missing one."""
    idx, save, load = _small_index(spark, scenes_df, kind)
    path = str(tmp_path / kind)
    save(idx, path)
    meta = spark.read.parquet(os.path.join(path, "meta")).toPandas()
    meta = meta.drop(columns=[field])
    legacy = (
        spark.createDataFrame(meta) if len(meta.columns)
        else spark.createDataFrame([(None,)], "gen int")
    )
    legacy.write.mode("overwrite").parquet(os.path.join(path, "meta"))
    before = _listing(path)
    with pytest.raises(ops.LegacyStateError, match=field):
        load(spark, path)
    with pytest.raises(ops.LegacyStateError, match=field):
        save(idx, path)
    assert _listing(path) == before


@pytest.mark.parametrize("level", [6, 11])
def test_knn_index_with_rect_stats_columns_still_serves(
    spark, scenes_df, tmp_path, monkeypatch, level
):
    """Indexes saved by earlier versions carry four cell-rect columns
    (cw, cs, ce, cn) in their stats dim. Such an index must still load
    and serve the rows a fresh index serves, both where the cascade
    kernel reaches `level` and (zero collect cap, level 11) where it
    stops at the level-9 rollup and the refinement reads the stats."""
    monkeypatch.setattr(ops, "FINE_COLLECT_ROWS", 0)
    fresh = ops.knn_index(scenes_df, level=level)
    pdf = fresh.stats.toPandas()
    cw, cs, ce, cn = ops._cell_rect_np(pdf["cell"].to_numpy(np.int64), level)
    legacy = ops.KnnIndex(
        level,
        fresh.cent,
        spark.createDataFrame(pdf.assign(cw=cw, cs=cs, ce=ce, cn=cn)),
        fresh.prep,
    )
    path = str(tmp_path / "legacy_idx")
    ops.knn_index_save(legacy, path)
    loaded = ops.knn_index_load(spark, path)
    assert {"cw", "cs", "ce", "cn"} <= set(loaded.stats.columns)

    queries = spark.createDataFrame(
        [(0, -120.0, 34.0, 3), (1, 179.9, -4.0, 2), (2, -40.0, 86.0, 3),
         (3, 60.0, -70.0, 1), (4, -118.5, 36.0, 5)],
        "query_id long, lon double, lat double, k int",
    )
    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = rows(ops.knn_join(None, queries, index=loaded))
    assert got == rows(ops.knn_join(None, queries, index=fresh))
    brute = rows(ops.knn_bruteforce(scenes_df, queries))
    assert [g[:3] for g in got] == [b[:3] for b in brute]


def test_knn_join_accepts_non_long_query_ids(spark, scenes_df):
    """(r5 review) String/int32 probe ids must serve like
    knn_bruteforce accepts them (the Arrow schema derives from the
    input now)."""
    queries = spark.createDataFrame(
        [("alpha", -120.0, 33.0, 2), ("beta", -115.0, 35.0, 2)],
        "query_id string, lon double, lat double, k int",
    )
    got = sorted(map(tuple, ops.knn_join(scenes_df, queries, level=5).collect()))
    want = sorted(map(tuple, ops.knn_bruteforce(scenes_df, queries).collect()))
    assert [g[:3] for g in got] == [w[:3] for w in want] and len(got) == 4


@pytest.mark.parametrize("corpus_seed,hotspot", [(7, 0.0), (19, 0.6), (31, 0.95)])
def test_knn_random_corpora_match_brute(spark, tmp_path, corpus_seed, hotspot):
    """(r6) Randomized-CORPUS equivalence: the existing random-probe
    sweep pins one fixture corpus, but the occupancy walk and the
    in-kernel cascade take different paths per spatial distribution
    (uniform vs hotspot-heavy changes the picked level, the rollup
    shapes, and which cascade stages prune). Three corpora spanning
    hotspot fractions must serve identically to brute at the
    auto-picked level, payload-free for speed."""
    from pyspark.sql import Row

    t = datagen.gen_scenes(
        n_scenes=2500, paths=8, rows=8, seed=corpus_seed,
        payload=False, hotspot_frac=hotspot,
    )
    p = str(tmp_path / f"scenes_{corpus_seed}.parquet")
    datagen.write_parquet(t, p)
    scenes = spark.read.parquet(p)
    rng = np.random.default_rng(1000 + corpus_seed)
    n = 40
    lons = rng.uniform(-180.0, 180.0, n)
    lats = rng.uniform(-88.0, 88.0, n)
    ks = rng.integers(1, 6, n)
    queries = spark.createDataFrame(
        [Row(query_id=i, lon=float(lons[i]), lat=float(lats[i]), k=int(ks[i]))
         for i in range(n)]
    )
    exp = sorted(map(tuple, ops.knn_bruteforce(scenes, queries).collect()))
    got = sorted(map(tuple, ops.knn_join(scenes, queries).collect()))
    assert [g[:3] for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-12)


# ids whose binary UTF-8 order differs from Java's UTF-16 order (U+FF61
# sorts before U+1F600 in UTF-8, after it in UTF-16) and from a
# case-folded order ("B" < "a" < "é")
_UNICODE_IDS = ["a", "B", "é", "｡", "\U0001f600", "中", "Z", "ß"]


def _tie_corpus(rng, string_ids: bool):
    """A corpus built for rank ties: dyadic centroids (exact after the
    probe lon normalization), duplicated centroids, scenes mirrored
    about lon 0 (exactly equal distances from a probe on lon 0),
    antimeridian-crossing scenes, and two NaN-bound and two null-bound
    scenes. Returns the scene rows, with ids int or unicode strings."""
    def grid(lo, hi, n):
        return [float(v) / 8.0 for v in rng.integers(lo * 8, hi * 8, n)]

    lon = grid(-179, 179, 40) + [179.75, -179.75, 179.5]
    lat = grid(-50, 50, 40) + [0.25, -0.25, 1.0]
    dup = rng.integers(0, len(lon), 15)
    lon += [lon[i] for i in dup]
    lat += [lat[i] for i in dup]
    for d, la in ((1.0, 2.0), (2.5, -1.0), (0.5, 0.5)):
        lon += [d, -d]
        lat += [la, la]
    bounds = [(x - 0.25, x + 0.25, y - 0.25, y + 0.25) for x, y in zip(lon, lat)]
    # crossing scenes (min_lon > max_lon): centroids at ±180
    bounds += [(179.5, -179.5, 10.0, 11.0), (179.0, -179.0, 10.0, 11.0)]
    nan, n_fin = float("nan"), len(bounds)
    bounds += [(nan,) * 4, (nan,) * 4, (None,) * 4, (None,) * 4]
    n = len(bounds)
    if string_ids:
        ids = [
            f"{_UNICODE_IDS[i % len(_UNICODE_IDS)]}{i // len(_UNICODE_IDS)}"
            for i in rng.permutation(n)
        ]
    else:
        ids = [int(v) for v in rng.permutation(n) * 7 - 150]
    return [(ids[i], *bounds[i]) for i in range(n)], n_fin


@pytest.mark.parametrize("string_ids", [False, True])
def test_knn_resident_finalizer_matches_brute(
    spark, monkeypatch, force_compaction, string_ids
):
    """The resident kernel ranks in numpy and Arrow, not in Spark: its
    rows must equal knn_bruteforce's (Spark's sort_array order over
    (dist_m, image_id) structs) on a corpus full of exact ties —
    duplicated and mirrored centroids — with int ids and unicode
    string ids (binary UTF-8 order), NaN distances last and tied by
    id, probes on lon ±180, k past the corpus size, k = 0, k < 0 and
    null k. NaN- and null-bound scenes score as NaN. Forcing one-row
    compaction, 64-pair blocks and two-row Arrow batches must not
    change a row, and the union kernel (residency bound 0) must serve
    the identical rows."""
    import math

    nan = float("nan")
    id_type = "string" if string_ids else "long"
    schema = (
        f"image_id {id_type}, min_lon double, max_lon double, "
        "min_lat double, max_lat double"
    )
    rng = np.random.default_rng(5)
    rows, n_fin = _tie_corpus(rng, string_ids)
    scenes = spark.createDataFrame(rows, schema)
    n = len(rows)
    probes = [
        (float(x) / 8.0, float(y) / 8.0)
        for x, y in zip(rng.integers(-1432, 1432, 12), rng.integers(-400, 400, 12))
    ]
    probes += [(0.0, 0.5), (0.0, 2.0), (0.0, -1.0), (0.0, 0.0)]  # mirrored ties
    probes += [(180.0, 10.5), (-180.0, 10.5), (180.0, 0.0), (-180.0, -30.0)]
    ks = [int(v) for v in rng.integers(1, 9, len(probes))]
    # k past and at the corpus size (every scene, NaN ones last), k = 0
    # and null k
    ks[:3] = [n + 5, n, 0]
    ks[3] = None
    qschema = "query_id long, lon double, lat double, k int"
    queries = spark.createDataFrame(
        [(i, x, y, kk) for i, ((x, y), kk) in enumerate(zip(probes, ks))],
        qschema,
    )
    # the reference order is Spark's: knn_bruteforce ranks EVERY scene
    # per probe; its UDF turns a NaN distance into null, which
    # sort_array puts first, so the null rows move to the end (in
    # their id order) before each probe's first k are kept
    ranked: dict = {}
    for r in sorted(
        ops.knn_bruteforce(scenes, queries, k=n).collect(),
        key=lambda r: (r["query_id"], r["dist_m"] is None, r["rank"]),
    ):
        ranked.setdefault(r["query_id"], []).append(r)
    exp = sorted(
        (q, i + 1, r["image_id"], nan if r["dist_m"] is None else r["dist_m"])
        for q, kk in enumerate(ks)
        for i, r in enumerate(ranked[q][: max(kk or 0, 0)])
    )
    assert sum(math.isnan(e[3]) for e in exp) == 2 * (n - n_fin)

    # both score the probe's own lon with geometry.haversine_m, so the
    # distances are bit-identical
    def same(got, want):
        assert [g[:3] for g in got] == [w[:3] for w in want]
        for g, w in zip(got, want):
            assert g[3] == w[3] or math.isnan(g[3]) and math.isnan(w[3]), (g, w)

    # a negative k serves no rows (knn_bruteforce's slice rejects it)
    neg = spark.createDataFrame([(99, 1.0, 1.0, -1)], qschema)
    served = {}
    for bound in (ops.KNN_RESIDENT_ROWS, 0):
        monkeypatch.setattr(ops, "KNN_RESIDENT_ROWS", bound)
        force_compaction(False)
        idx = ops.knn_index(scenes, level=6)
        assert ("members" in idx.prep[0]) == (bound > 0)
        for compact in (False, True):
            force_compaction(compact)
            got = sorted(
                map(tuple, ops.knn_join(None, queries, index=idx).collect())
            )
            same(got, exp)
            served[bound, compact] = got
            assert ops.knn_join(None, neg, index=idx).count() == 0
    # resident and union serve bit-identical rows (NaN compares unequal)
    key = lambda rs: [(*r[:3], repr(r[3])) for r in rs]  # noqa: E731
    assert len({repr(key(v)) for v in served.values()}) == 1


def test_knn_bruteforce_points_int32_probe_ids(spark, force_compaction):
    """knn_bruteforce_points emits probe ids in the probe column's own
    type: an int32 id column collects to an int64 numpy array, and the
    kernel must cast it back to the declared Arrow type. The result is
    the same when every task compacts its scored blocks."""
    rng = np.random.default_rng(3)
    pts = [(i, float(rng.uniform(-20, 20)), float(rng.uniform(-20, 20)))
           for i in range(300)]
    prb = [(q, float(rng.uniform(-20, 20)), float(rng.uniform(-20, 20)))
           for q in range(7)]
    points = spark.createDataFrame(pts, "pid long, x double, y double")
    probes = spark.createDataFrame(prb, "qid int, qx double, qy double")
    want = []
    for q, qx, qy in prb:
        near = sorted((oracle.haversine_m(qx, qy, x, y), i) for i, x, y in pts)
        want += [(q, rank + 1, i) for rank, (_, i) in enumerate(near[:3])]
    for compact in (False, True):
        force_compaction(compact)
        res = ops.knn_bruteforce_points(
            points, probes, 3, "pid", "x", "y", "qid", "qx", "qy"
        )
        assert dict(res.dtypes)["qid"] == "int"
        got = sorted((r["qid"], r["rank"], r["pid"]) for r in res.collect())
        assert got == sorted(want), compact


def test_knn_bruteforce_points_refuses_oversized_probe_table(spark, monkeypatch):
    """The probe table is collected to the driver, so past
    KNN_PROBE_BROADCAST_LIMIT probes the call fails loudly instead of
    collecting it; at the limit it still runs."""
    points = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, x double, y double")
    probes = spark.createDataFrame(
        [(q, 1.0, 1.0) for q in range(5)], "qid int, qx double, qy double"
    )
    args = (points, probes, 1, "pid", "x", "y", "qid", "qx", "qy")
    monkeypatch.setattr(ops, "KNN_PROBE_BROADCAST_LIMIT", 4)
    with pytest.raises(ValueError, match="KNN_PROBE_BROADCAST_LIMIT"):
        ops.knn_bruteforce_points(*args)
    monkeypatch.setattr(ops, "KNN_PROBE_BROADCAST_LIMIT", 5)
    assert ops.knn_bruteforce_points(*args).count() == 5


def test_knn_prep_member_box_rects(spark, monkeypatch):
    """The resident prep prunes each cap cell against the bounding box
    of its member centroids (_prep_from_arrays): a cell holding a NaN
    or null centroid keeps exactly its tile rect, every other cell's
    rect lies inside its tile rect and contains its members, and every
    coarser cell's rect contains its children's rects. Without resident
    members (the union path) the cap rects are the tile rects."""
    level = 6
    rows, _ = _tie_corpus(np.random.default_rng(5), string_ids=False)
    scenes = spark.createDataFrame(
        rows + [(10_000, 181.0, 185.0, 10.0, 11.0)],
        "image_id long, min_lon double, max_lon double, "
        "min_lat double, max_lat double",
    )
    prep = ops.knn_index(scenes, level=level).prep[0]
    cells, ns = prep["levels"][level]
    mem = prep["members"]
    tile = ops._cell_rect_np(cells, level)
    rect = prep["rects"][level]
    n_box = n_tile = 0
    for i, (lo, n) in enumerate(zip(mem["start"], ns)):
        mlon, mlat = mem["slon"][lo:lo + n], mem["slat"][lo:lo + n]
        got = [r[i] for r in rect]
        if not (np.isfinite(mlon).all() and np.isfinite(mlat).all()):
            assert got == [t[i] for t in tile], cells[i]
            n_tile += 1
            continue
        w, s, e, nn = got
        assert tile[0][i] <= w and tile[1][i] <= s, cells[i]
        assert e <= tile[2][i] and nn <= tile[3][i], cells[i]
        assert (w <= mlon).all() and (mlon <= e).all(), cells[i]
        assert (s <= mlat).all() and (mlat <= nn).all(), cells[i]
        n_box += (e - w) < (tile[2][i] - tile[0][i])
    assert n_tile >= 1 and n_box >= 1
    chain = prep["chain"]
    for lc, lf in zip(chain[:-1], chain[1:]):
        pc = prep["levels"][lc][0]
        pos = np.searchsorted(pc, ops._parent_np(prep["levels"][lf][0], lf - lc))
        (pw, ps, pe, pn), (cw, cs, ce, cn) = prep["rects"][lc], prep["rects"][lf]
        assert (pw[pos] <= cw).all() and (ps[pos] <= cs).all(), lc
        assert (ce <= pe[pos]).all() and (cn <= pn[pos]).all(), lc

    monkeypatch.setattr(ops, "KNN_RESIDENT_ROWS", 0)
    union = ops.knn_index(scenes, level=level).prep[0]
    assert "members" not in union
    cells_u = union["levels"][level][0]
    for r, t in zip(union["rects"][level], ops._cell_rect_np(cells_u, level)):
        assert np.array_equal(r, t)
