"""tilemath kernels vs hardcoded mercantile goldens + the scalar oracle."""

from __future__ import annotations

import numpy as np
import pytest

from mosaic_engine import tilemath as tm
from tests import oracle


def test_golden_tiles():
    # mercantile's documented example
    x, y = tm.lonlat_to_tile(-105.0, 40.0, 6)
    assert (x[()], y[()]) == (13, 24)
    # San Francisco golden (SURVEY.md §5.2, recomputed from §2.3 formulas)
    x, y = tm.lonlat_to_tile(-122.4194, 37.7749, 12)
    assert (x[()], y[()]) == (655, 1583)
    qk = tm.tile_to_quadkey([655], [1583], 12)
    assert qk[0] == "023010203333"
    # Bing maps documentation example: tile (3, 5, 3) → "213"
    assert tm.tile_to_quadkey([3], [5], 3)[0] == "213"


def test_tile_matches_oracle_random():
    rng = np.random.default_rng(42)
    lons = rng.uniform(-180, 180, 500)
    lats = rng.uniform(-85.05, 85.05, 500)
    for z in (0, 1, 4, 8, 12, 20):
        xs, ys = tm.lonlat_to_tile(lons, lats, z)
        for i in range(len(lons)):
            assert (xs[i], ys[i]) == oracle.tile(lons[i], lats[i], z), (
                lons[i],
                lats[i],
                z,
            )


def test_clamps_and_edges():
    # poles and out-of-range latitudes clamp to valid tiles
    xs, ys = tm.lonlat_to_tile([0.0, 0.0, 0.0, 0.0], [90.0, -90.0, 89.9, -89.9], 4)
    assert list(ys) == [0, 15, 0, 15]
    # antimeridian
    xs, ys = tm.lonlat_to_tile([-180.0, 180.0], [0.0, 0.0], 4)
    assert xs[0] == 0 and xs[1] == 15
    # epsilon behavior at an exact tile boundary: lon=0 at z=1 → east tile
    xs, _ = tm.lonlat_to_tile([0.0], [10.0], 1)
    assert xs[0] == 1
    # matches oracle on exact boundary latitudes too
    for lat in (0.0, 66.51326044311186, -66.51326044311186):
        xs, ys = tm.lonlat_to_tile([13.0], [lat], 9)
        assert (xs[0], ys[0]) == oracle.tile(13.0, lat, 9)


def test_quadkey_roundtrip():
    rng = np.random.default_rng(7)
    for z in (1, 3, 8, 12, 24):
        xs = rng.integers(0, 1 << z, 200)
        ys = rng.integers(0, 1 << z, 200)
        qks = tm.tile_to_quadkey(xs, ys, z)
        for i in range(200):
            assert qks[i] == oracle.quadkey(int(xs[i]), int(ys[i]), z)
        rx, ry, rz = tm.quadkey_to_tile(qks)
        assert (rx == xs).all() and (ry == ys).all() and (rz == z).all()


def test_quadkey_mixed_zoom_decode():
    qks = ["0", "213", "02301020"]
    xs, ys, zs = tm.quadkey_to_tile(qks)
    for q, x, y, z in zip(qks, xs, ys, zs):
        assert (int(x), int(y), int(z)) == oracle.quadkey_to_tile(q)


def test_tile_bounds_matches_oracle():
    rng = np.random.default_rng(3)
    for z in (1, 5, 9, 14):
        xs = rng.integers(0, 1 << z, 100)
        ys = rng.integers(0, 1 << z, 100)
        w, s, e, n = tm.tile_bounds(xs, ys, z)
        for i in range(100):
            ow, os_, oe, on = oracle.tile_bounds(int(xs[i]), int(ys[i]), z)
            assert (w[i], s[i], e[i], n[i]) == (ow, os_, oe, on)


def test_bounds_roundtrip_containment():
    # every tile's center maps back to the same tile
    rng = np.random.default_rng(11)
    z = 10
    xs = rng.integers(0, 1 << z, 300)
    ys = rng.integers(0, 1 << z, 300)
    w, s, e, n = tm.tile_bounds(xs, ys, z)
    cx, cy = (w + e) / 2, (s + n) / 2
    rx, ry = tm.lonlat_to_tile(cx, cy, z)
    assert (rx == xs).all() and (ry == ys).all()


@pytest.mark.parametrize("z", [2, 6, 8, 11])
def test_cover_ranges_matches_oracle(z):
    rng = np.random.default_rng(z)
    for _ in range(100):
        w, e = np.sort(rng.uniform(-179, 179, 2))
        s, n = np.sort(rng.uniform(-84, 84, 2))
        x0, x1, y0, y1 = tm.cover_ranges(w, s, e, n, z)
        got = {
            (i, j)
            for i in range(int(x0), int(x1) + 1)
            for j in range(int(y0), int(y1) + 1)
        }
        assert got == set(oracle.tiles_cover(w, s, e, n, z))


def test_cover_ranges_clamped_poles():
    x0, x1, y0, y1 = tm.cover_ranges(-10.0, 80.0, 10.0, 89.9, 3)
    exp = set(oracle.tiles_cover(-10.0, 80.0, 10.0, 89.9, 3))
    got = {
        (i, j)
        for i in range(int(x0), int(x1) + 1)
        for j in range(int(y0), int(y1) + 1)
    }
    assert got == exp


def test_jvm_cell_quadkey_matches_tilemath(spark):
    """ops.cell_quadkey_sql (the JVM quadkey of a packed cell) and
    ops.tile_quadkey_col (the JVM quadkey of a tile) equal
    tilemath.tile_to_quadkey: every tile at z <= 8, and the corner and
    sampled tiles at the edge levels, including level 29, whose high
    tiles pack to NEGATIVE ids."""
    from pyspark.sql import functions as F

    from mosaic_engine import cells, ops

    for z in range(9):
        n = 1 << z
        tiles = spark.range(n * n).select(
            "id", (F.col("id") % n).alias("tx"), F.shiftright("id", z).alias("ty")
        )
        got = (
            tiles.select("id", ops.tile_quadkey_col("tx", "ty", z).alias("qk"))
            .orderBy("id")
            .toPandas()["qk"]
        )
        ids = np.arange(n * n)
        assert list(got) == list(tm.tile_to_quadkey(ids % n, ids >> z, z)), z

    rng = np.random.default_rng(7)
    rows, want = [], []
    for z in (0, 1, 8, 12, 28, 29):
        n = 1 << z
        xs = np.r_[0, n - 1, 0, n - 1, rng.integers(0, n, 40)]
        ys = np.r_[0, n - 1, n - 1, 0, rng.integers(0, n, 40)]
        packed = cells.pack_cell(xs, ys, z)
        rows += [(int(c), int(x), int(y), z) for c, x, y in zip(packed, xs, ys)]
        want += list(tm.tile_to_quadkey(xs, ys, z))
    assert min(r[0] for r in rows) < 0  # level-29 ids past bit 63 are exercised
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "i long, cell long, tx long, ty long, z int",
    )
    got = df.selectExpr("i", f"{ops.cell_quadkey_sql('cell')} AS qk").collect()
    assert [r["qk"] for r in sorted(got)] == want
    for z in (12, 28, 29):
        got = (
            df.filter(F.col("z") == z)
            .select("i", ops.tile_quadkey_col("tx", "ty", z).alias("qk"))
            .collect()
        )
        exp = [w for w, r in zip(want, rows) if r[3] == z]
        assert [r["qk"] for r in sorted(got)] == exp, z
