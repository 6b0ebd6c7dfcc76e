"""End-to-end mosaic build vs the pure-Python oracle — byte-equality.

Covers the reference pytest areas named in [BASELINE.json:6]:
quadkey bounds, optimized-selection, missing-quadkey — plus preference
orders, bounds/cloud filters, parallelism invariance.
"""

from __future__ import annotations

import pandas as pd
import pytest

from mosaic_engine import mosaic as mz
from mosaic_engine import ops, tilemath, udfs
from mosaic_engine.ops import MosaicConfig
from tests import oracle

CONFIGS = {
    "newest_z7": dict(quadkey_zoom=7, preference="newest"),
    "oldest_z8": dict(quadkey_zoom=8, preference="oldest"),
    "closest_z7": dict(
        quadkey_zoom=7, preference="closest-to-date", closest_date="2020-06-15"
    ),
    "optimized_z7": dict(
        quadkey_zoom=7, preference="newest", optimized_selection=True
    ),
    "cloud25_z7": dict(quadkey_zoom=7, preference="newest", max_cloud=25.0),
    "bounds_opt_z8": dict(
        quadkey_zoom=8,
        preference="newest",
        optimized_selection=True,
        bounds=(-128.0, 26.0, -114.0, 36.0),
        max_assets_per_tile=5,
    ),
    "summer_t1_z7": dict(
        quadkey_zoom=7, preference="newest", seasons=("summer",), tier_only=True
    ),
}


def _oracle_doc(scene_records, cfg: MosaicConfig) -> dict:
    closest = pd.Timestamp(cfg.closest_date) if cfg.closest_date else None
    return oracle.features_to_mosaic(
        scene_records,
        quadkey_zoom=cfg.quadkey_zoom,
        minzoom=cfg.minzoom,
        maxzoom=cfg.maxzoom,
        preference=cfg.preference,
        closest_date=closest,
        optimized_selection=cfg.optimized_selection,
        max_cloud=cfg.max_cloud,
        bounds_filter=cfg.bounds,
        max_assets_per_tile=cfg.max_assets_per_tile,
        seasons=cfg.seasons,
        tier_only=cfg.tier_only,
    )


@pytest.mark.parametrize("name", list(CONFIGS))
def test_mosaic_byte_equal(spark, scenes_df, scene_records, name):
    cfg = MosaicConfig(**CONFIGS[name])
    doc, _ = mz.build_mosaic(scenes_df, cfg)
    odoc = _oracle_doc(scene_records, cfg)
    assert mz.canonical_json(doc) == oracle.canonical_json(odoc), name


# window where the cap and the (path, row) dedupe each drop the scenes
# that set some bounds edge
_SW_WINDOW = (-128.0, 26.0, -114.0, 36.0)
BOUNDS_CASES = {
    "cap": (
        dict(quadkey_zoom=6, bounds=_SW_WINDOW, max_assets_per_tile=1),
        dict(quadkey_zoom=6, bounds=_SW_WINDOW),
    ),
    "optimized": (
        dict(quadkey_zoom=6, bounds=_SW_WINDOW, optimized_selection=True),
        dict(quadkey_zoom=6, bounds=_SW_WINDOW),
    ),
    # the antimeridian window keeps crossing and non-crossing scenes
    "antimeridian_window": (
        dict(quadkey_zoom=7, bounds=(170.0, -60.0, -120.0, 60.0)), None,
    ),
    "empty": (dict(quadkey_zoom=7, max_cloud=-1.0), None),
}


@pytest.mark.parametrize("name", list(BOUNDS_CASES))
def test_fused_bounds_match_oracle(spark, scenes_df, scene_records, name):
    """The bounds reduced from the selection struct (by the build's
    collect and by ops.mosaic_bounds) equal the oracle's used-scene
    bounds: after the cap, after the optimized-selection
    dedupe, with crossing scenes counted as ±180, under an
    antimeridian query window, and world bounds for an empty mosaic.
    Each cap/dedupe case is checked to move the bounds at all."""
    kw, plain = BOUNDS_CASES[name]
    cfg = MosaicConfig(**kw)
    doc, assign = mz.build_mosaic(scenes_df, cfg)
    odoc = _oracle_doc(scene_records, cfg)
    assert doc["bounds"] == odoc["bounds"]
    assert ops.mosaic_bounds(scenes_df, assign) == odoc["bounds"]
    assert mz.canonical_json(doc) == oracle.canonical_json(odoc)
    if plain is not None:
        assert odoc["bounds"] != _oracle_doc(
            scene_records, MosaicConfig(**plain)
        )["bounds"]
    if name == "antimeridian_window":
        by_id = {r["image_id"]: r for r in scene_records}
        used = {a for assets in doc["tiles"].values() for a in assets}
        crossing = [a for a in used if by_id[a]["min_lon"] > by_id[a]["max_lon"]]
        assert crossing and len(crossing) < len(used)
        assert doc["bounds"][0] == -180.0 and doc["bounds"][2] == 180.0
    if name == "empty":
        assert doc["tiles"] == {}
        assert doc["bounds"] == [-180.0, -90.0, 180.0, 90.0]


def test_quadkey_bounds_invariant(spark, scenes_df, scene_records):
    """Every asset's footprint bbox intersects its quadkey's tile bounds."""
    cfg = MosaicConfig(quadkey_zoom=7)
    doc, _ = mz.build_mosaic(scenes_df, cfg)
    by_id = {r["image_id"]: r for r in scene_records}
    assert doc["tiles"], "mosaic must not be empty"
    for qk, assets in doc["tiles"].items():
        tx, ty, tz = oracle.quadkey_to_tile(qk)
        w, s, e, n = oracle.tile_bounds(tx, ty, tz)
        for a in assets:
            sc = by_id[a]
            if sc["min_lon"] > sc["max_lon"]:  # antimeridian scene
                hit = sc["min_lon"] < e or sc["max_lon"] > w
            else:
                hit = (
                    sc["min_lon"] <= e
                    and sc["max_lon"] >= w
                    and sc["min_lat"] <= n
                    and sc["max_lat"] >= s
                )
            assert hit, (qk, a)


def test_optimized_selection_invariant(spark, scenes_df, scene_records):
    """≤ 1 scene per (path, row) within each quadkey when optimized."""
    cfg = MosaicConfig(quadkey_zoom=7, optimized_selection=True)
    doc, _ = mz.build_mosaic(scenes_df, cfg)
    by_id = {r["image_id"]: r for r in scene_records}
    for qk, assets in doc["tiles"].items():
        prs = [(by_id[a]["path"], by_id[a]["row"]) for a in assets]
        assert len(prs) == len(set(prs)), qk


def test_rank_order_is_preference_order(spark, scenes_df, scene_records):
    """Assets are in (pref, cloud, image_id) order within each tile."""
    cfg = MosaicConfig(quadkey_zoom=7, preference="newest")
    doc, _ = mz.build_mosaic(scenes_df, cfg)
    by_id = {r["image_id"]: r for r in scene_records}
    for qk, assets in doc["tiles"].items():
        keys = [oracle.rank_key(by_id[a], "newest") for a in assets]
        assert keys == sorted(keys), qk


def test_edge_scenes_are_assigned(spark, scenes_df, scene_records):
    """Antimeridian + polar scenes land in valid, oracle-identical tiles."""
    cfg = MosaicConfig(quadkey_zoom=6)
    _, assign = mz.build_mosaic(scenes_df, cfg)
    rel = ops.assignments_relational(assign).collect()
    eng: dict[str, set] = {}
    for r in rel:
        eng.setdefault(r["asset"], set()).add(r["quadkey"])
    edge = [
        r
        for r in scene_records
        if "antimeridian" in r["caption"] or "polar" in r["caption"]
    ]
    assert len(edge) >= 5
    for sc in edge:
        exp = oracle.scene_quadkeys(sc, 6)
        assert eng.get(sc["image_id"], set()) == exp, sc["image_id"]


def test_sliver_scene_bbox_vs_exact(scene_records):
    """Sliver scenes: exact intersect must drop ≥1 bbox-cover tile."""
    slivers = [r for r in scene_records if "sliver" in r["caption"]]
    assert slivers
    import numpy as np

    from mosaic_engine import geometry as geo

    dropped_any = False
    for sc in slivers:
        x0, x1, y0, y1 = tilemath.cover_ranges(
            sc["min_lon"], sc["min_lat"], sc["max_lon"], sc["max_lat"], 8
        )
        cand = [
            (i, j)
            for i in range(int(x0), int(x1) + 1)
            for j in range(int(y0), int(y1) + 1)
        ]
        exact = oracle.scene_quadkeys(sc, 8)
        if len(exact) < len(cand):
            dropped_any = True
    assert dropped_any, "fixtures must include a bbox⊃exact case"


def test_parallelism_invariance(spark, scenes_df, scene_records):
    """Same bytes at different input partitionings (§5.2)."""
    cfg = MosaicConfig(quadkey_zoom=7, optimized_selection=True)
    base, _ = mz.build_mosaic(scenes_df, cfg)
    a = mz.canonical_json(base)
    for df in (
        scenes_df.coalesce(1), scenes_df.repartition(11), scenes_df.repartition(37)
    ):
        doc, _ = mz.build_mosaic(df, cfg)
        assert mz.canonical_json(doc) == a


def test_assignments_relational_rank(spark, scenes_df, scene_records):
    cfg = MosaicConfig(quadkey_zoom=7)
    doc, assign = mz.build_mosaic(scenes_df, cfg)
    rel = ops.assignments_relational(assign).collect()
    got: dict[str, dict[int, str]] = {}
    for r in rel:
        got.setdefault(r["quadkey"], {})[r["rank"]] = r["asset"]
    for qk, assets in doc["tiles"].items():
        ranked = [got[qk][i + 1] for i in range(len(assets))]
        assert ranked == assets


def test_missing_quadkeys_vs_constructed(spark, scenes_df, scene_records, fixture_dir):
    """Land quadkeys minus mosaic quadkeys — exact set (E3)."""
    import os

    land = spark.read.parquet(os.path.join(fixture_dir, "land.parquet"))
    cfg = MosaicConfig(quadkey_zoom=7)
    _, assign = mz.build_mosaic(scenes_df, cfg)
    gj, miss = mz.missing_quadkeys_geojson(land, assign, 7)

    # oracle: burn land rings to quadkeys, subtract oracle mosaic keys
    import pyarrow.parquet as pq

    land_recs = pq.read_table(os.path.join(fixture_dir, "land.parquet")).to_pylist()
    land_qks: set[str] = set()
    for lr in land_recs:
        sc = {
            "fp_xs": lr["xs"],
            "fp_ys": lr["ys"],
            "min_lon": min(lr["xs"]),
            "min_lat": min(lr["ys"]),
            "max_lon": max(lr["xs"]),
            "max_lat": max(lr["ys"]),
        }
        land_qks |= oracle.scene_quadkeys(sc, 7)
    odoc = _oracle_doc(scene_records, cfg)
    expected = land_qks - set(odoc["tiles"])
    got = {r["quadkey"] for r in miss.collect()}
    assert got == expected
    # GeoJSON is canonical + sorted
    import json

    feats = json.loads(gj)["features"]
    qks = [f["properties"]["quadkey"] for f in feats]
    assert qks == sorted(expected)


def test_image_invariants_spark(spark, scenes_df):
    """[BASELINE.json:16] per-row invariant via the Arrow UDF lane."""
    res = udfs.image_invariants(scenes_df).collect()
    assert len(res) == scenes_df.count()
    for r in res:
        assert r["decode_ok"], r["image_id"]
        assert r["phash_match"], r["image_id"]
        assert r["caption_ok"], r["image_id"]
        # lossless codecs → exact roundtrip (PSNR inf ≥ 40dB threshold)
        assert r["psnr_db"] == float("inf"), r["image_id"]


def test_capped_build_on_hotspot(spark, scenes_df, scene_records):
    """Skew handling: a cap below the hotspot cells' (FIXTURES §1) scene
    count prunes their sorted lists to the oracle's top-`cap`."""
    hot = [r for r in scene_records if "hotspot" in r["caption"]]
    assert len(hot) >= 20, "fixtures must include the density hotspot"
    full, _ = mz.build_mosaic(scenes_df, MosaicConfig(quadkey_zoom=7))
    cap = max(len(v) for v in full["tiles"].values()) // 2
    assert cap >= 1
    cfg = MosaicConfig(quadkey_zoom=7, max_assets_per_tile=cap)
    doc, _ = mz.build_mosaic(scenes_df, cfg)
    got = mz.canonical_json(doc)
    assert got == oracle.canonical_json(_oracle_doc(scene_records, cfg))
    assert got != mz.canonical_json(full), "the cap must drop rows"


@pytest.mark.parametrize("optimized", [False, True])
def test_capped_build_at_full_cap_equals_uncapped(spark, scenes_df, optimized):
    """A cap no cell's scene count exceeds changes nothing: the capped
    doc is byte-equal to the uncapped one."""
    base, _ = mz.build_mosaic(
        scenes_df, MosaicConfig(quadkey_zoom=7, optimized_selection=optimized)
    )
    cap = max(len(v) for v in base["tiles"].values())
    assert cap > 1
    cfg = MosaicConfig(
        quadkey_zoom=7, optimized_selection=optimized, max_assets_per_tile=cap
    )
    doc, _ = mz.build_mosaic(scenes_df, cfg)
    assert mz.canonical_json(doc) == mz.canonical_json(base)


def test_arrow_collect_round_trips_awkward_scenes(spark, fixture_dir, tmp_path):
    """The tile table's Arrow collect keeps every asset string exact:
    non-ASCII and 400+-character image_ids, scenes with null
    cloud_cover (ranked below any measured value) and antimeridian
    crossing scenes give a doc byte-equal to the oracle's."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(fixture_dir, "scenes.parquet"))
    ids = tbl.column("image_id").to_pylist()
    cloud = tbl.column("cloud_cover").to_pylist()
    for i in range(len(ids)):
        if i % 3 == 0:
            ids[i] = f"{ids[i]}_场景_ü_é_\U0001f600"
        elif i % 3 == 1:
            ids[i] = f"{ids[i]}_{'x' * 400}"
        if i % 5 == 0:
            cloud[i] = None
    for name, vals in (("image_id", ids), ("cloud_cover", cloud)):
        at = tbl.schema.get_field_index(name)
        tbl = tbl.set_column(at, name, pa.array(vals, tbl.schema.field(name).type))
    path = str(tmp_path / "awkward.parquet")
    pq.write_table(tbl, path)
    recs = tbl.to_pylist()
    for r in recs:
        r["acquisition_date"] = pd.Timestamp(r["acquisition_date"])

    cfg = MosaicConfig(quadkey_zoom=7)
    doc, _ = mz.build_mosaic(spark.read.parquet(path), cfg)
    assert mz.canonical_json(doc) == oracle.canonical_json(_oracle_doc(recs, cfg))
    by_id = {r["image_id"]: r for r in recs}
    used = {a for assets in doc["tiles"].values() for a in assets}
    assert any(not a.isascii() for a in used)
    assert any(len(a) > 400 for a in used)
    assert any(by_id[a]["cloud_cover"] is None for a in used)
    assert any(by_id[a]["min_lon"] > by_id[a]["max_lon"] for a in used)


def test_validate_mosaic(spark, scenes_df):
    cfg = MosaicConfig(quadkey_zoom=7, minzoom=7)
    doc, _ = mz.build_mosaic(scenes_df, cfg)
    assert mz.validate_mosaic(doc) == []
    bad = dict(doc)
    bad["quadkey_zoom"] = 3
    assert any("quadkey" in e for e in mz.validate_mosaic(bad))
    bad2 = dict(doc)
    bad2.pop("bounds")
    assert any("bounds" in e for e in mz.validate_mosaic(bad2))


def test_mosaic_z12_streams_tiles_without_full_collect(
    spark, scene_records, tmp_path, monkeypatch
):
    """(VERDICT r4 #8) quadkey_zoom > 10 must assemble the document
    through the streamed toLocalIterator path: collect() on the
    (quadkey, assets) table is forbidden (at 4^12 potential keys a full
    collect materializes every Row at once), and the result must stay
    byte-equal to the scalar oracle."""
    import pyarrow.parquet as pq

    sub = scene_records[:12]
    # write the subset through pyarrow to keep the exact on-disk schema
    import pyarrow as pa

    recs = [dict(r) for r in sub]
    for r in recs:
        r["acquisition_date"] = r["acquisition_date"].to_pydatetime()
    cols = {k: [r[k] for r in recs] for k in recs[0]}
    sub_path = str(tmp_path / "scenes12.parquet")
    pq.write_table(pa.Table.from_pydict(cols), sub_path)
    df = spark.read.parquet(sub_path)

    # patch the CONCRETE DataFrame class (pyspark 4's classic impl
    # overrides the pyspark.sql.DataFrame base methods)
    DataFrame = type(df)
    calls = {"iter": 0}
    real_collect = DataFrame.collect
    real_tli = DataFrame.toLocalIterator

    def guarded_collect(self):
        if {"quadkey", "assets"} <= set(self.columns):
            raise AssertionError(
                "full collect() of the tiles table at quadkey_zoom > 10"
            )
        return real_collect(self)

    def spying_tli(self, *a, **kw):
        calls["iter"] += 1
        return real_tli(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "collect", guarded_collect)
    monkeypatch.setattr(DataFrame, "toLocalIterator", spying_tli)
    cfg = MosaicConfig(quadkey_zoom=12, preference="newest")
    doc, _ = mz.build_mosaic(df, cfg)
    monkeypatch.undo()

    assert calls["iter"] >= 1  # streamed assembly actually ran
    assert len(doc["tiles"]) > 1000  # z12 really fans out
    odoc = _oracle_doc(sub, cfg)
    assert mz.canonical_json(doc) == oracle.canonical_json(odoc)


def test_validate_mosaic_rejects_bad_center_and_zoom_mismatch(spark, scene_records):
    """(r5 review) A non-numeric / out-of-range center fails
    validation, and missing_quadkeys refuses an assignments table built
    at a different quadkey_zoom instead of reporting 100% missing."""
    import pyarrow.parquet as pq
    import pytest

    from mosaic_engine import ops

    doc = {
        "mosaicjson": "0.0.2", "minzoom": 7, "maxzoom": 12,
        "quadkey_zoom": 7, "bounds": [-10.0, -5.0, 10.0, 5.0],
        "center": ["a", None, -5], "tiles": {"0000000": ["x"]},
    }
    errs = mz.validate_mosaic(doc)
    assert any("center" in e for e in errs)
    doc["center"] = [500.0, 0.0, 7]
    assert any("center" in e for e in mz.validate_mosaic(doc))
    doc["center"] = [0.0, 0.0, 7]
    assert not mz.validate_mosaic(doc)
