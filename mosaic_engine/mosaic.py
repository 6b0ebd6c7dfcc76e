"""End-to-end mosaic build — the engine's `features_to_mosaicJSON`.

Spark-first equivalent of [ref: landsat_cogeo_mosaic/mosaic.py#
features_to_mosaicJSON] + the `create` CLI entry
([ref: cli.py#create]), run as ONE Spark action: declarative filters
(Catalyst pushdown) → fused footprint→cell explode (one Arrow stage,
no shuffle) → selection aggregation (one exchange by cell; a
max_assets_per_tile cap slices each cell's sorted list) whose
selection struct also carries each scene's bbox → one
bounded driver-side Arrow collect (≤ 4^quadkey_zoom rows) that yields
both the tile map and the used-scene bounds → canonical JSON
(SURVEY.md §7.3 byte-equality rules — the serializer is shared
character-for-character with tests/oracle.py, which generates the
committed goldens). Quadkey strings are a JVM expression over the
packed cell id (ops.cell_quadkey_sql); nothing is persisted, the
scene table is read once, and no join looks up the used scenes.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from . import ops, udfs
from .ops import MosaicConfig
from .udfs import EXPLODE_PASSTHROUGH  # re-export (canonical def: udfs)


def quadkey_assignments(scenes: DataFrame, cfg: MosaicConfig) -> DataFrame:
    """scenes → (quadkey, assets, n_assets); the distributed 99% of E1."""
    filtered = ops.filter_scenes(scenes, cfg)
    tiles = udfs.explode_to_quadkeys(
        filtered, cfg.quadkey_zoom, passthrough=EXPLODE_PASSTHROUGH
    )
    return ops.assignments(tiles, cfg)


def canonical_json(doc: dict) -> str:
    """THE serializer (same expression as tests/oracle.canonical_json)."""
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


def assemble_mosaic_doc(
    tiles_map: dict[str, list[str]], bounds: list[float], cfg: MosaicConfig
) -> dict:
    return {
        "mosaicjson": "0.0.2",
        "name": cfg.name,
        "description": cfg.description,
        "version": cfg.version,
        "attribution": cfg.attribution,
        "minzoom": cfg.minzoom,
        "maxzoom": cfg.maxzoom,
        "quadkey_zoom": cfg.quadkey_zoom,
        "bounds": bounds,
        "center": [
            (bounds[0] + bounds[2]) / 2,
            (bounds[1] + bounds[3]) / 2,
            cfg.minzoom,
        ],
        "tiles": {qk: tiles_map[qk] for qk in sorted(tiles_map)},
    }


def collect_mosaic_doc(assign: DataFrame, cfg: MosaicConfig) -> dict:
    """Assignments table → mosaicJSON document in ONE driver collect:
    the tile map and the bounds (min/max of the per-cell used-scene
    bounds ops.assignments emits) come from the same rows, bounded by
    4^quadkey_zoom. Up to quadkey_zoom 10 the table crosses as one
    Arrow table (toArrow): the asset strings come out of the flattened
    list column in one pass and the bounds are Arrow min/max kernels,
    so no pickled Row crosses. Past quadkey_zoom 10 the rows
    stream through toLocalIterator instead. Empty table → world
    bounds. A table without the bounds columns, or with a cell whose
    bounds are NULL, is state written before the selection carried
    bounds: raises ops.LegacyStateError rather than emit wrong
    bounds."""
    bcols = ["min_lon", "min_lat", "max_lon", "max_lat"]
    missing = [c for c in bcols if c not in assign.columns]
    if missing:
        raise ops.LegacyStateError(
            f"assignments lack the used-scene bounds columns {missing} "
            "— the state predates bounds in the selection; rebuild it"
        )
    sel = assign.select("quadkey", "assets", *bcols)
    if cfg.quadkey_zoom > 10:
        tiles_map, bounds = _tiles_from_rows(sel.toLocalIterator())
    else:
        tiles_map, bounds = _tiles_from_arrow(sel.toArrow())
    if not tiles_map:
        bounds = [-180.0, -90.0, 180.0, 90.0]
    return assemble_mosaic_doc(tiles_map, bounds, cfg)


def _unbounded(qk: str) -> ops.LegacyStateError:
    return ops.LegacyStateError(
        f"cell {qk} has no used-scene bounds — the state "
        "predates bounds in the selection; rebuild it"
    )


def _tiles_from_rows(rows) -> tuple[dict[str, list[str]], list[float]]:
    tiles_map: dict[str, list[str]] = {}
    w = s = float("inf")
    e = n = float("-inf")
    for qk, assets, cw, cs, ce, cn in rows:
        if cw is None:
            raise _unbounded(qk)
        tiles_map[qk] = list(assets)
        w, s, e, n = min(w, cw), min(s, cs), max(e, ce), max(n, cn)
    return tiles_map, [w, s, e, n]


def _tiles_from_arrow(tbl: pa.Table) -> tuple[dict[str, list[str]], list[float]]:
    west = tbl.column("min_lon")
    if west.null_count:
        first = pc.index(pc.is_null(west), True).as_py()
        raise _unbounded(tbl.column("quadkey")[first].as_py())
    qks = tbl.column("quadkey").to_numpy(zero_copy_only=False).tolist()
    lists = tbl.column("assets").combine_chunks()
    assets = lists.values.to_numpy(zero_copy_only=False).tolist()
    offs = lists.offsets.to_numpy().tolist()
    tiles_map = {qk: assets[offs[i]:offs[i + 1]] for i, qk in enumerate(qks)}
    bounds = [
        pc.min(west).as_py(),
        pc.min(tbl.column("min_lat")).as_py(),
        pc.max(tbl.column("max_lon")).as_py(),
        pc.max(tbl.column("max_lat")).as_py(),
    ]
    return tiles_map, bounds


def build_mosaic(scenes: DataFrame, cfg: MosaicConfig) -> tuple[dict, DataFrame]:
    """Full E1: returns (mosaicJSON document dict, assignments DataFrame).

    One Spark action (collect_mosaic_doc): only the final tile table
    crosses to the driver, as one Arrow table up to quadkey_zoom 10 —
    bounded by 4^quadkey_zoom regardless of input scale. The selection
    is one exchange by cell, capped or not (see ops.assignments). The
    returned assignments
    DataFrame is lazy; using it recomputes the pipeline.
    """
    assign = quadkey_assignments(scenes, cfg)
    return collect_mosaic_doc(assign, cfg), assign


def missing_quadkeys_geojson(
    land: DataFrame, assign: DataFrame, zoom: int
) -> tuple[str, DataFrame]:
    """E3: gaps under land as a canonical GeoJSON FeatureCollection.

    Feature geometry = tile polygon; properties = {"quadkey": qk}.
    Canonical form: features sorted by quadkey, same JSON serializer.
    """
    miss = ops.missing_quadkeys(land, assign, zoom)
    with_bounds = udfs.quadkey_bounds(miss)
    feats = []
    for r in sorted(with_bounds.collect(), key=lambda r: r["quadkey"]):
        w, s, e, n = r["tile_w"], r["tile_s"], r["tile_e"], r["tile_n"]
        feats.append(
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[w, s], [e, s], [e, n], [w, n], [w, s]]],
                },
                "properties": {"quadkey": r["quadkey"]},
            }
        )
    doc = {"type": "FeatureCollection", "features": feats}
    return canonical_json(doc), miss


def validate_mosaic(doc: dict) -> list[str]:
    """MosaicJSON v0.0.2 structural validation (the public spec's
    required fields + engine invariants). Returns a list of problems —
    empty means valid."""
    errs = []
    for field_, typ in (
        ("mosaicjson", str),
        ("minzoom", int),
        ("maxzoom", int),
        ("quadkey_zoom", int),
        ("bounds", list),
        ("center", list),
        ("tiles", dict),
    ):
        if field_ not in doc:
            errs.append(f"missing field {field_}")
        elif not isinstance(doc[field_], typ):
            errs.append(f"field {field_} has type {type(doc[field_]).__name__}")
    if errs:
        return errs
    if doc["mosaicjson"] != "0.0.2":
        errs.append(f"unsupported version {doc['mosaicjson']}")
    if not (0 <= doc["minzoom"] <= doc["maxzoom"] <= 30):
        errs.append("minzoom/maxzoom out of order or range")
    if not (doc["minzoom"] <= doc["quadkey_zoom"] <= doc["maxzoom"]):
        errs.append("quadkey_zoom outside [minzoom, maxzoom]")
    # a validator must REPORT malformed shapes, never crash on them
    if len(doc["bounds"]) != 4:
        errs.append(f"bounds must have 4 values, got {len(doc['bounds'])}")
        return errs
    if len(doc["center"]) != 3:
        errs.append(f"center must have 3 values, got {len(doc['center'])}")
        return errs
    # center gets the same numeric/range scrutiny as bounds (r5
    # review: a ["a", None, -5] center previously validated clean)
    if not all(isinstance(v, (int, float)) for v in doc["center"]):
        errs.append(f"non-numeric center {doc['center']}")
        return errs
    clon, clat, _cz = doc["center"]
    if not (-180 <= clon <= 180 and -90 <= clat <= 90):
        errs.append(f"invalid center {doc['center']}")
    w, s, e, n = doc["bounds"]
    if not all(isinstance(v, (int, float)) for v in doc["bounds"]):
        errs.append(f"non-numeric bounds {doc['bounds']}")
        return errs
    if not (-180 <= w <= e <= 180 and -90 <= s <= n <= 90):
        errs.append(f"invalid bounds {doc['bounds']}")
    qz = doc["quadkey_zoom"]
    for qk, assets in doc["tiles"].items():
        if not isinstance(qk, str) or len(qk) != qz or any(
            c not in "0123" for c in qk
        ):
            errs.append(f"bad quadkey {qk!r}")
            break
        if not isinstance(assets, list) or not assets or not all(
            isinstance(a, str) for a in assets
        ):
            errs.append(f"bad asset list at {qk!r}")
            break
        if len(set(assets)) != len(assets):
            errs.append(f"duplicate assets at {qk!r}")
            break
    return errs
