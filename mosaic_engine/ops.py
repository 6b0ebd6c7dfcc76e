"""DataFrame-level plan builders — filters, ranking, selection aggregation,
anti-join gap detection, kNN, raster↔vector join.

Design notes (scale-first, SURVEY.md §4):

* The hot pipeline contains NO window functions and NO per-quadkey sort
  shuffle: scene preference is a total-order struct key
  ``(pref_key, cloud_cover, image_id)``; `min(struct)` / sorted
  `collect_list(struct)` give map-side partial aggregation, so the only
  shuffles are hash exchanges on fine-grained keys.
* Skew (a few dense quadkeys holding thousands of scenes) is left to
  the map-side partial aggregation: each task collects its share of a
  hot cell before the one exchange by cell, so the merge task sorts
  pre-grouped partials. A salted two-phase aggregation with a per-salt
  top-`cap` prune was measured against this one level on a hotspot
  corpus and was not faster by more than the noise, so it is gone
  (ROADMAP item 4). AQE stays on as defense in depth.
* Reference semantics: filters = [ref: landsat_cogeo_mosaic/cli.py]
  options; selection = [ref: mosaic.py#features_to_mosaicJSON]
  (preference sort, optimized_selection per-(path,row) dedupe);
  missing-quadkeys = [ref: missing.py#missing_quadkeys] anti join.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd  # module-level: pandas_udf resolves the stringified
# pd.Series hints of _haversine_m_udf against this module's globals
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import geometry as geo
from . import udfs

# cap on the probe table knn_bruteforce_points collects to the driver
# and closes over in its kernel (three columns per probe)
KNN_PROBE_BROADCAST_LIMIT = 50_000

SEASON_MONTHS = {
    "winter": (12, 1, 2),
    "spring": (3, 4, 5),
    "summer": (6, 7, 8),
    "autumn": (9, 10, 11),
    "fall": (9, 10, 11),
}


@dataclass
class MosaicConfig:
    """Build parameters mirroring the reference CLI options."""

    quadkey_zoom: int = 8
    minzoom: int = 7
    maxzoom: int = 12
    preference: str = "newest"  # newest | oldest | closest-to-date
    closest_date: str | None = None  # ISO date for closest-to-date
    optimized_selection: bool = False
    max_cloud: float = 100.0
    min_cloud: float = 0.0
    bounds: tuple[float, float, float, float] | None = None
    min_date: str | None = None
    max_date: str | None = None
    seasons: tuple[str, ...] = ()
    tier_only: bool = False  # require _T1 products
    max_assets_per_tile: int | None = None
    name: str = "mosaic"
    description: str | None = None
    version: str = "1.0.0"
    attribution: str | None = None

    def config_hash(self) -> str:
        import hashlib
        import json

        blob = json.dumps(
            {k: v for k, v in self.__dict__.items()}, sort_keys=True, default=str
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


# ---------------------------------------------------------------- filters
def filter_scenes(df: DataFrame, cfg: MosaicConfig) -> DataFrame:
    """F1–F5: all plain Catalyst predicates → parquet/Iceberg pushdown."""
    out = df
    if cfg.bounds is not None:
        w, s, e, n = cfg.bounds
        # Normal scenes store min_lon <= max_lon; antimeridian-crossing
        # scenes store min_lon > max_lon (datagen convention, mirrors
        # _explode_batch's split). Treat the latter as the union of
        # [min_lon, 180] and [-180, max_lon].
        lat_ok = (F.col("min_lat") < n) & (F.col("max_lat") > s)
        if w <= e:
            normal = (F.col("min_lon") <= F.col("max_lon")) & (
                (F.col("min_lon") < e) & (F.col("max_lon") > w)
            )
            wrapped = (F.col("min_lon") > F.col("max_lon")) & (
                (F.col("min_lon") < e) | (F.col("max_lon") > w)
            )
        else:
            # QUERY window crosses the antimeridian (w > e = the union
            # of [w, 180] and [-180, e]) — previously this arm didn't
            # exist and a Pacific window silently dropped nearly every
            # covered scene (r5 review). A normal scene intersects the
            # union iff it reaches past w or starts before e; a
            # crossing scene always touches 180 and the window includes
            # 180, so it always intersects.
            normal = (F.col("min_lon") <= F.col("max_lon")) & (
                (F.col("max_lon") > w) | (F.col("min_lon") < e)
            )
            wrapped = F.col("min_lon") > F.col("max_lon")
        out = out.filter(lat_ok & (normal | wrapped))
    if cfg.max_cloud < 100.0 or cfg.min_cloud > 0.0:
        # Explicit cloud filter requested: null cloud_cover fails it
        # (unknown quality is excluded, matching the reference CLI).
        out = out.filter(F.col("cloud_cover").between(cfg.min_cloud, cfg.max_cloud))
    # No cloud filter requested: keep every scene, including those with
    # null/missing cloud metadata (previously an implicit <=100 dropped them).
    if cfg.min_date:
        out = out.filter(F.col("acquisition_date") >= F.lit(cfg.min_date))
    if cfg.max_date:
        out = out.filter(F.col("acquisition_date") <= F.lit(cfg.max_date))
    if cfg.seasons:
        months = sorted({m for s_ in cfg.seasons for m in SEASON_MONTHS[s_]})
        out = out.filter(F.month("acquisition_date").isin(months))
    if cfg.tier_only:
        out = out.filter(F.col("image_id").like("%_T1%"))
    return out


def cell_quadkey_sql(cell: str) -> str:
    """Packed cell id (the SQL expression `cell`) → quadkey string, as
    SQL text for a JVM expression (no Python hop, and one parse instead
    of a py4j call per operator): a cell's quadkey is its morton code
    (bits 6..63, read unsigned so negative level-29 ids work) in base
    4, left-padded with '0' to its level (bits 0..5); lpad to 0 gives
    level 0's ''."""
    return (
        f"lpad(conv(cast(shiftrightunsigned(({cell}), 6) AS string), 10, 4), "
        f"cast(({cell}) & 63 AS int), '0')"
    )


def tile_quadkey_col(tx: str, ty: str, z: int) -> Column:
    """Tile (tx, ty) at zoom `z` (SQL expressions) → quadkey string as
    a JVM expression: pack the cell as cells.pack_cell does, then
    render it with cell_quadkey_sql. A coordinate's binary digits read
    as base-4 digits spread its bits to the even positions (the morton
    interleave). tx and ty must lie in [0, 2^z)."""

    def spread(c: str) -> str:
        return f"cast(conv(bin({c}), 4, 10) AS bigint)"

    cell = f"shiftleft({spread(tx)} + 2 * {spread(ty)}, 6) + {int(z)}"
    return F.expr(cell_quadkey_sql(cell))


# ---------------------------------------------------------------- ranking
def pref_key(cfg: MosaicConfig) -> Column:
    """Numeric ascending-sort preference key (SURVEY.md §2.5 A2).

    newest → -unix_seconds, oldest → +unix_seconds,
    closest-to-date → |acq - target| seconds. Long arithmetic: exact.
    """
    ts = F.unix_timestamp("acquisition_date")
    if cfg.preference == "newest":
        return (-ts).alias("pref_key")
    if cfg.preference == "oldest":
        return ts.alias("pref_key")
    if cfg.preference == "closest-to-date":
        if not cfg.closest_date:
            raise ValueError("closest-to-date preference needs closest_date")
        target = F.unix_timestamp(F.lit(cfg.closest_date), "yyyy-MM-dd")
        return F.abs(ts - target).alias("pref_key")
    raise ValueError(f"unknown preference {cfg.preference!r}")


def _sel_struct(cfg: MosaicConfig) -> Column:
    """Total-order selection key: lexicographic struct comparison gives
    (pref_key asc, cloud_cover asc, image_id asc) — fully deterministic,
    usable in min()/sort_array() with map-side partial aggregation.
    NULL cloud_cover (kept by the no-cloud-filter path) coalesces to
    101 so unknown quality ranks BELOW any measured value on ties —
    struct ordering would otherwise sort NULL first.

    The scene's bbox trails the key as (min_lon, min_lat, max_lon,
    max_lat) so the selection carries the used-scene bounds without a
    second scan; image_id already makes the order total, so these
    fields never decide it. A crossing scene (stored wrapped,
    min_lon > max_lon) genuinely spans both sides of ±180 and
    contributes the full [-180, 180] lon interval, which keeps the
    mosaic bounds spec-valid and covering every emitted tile (twin:
    tests/oracle.py.features_to_mosaic)."""
    crossing = F.col("min_lon") > F.col("max_lon")
    return F.struct(
        pref_key(cfg).alias("pref_key"),
        F.coalesce(F.col("cloud_cover"), F.lit(101.0)).alias("cloud_cover"),
        F.col("image_id").alias("image_id"),
        F.when(crossing, -180.0).otherwise(F.col("min_lon")).alias("min_lon"),
        F.col("min_lat").alias("min_lat"),
        F.when(crossing, 180.0).otherwise(F.col("max_lon")).alias("max_lon"),
        F.col("max_lat").alias("max_lat"),
    ).alias("sel")


def optimized_dedupe(tiles: DataFrame, cfg: MosaicConfig) -> DataFrame:
    """A3: keep the best scene per (quadkey, path, row).

    min(struct) aggregation instead of a window: partial min runs
    map-side, so dense quadkeys never concentrate in one task before
    reduction. Output: (quadkey, sel struct).
    """
    return tiles.groupBy("cell", "path", "row").agg(
        F.min(_sel_struct(cfg)).alias("sel")
    )


def assignments(tiles: DataFrame, cfg: MosaicConfig) -> DataFrame:
    """A1+A2(+A6): per-quadkey rank-ordered asset lists.

    The selection is ONE aggregation by cell: the partial collects
    cross one exchange, the merge sorts each cell's rows once and a
    cap (A6) slices the sorted list to its best `cap` rows. Returns
    (cell, quadkey, assets array<string>, n_assets int, min_lon,
    min_lat, max_lon, max_lat): the last four are the cell's min/max
    over the bboxes of the scenes it selected (after any cap or
    optimized-selection dedupe, crossing scenes as ±180 — see
    _sel_struct), so the mosaic bounds reduce from the tile table
    itself. A cell whose selection holds a scene row without a bbox
    (state written before these columns existed) gets NULL bounds,
    which mosaic_bounds and mosaic.collect_mosaic_doc reject.
    """
    cap = cfg.max_assets_per_tile
    if cap is not None and cap < 1:
        raise ValueError(
            f"max_assets_per_tile must be >= 1 or None (got {cap})"
        )
    if cfg.optimized_selection:
        keyed = optimized_dedupe(tiles, cfg)
    else:
        keyed = tiles.select("cell", _sel_struct(cfg))
    sels = F.sort_array(F.collect_list("sel"))
    # `is not None`, never truthiness: a (rejected-above) cap of 0 must
    # not silently flip to "unlimited"
    if cap is not None:
        sels = F.slice(sels, 1, cap)
    merged = keyed.groupBy("cell").agg(sels.alias("sels"))
    # per-cell outputs are struct-field extractions on the sorted
    # selection, in one projection of SQL text; quadkey strings only
    # materialize here — bounded by 4^quadkey_zoom
    bounded = "NOT exists(sels.min_lon, x -> x IS NULL)"
    return merged.selectExpr(
        "cell",
        f"{cell_quadkey_sql('cell')} AS quadkey",
        "sels.image_id AS assets",
        "size(sels) AS n_assets",
        *(
            f"CASE WHEN {bounded} THEN array_{agg}(sels.{name}) END AS {name}"
            for name, agg in (
                ("min_lon", "min"), ("min_lat", "min"),
                ("max_lon", "max"), ("max_lat", "max"),
            )
        ),
    )


def assignments_relational(assign: DataFrame) -> DataFrame:
    """(quadkey, assets) → (quadkey, asset, rank) — the join-output form;
    rank from array position, no window needed."""
    return assign.select(
        "quadkey", F.posexplode("assets").alias("pos", "asset")
    ).select("quadkey", "asset", (F.col("pos") + 1).alias("rank"))


class LegacyStateError(ValueError):
    """Persisted mosaic state (a tiles log or checkpoint table) lacks
    the used-scene bounds columns: it was written before assignments
    carried them, and its bounds cannot be derived without rescanning
    the scenes. A streaming work_dir compacted by the pre-manifest
    scheme (compacted_batches.json) is such state too, and so is a
    saved kNN or IVF index whose meta lacks a generation (or, for
    kNN, the prep cap). Rebuild it."""


def mosaic_bounds(scenes: DataFrame, assign: DataFrame) -> list[float]:
    """A4: bbox of the scenes the mosaic actually uses — one aggregate
    row over assign's used-scene bounds columns (see assignments), no
    scene scan and no join. `scenes` is no longer read; the parameter
    is kept for existing callers. Empty mosaic → world bounds.

    The row is observed metrics of one pass over `assign` (the noop
    sink writes nothing): a plain agg() would add a single-partition
    exchange, which adaptive execution runs as a second job."""
    obs = Observation()
    assign.observe(
        obs,
        F.min("min_lon").alias("w"),
        F.min("min_lat").alias("s"),
        F.max("max_lon").alias("e"),
        F.max("max_lat").alias("n"),
        F.count("*").alias("cells"),
        F.count("min_lon").alias("bounded"),
    ).write.format("noop").mode("overwrite").save()
    row = obs.get
    if row["cells"] != row["bounded"]:
        raise LegacyStateError(
            "assignments hold cells without used-scene bounds — the "
            "state predates bounds in the selection; rebuild it"
        )
    if row["cells"] == 0:
        return [-180.0, -90.0, 180.0, 90.0]
    return [row["w"], row["s"], row["e"], row["n"]]


# ------------------------------------------------------------- gap check
def missing_quadkeys(
    land: DataFrame, assign: DataFrame, zoom: int
) -> DataFrame:
    """E3: quadkeys under land polygons absent from the mosaic — a
    left_anti join on quadkey ([ref: missing.py#missing_quadkeys])."""
    # the packed cell key EMBEDS its level, so an assignments table
    # built at a different quadkey_zoom can never match any land cell
    # and the anti join would report 100% of land as missing with no
    # error (r5 review) — verify level agreement on one bounded row
    probe = assign.select("cell").first()
    if probe is not None:
        assign_level = int(probe["cell"]) & 0x3F
        if assign_level != zoom:
            raise ValueError(
                f"missing_quadkeys: assignments were built at "
                f"quadkey_zoom={assign_level} but zoom={zoom} was "
                "requested — the anti join would mark every land tile "
                "missing"
            )
    land_qk = udfs.ring_to_quadkeys(land, zoom, "land_id").select(
        "cell"
    ).distinct()
    miss = land_qk.join(assign.select("cell"), "cell", "left_anti")
    return miss.selectExpr(f"{cell_quadkey_sql('cell')} AS quadkey")


# ------------------------------------------------------------------- kNN
KNN_MIN_LEVEL = 3
# cap for the occupancy-verified bump (knn_index): the stats dim is
# bounded by NONEMPTY cells (≤ corpus rows) at any level, and the
# knn_join prefilter cascade keeps every |probes|×|cells| pair table
# bounded, so fine levels are safe — 14 ≈ 2.4 km cells, finer than any
# scene footprint, past which more levels stop reducing candidates
KNN_MAX_LEVEL = 14


def knn_pick_level(n_scenes: int, k: int) -> int:
    """Banding-level heuristic: pick the web-mercator cell level whose
    average occupancy is ~max(16, 4k) scenes per nonempty cell —
    candidate work per probe stays ~k·C while the |probes| × |cells|
    bound table stays small. Exactness does NOT depend on the choice
    (the R* bound math is level-independent); this only positions the
    cost knee. Clamped to [KNN_MIN_LEVEL, KNN_MAX_LEVEL] — coarser
    than 3 prunes nothing; the upper cap's rationale lives at the
    KNN_MAX_LEVEL definition. This closed-form guess assumes the
    corpus spreads into n/target cells; knn_index refines it against
    MEASURED row-weighted occupancy."""
    import math

    target = max(16.0, 4.0 * max(k, 1))
    cells = max(float(n_scenes) / target, 1.0)
    return min(KNN_MAX_LEVEL, max(KNN_MIN_LEVEL, round(math.log(cells, 4))))


@dataclass
class KnnIndex:
    """Reusable kNN corpus index: the banding level, the flat centroid
    table keyed by packed cell, the per-cell stats dim (checkpointed
    when built, a bounded parquet scan when loaded) and the cascade
    prep built from it. When the prep reaches `level` and the corpus
    holds at most KNN_RESIDENT_ROWS scenes, the prep also carries the
    corpus members (_resident_members), prunes each cell against the
    bounding box of its member centroids instead of its tile rect, and
    knn_join serves a request as one Python stage over the probes;
    otherwise it prunes against tile rects and scores through the
    union kernel. Build once with knn_index, serve many probe
    batches through knn_join(index=...) — repeated batches skip the
    corpus-wide stats aggregation, the prep collect and the member
    collect (the serving-at-scale pattern: index on ingest, query per
    request)."""

    level: int
    cent: DataFrame  # (image_id, slon, slat, cell)
    stats: DataFrame  # (cell, n_in_cell)
    # (_cascade_prep dict, its broadcast): the bounded numpy rollups/
    # CSRs of the in-kernel coarse cascade (and the resident members),
    # one executor-side copy shared by every serve batch
    prep: tuple


def _tile_xy_cols(lon: Column, lat: Column, level: int) -> tuple[Column, Column]:
    """Native web-mercator tile x/y at `level` (codegen, no Arrow hop)."""
    import math

    z2 = float(1 << level)
    nmax = (1 << level) - 1
    LAT_MAX = 85.05112878
    lon_c = F.greatest(F.least(lon, F.lit(180.0)), F.lit(-180.0))
    lat_r = F.radians(
        F.greatest(F.least(lat, F.lit(LAT_MAX)), F.lit(-LAT_MAX))
    )
    xn = (lon_c + 180.0) / 360.0
    yn = (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi) / 2.0
    clamp = lambda c: F.greatest(F.least(c, F.lit(nmax)), F.lit(0))  # noqa: E731
    return (
        clamp(F.floor(xn * z2).cast("long")),
        clamp(F.floor(yn * z2).cast("long")),
    )


def _scene_centroids(scenes: DataFrame) -> DataFrame:
    """Footprint centroids honoring the antimeridian convention
    (min_lon > max_lon = crossing scene, as produced by datagen and
    handled by filter_scenes): the naive midpoint of a crossing scene
    lands ~180° away from the true center, so rotate it by 180° and
    wrap into [-180, 180). A scene stored unwrapped wholly past the
    antimeridian (min_lon < max_lon, midpoint beyond ±180) has its
    midpoint shifted by ∓360 into [-180, 180], or the kNN tile key
    would clamp it into an edge column whose rect does not contain
    it; in-range midpoints are left bit-identical."""
    raw = (F.col("min_lon") + F.col("max_lon")) / 2
    slon = (
        F.when(
            F.col("min_lon") > F.col("max_lon"),
            F.pmod(raw + 360.0, F.lit(360.0)) - 180.0,
        )
        .when(raw > 180.0, raw - 360.0)
        .when(raw < -180.0, raw + 360.0)
        .otherwise(raw)
    )
    return scenes.select(
        "image_id",
        slon.alias("slon"),
        ((F.col("min_lat") + F.col("max_lat")) / 2).alias("slat"),
    )


def _parent_cell_col(cellcol: Column, drop: int) -> Column:
    """Ancestor of a packed (x<<30)|y cell `drop` levels up. Exact for
    any point p and levels L < M: the level-L cell computed directly
    from p equals the ancestor of p's level-M cell, because tile
    coords are floor(t·2^L) with t·2^M = (t·2^L)·2^(M-L) computed
    EXACTLY in binary floating point (scaling by a power of two), so
    floor(t·2^M) >> (M-L) = floor(t·2^L); the [0, 2^L-1] clamps
    commute with the shift for the same reason."""
    cx = F.shiftright(cellcol, 30)
    cy = cellcol - F.shiftleft(cx, 30)
    return F.shiftleft(F.shiftright(cx, drop), 30) + F.shiftright(cy, drop)


def knn_index(
    scenes: DataFrame, level: int | None = None, k_hint: int = 8
) -> KnnIndex:
    """Build the kNN corpus index (see KnnIndex). ``level=None``
    auto-picks the banding level from MEASURED density (r6 rework of
    the r5 one-shot occupancy bump, VERDICT r5 #1): ONE corpus pass
    keys every centroid at KNN_MAX_LEVEL and aggregates a fine stats
    dim (bounded by nonempty cells ≤ corpus rows); every candidate
    level's row-weighted occupancy is then scored by rolling that
    BOUNDED dim up (exact — parent cells partition their children, see
    _parent_cell_col), so walking the level finer costs a few
    aggregations over an executor-cached dim instead of a corpus
    rescan per step. The walk stops at the first level whose
    row-weighted occupancy sum(n²)/sum(n) — the occupancy of the cell
    holding a RANDOM SCENE, the statistic probe traffic actually sees
    — drops to ≤ 2× target (target = max(16, 4k)). The r5 one-shot
    bump stopped at 4× target and left ~2× serving time on the table:
    measured on the 1M-scene bench corpus (100k probes, 32 cores)
    level 11 (rw 316) = 54.6 s, 12 (rw 108) = 44.2 s, 13 (rw 31) =
    30.8 s, 14 (rw 9) = 35.9 s — the knee sits at rw ≈ 2× target,
    past which extra cells cost more in pruning than they save in
    scoring. The cell key is INTERNAL to the operator (stats side and
    scoring side just have to agree), so it's computed natively —
    whole-stage codegen, no Arrow hop over the big scenes table.
    Key = (x<<30)|y."""
    cent = _scene_centroids(scenes)

    def key_at(lv: int) -> Column:
        sx, sy = _tile_xy_cols(F.col("slon"), F.col("slat"), lv)
        return F.shiftleft(sx, 30) + sy

    if level is None:
        fine = (
            cent.groupBy(key_at(KNN_MAX_LEVEL).alias("cell"))
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )
        tot = fine.agg(F.sum("n").alias("t")).first()["t"] or 0
        target = max(16.0, 4.0 * max(k_hint, 1))
        level = knn_pick_level(int(tot), k_hint)
        # occupancy walk in ONE job (r7; the r6 loop ran one rollup
        # aggregation JOB per candidate level — ~0.16 s of scheduling
        # per step, 6 steps ≈ 1 s on the bench corpus): every
        # candidate level's (lv, parent) rollup is computed from the
        # SAME bounded fine dim via a struct-array explode, one
        # shuffle, and the per-level row-weighted occupancies come
        # back in a single ≤ (KNN_MAX_LEVEL − guess)-row collect. The
        # selection rule is unchanged bit-for-bit: first level ≥ the
        # closed-form guess whose rw ≤ 2×target, else KNN_MAX_LEVEL.
        if level < KNN_MAX_LEVEL:
            cand_lvls = list(range(level, KNN_MAX_LEVEL))
            pairs = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lv).alias("lv"),
                            _parent_cell_col(
                                F.col("cell"), KNN_MAX_LEVEL - lv
                            ).alias("p"),
                        )
                        for lv in cand_lvls
                    ]
                )
            ).alias("x")
            rw_rows = (
                fine.select(F.col("n"), pairs)
                .select(F.col("x.lv").alias("lv"), F.col("x.p").alias("p"), "n")
                .groupBy("lv", "p")
                .agg(F.sum("n").alias("pn"))
                .groupBy("lv")
                .agg(
                    (F.sum(F.col("pn") * F.col("pn")) / F.sum("pn")).alias(
                        "rw"
                    )
                )
                .collect()
            )
            rw_by_lv = {int(r["lv"]): float(r["rw"] or 0.0) for r in rw_rows}
            while level < KNN_MAX_LEVEL:
                if rw_by_lv.get(level, 0.0) <= 2.0 * target:
                    break
                level += 1
        # final stats by rollup — no second corpus-wide aggregation
        stats = (
            fine.groupBy(
                _parent_cell_col(
                    F.col("cell"), KNN_MAX_LEVEL - level
                ).alias("cell")
            )
            .agg(F.sum("n").alias("n_in_cell"))
            .localCheckpoint(eager=True)
        )
    else:
        stats = (
            cent.groupBy(key_at(level).alias("cell"))
            .agg(F.count("*").alias("n_in_cell"))
            # stats is bounded (≤ 4^level rows) but its lineage scans
            # the whole corpus; several downstream branches reference
            # it, so materialize the small result once in executor
            # storage
            .localCheckpoint(eager=True)
        )
    cent = cent.withColumn("cell", key_at(level))
    return KnnIndex(level, cent, stats, _cascade_prep(stats, cent, level))


def knn_index_save(idx: KnnIndex, path: str) -> None:
    """Persist a KnnIndex as parquet so the index-on-ingest serving
    path survives the SparkSession (a localCheckpointed stats dim dies
    with its session).

    GENERATION commit (r5 review): a re-save over the same path (e.g.
    after the occupancy bump changed the banding level) previously
    overwrote meta/stats/cent as three independent writes — a crash
    mid-save left a mixed-level index that knn_index_load served with
    silently wrong bounds. Now each save writes its data under
    ``path/stats_g<G>`` + ``path/cent_g<G>`` (two plain parquet
    writes) first and commits by overwriting ``path/meta`` (level,
    gen, prep_cap) LAST — the loader follows meta, so a crash at any
    point leaves the previous generation fully intact. A generation is
    exactly those three entries: the cascade prep is rebuilt from
    ``stats_g<G>`` at the recorded cap, not stored. A `path` holding a
    pre-generation layout or a meta without prep_cap raises
    LegacyStateError before anything is written or deleted; an
    unreadable meta raises its read error. Superseded generation dirs
    are best-effort GC'd after the commit. All I/O goes through
    Spark's Hadoop FS layer — no POSIX-only ops — so `path` may be
    local, HDFS, or s3a."""
    spark = idx.cent.sparkSession
    gen = _next_generation(spark, path, ("level", "gen", "prep_cap"))
    idx.stats.write.mode("overwrite").parquet(f"{path}/stats_g{gen}")
    idx.cent.write.mode("overwrite").parquet(f"{path}/cent_g{gen}")
    _commit_meta(
        spark, path, level=idx.level, gen=gen, prep_cap=idx.prep[0]["cap"]
    )
    # GC superseded generations (best-effort; readers follow meta)
    _gc_superseded_generations(spark, path, ("stats", "cent"), gen)


def _commit_meta(spark, path: str, **fields: int) -> None:
    """The COMMIT of a saved index generation: one small overwrite of
    ``path/meta`` (one row of int `fields`), written last. The row is
    built on the JVM in one partition: a createDataFrame of a Python
    list runs one Python-worker task per core to write one row."""
    spark.range(0, 1, 1, 1).select(
        *[F.lit(int(v)).cast("int").alias(k) for k, v in fields.items()]
    ).write.mode("overwrite").parquet(f"{path}/meta")


def _read_meta(spark, path: str, fields: tuple[str, ...]) -> dict:
    """The generation commit record ``path/meta`` of a saved kNN or IVF
    index. A meta lacking any of `fields` is a pre-generation layout
    (no gen) or a kNN generation saved before the prep cap was
    recorded: it raises LegacyStateError — rebuild and re-save the
    index. An unreadable meta raises its read error."""
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    missing = [f for f in fields if meta.get(f) is None]
    if missing:
        raise LegacyStateError(
            f"index meta at {path} lacks {missing}: it was saved in an "
            "older layout; rebuild and re-save the index"
        )
    return meta


def _next_generation(spark, path: str, fields: tuple[str, ...]) -> int:
    """The generation a save over `path` writes, shared by
    knn_index_save and annops.ivf_index_save: 0 when ``path/meta``
    does not exist, else the committed gen + 1 (_read_meta, so a
    legacy or unreadable meta RAISES — guessing 0 would write g0 and
    let the post-commit GC delete the live generation and the
    predecessor a loaded handle still reads)."""
    from .catalog import _fs_and_path

    fs, jpath = _fs_and_path(spark, f"{path}/meta")
    if not fs.exists(jpath):
        return 0
    return int(_read_meta(spark, path, fields)["gen"]) + 1


def _gc_superseded_generations(
    spark, path: str, prefixes: tuple[str, ...], live_gen: int
) -> None:
    """Best-effort post-commit GC shared by knn_index_save and
    annops.ivf_index_save: once generation `live_gen` is
    meta-committed, delete every ``<pfx>_g<k>`` dir EXCEPT the live
    one and its immediate predecessor. Keeping exactly ONE superseded
    generation (r6 review) is what makes the load-then-re-save flow
    safe: ``save(load(path), path)`` writes the new generation by
    lazily READING the old one, and the loaded index object keeps
    serving from those old files afterwards — deleting them at commit
    would break the live index the caller still holds. Growth stays
    bounded at two generations; the next save retires the older one.
    Readers follow meta, so nothing here is load-bearing; failures are
    swallowed and retried by the next save.

    Caller contract (r7, ADVICE r6): an index HANDLE loaded before a
    re-save keeps reading its generation's files, which survive
    exactly ONE further save — after two consecutive saves the
    handle's files are gone and probes fail with a missing-file read
    error, not a refusal (a kNN handle whose members are resident
    reads no index file when it serves, so it keeps serving its own,
    now superseded, generation). Long-lived serving processes must
    reload (knn_index_load / ivf_index_load) after each re-save they
    observe."""
    from .catalog import _fs_and_path

    keep = {f"_g{live_gen}", f"_g{live_gen - 1}"}
    try:
        fs, jpath = _fs_and_path(spark, path)
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            for pfx in prefixes:
                if name.startswith(f"{pfx}_g") and name[len(pfx):] not in keep:
                    fs.delete(st.getPath(), True)
    except Exception:
        pass


def knn_index_load(spark, path: str) -> KnnIndex:
    """Reload a knn_index_save'd index by following ``path/meta`` (the
    generation commit record — see knn_index_save). The stats dim's
    lineage is now just a bounded parquet scan (≤ 4^level rows), so no
    checkpoint is needed — knn_join(index=...) serves from it
    directly. The cascade prep is rebuilt from it at the cap meta
    records: one bounded collect, no count. When that cap is `level`
    and the corpus fits KNN_RESIDENT_ROWS, one more collect of
    ``cent_g<G>`` makes the members resident in the prep; a member
    table that disagrees with the stats raises ValueError. A
    pre-generation layout or a meta without prep_cap raises
    LegacyStateError."""
    meta = _read_meta(spark, path, ("level", "gen", "prep_cap"))
    level, sfx = int(meta["level"]), f"_g{int(meta['gen'])}"
    stats = spark.read.parquet(f"{path}/stats{sfx}")
    cent = spark.read.parquet(f"{path}/cent{sfx}")
    return KnnIndex(
        level, cent, stats,
        _cascade_prep(stats, cent, level, int(meta["prep_cap"])),
    )


# ---- kNN pruning math, numpy only: knn_join's cascade kernel and its
# fine refinement both prune (probe, cell) pairs with _prune_step —
# the rect bounds of _bounds_fast_np (the bracket pytest's subject)
# over per-rect trig from _rect_attrs_np, then the per-probe R* rule
# of _rstar_np. Pruning EXACTNESS needs only valid bounds: any lower/
# upper bracket preserves the R* guarantee, and the margins in
# _bounds_fast_np absorb FP rounding.
FINE_COLLECT_ROWS = 300_000  # cap for collecting fine stats driver-side
# cap on the corpus members the cascade prep holds resident (see
# _resident_members): one driver collect and one copy in every Python
# worker that serves knn_join, ~20 B per member (two float64
# coordinates, a 4-byte id offset) plus the id's bytes — ~125 MB per
# worker at 2M Landsat-style 41-byte ids. bench.py's 1M-scene corpus
# stays resident; past the cap knn_join scores through the union kernel
KNN_RESIDENT_ROWS = 2_000_000
# in-kernel refinement step: 1 level (4 children/parent). r6 used 2
# (16 children); the 16× expansion made the mid-chain pair tables the
# kernel's peak cost (1.03M pairs at level 7 from 79k level-5
# survivors on the 1M-scene bench corpus) — single-level steps keep
# every intermediate table ≤ 4× the survivor set and measured the
# whole kernel at 6.8 s vs 10.3 s single-core per 100k probes,
# identical survivors out.
CASCADE_STEP = 1


def _parent_np(cells: "np.ndarray", drop: int) -> "np.ndarray":
    import numpy as np

    x = cells >> np.int64(30)
    y = cells - (x << np.int64(30))
    return ((x >> np.int64(drop)) << np.int64(30)) + (y >> np.int64(drop))


def _cell_rect_np(cells: "np.ndarray", level: int):
    """(cw, cs, ce, cn) degree tile rects of packed (x<<30)|y keys at
    `level` via the mercator gudermannian. The top/bottom tile rows
    also receive centroids beyond the mercator clamp (±85.05..), so
    their rects stretch to the poles. Every member of a cell must lie
    INSIDE the rect its pruning bounds use, or the upper bound is
    invalid and pruning goes wrong: a resident cell's prune rect is its
    member box only where that box lies inside this tile rect
    (_prep_from_arrays), and _scene_centroids keeps every finite
    centroid lon in [-180, 180] so its tile column contains it."""
    import math

    import numpy as np

    z2 = float(1 << level)
    nm = (1 << level) - 1
    x = (cells >> np.int64(30)).astype(np.float64)
    y = (cells - ((cells >> np.int64(30)) << np.int64(30))).astype(np.float64)

    def merc(yy):
        return np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * yy / z2))))

    cw = x / z2 * 360.0 - 180.0
    ce = (x + 1.0) / z2 * 360.0 - 180.0
    cs = np.where(y == nm, -90.0, merc(y + 1.0))
    cn = np.where(y == 0, 90.0, merc(y))
    return cw, cs, ce, cn


def _rect_attrs_np(cw, cs, ce, cn):
    """Per-rect trig attributes for the fast a-space bounds
    (_bounds_fast_np): lon edges in degrees plus sin/cos of the
    latitude edges. Computed ONCE per unique cell in _prep_from_arrays
    — the r6 kernel recomputed the rect AND ~40 transcendentals per
    (probe, cell) PAIR per level, measured as ~85% of the kernel's
    13.4 s single-core wall at 100k probes."""
    import numpy as np

    s_r = np.radians(cs)
    n_r = np.radians(cn)
    return (
        cw,
        ce,
        np.sin(s_r),
        np.cos(s_r),
        np.sin(n_r),
        np.cos(n_r),
    )


def _cell_attrs_np(cells: "np.ndarray", level: int):
    """_rect_attrs_np of the cells' tile rects (_cell_rect_np)."""
    return _rect_attrs_np(*_cell_rect_np(cells, level))


def _bounds_fast_np(lon, sin_p, cos_p, tan_p, attrs):
    """(a_lo, a_hi) bounds in HAVERSINE-ARGUMENT space (the monotone
    a = sin²(Δφ/2) + cosφ₁cosφ₂sin²(Δλ/2) of the great-circle
    distance) from a probe to the nearest and farthest point of a
    cell rect, with the per-pair work at two sin() calls plus algebra
    over per-cell/per-probe precomputed trig:

      * sin²(Δφ/2) = (1 − (cosφ₁cosφ₂ + sinφ₁sinφ₂))/2 — products of
        precomputed values, no per-pair transcendental;
      * the stationary latitude φ* = atan(tanφ_p / cosΔλ) enters only
        through sin φ*/cos φ*, computed algebraically as
        (u·sign(c)/√(c²+u²), |c|/√(c²+u²)) with u = tanφ_p, c = cosΔλ
        (and cosΔλ = 1 − 2sin²(Δλ/2) from the one sin already taken);
        clamping to the cell's latitude band compares in sin space
        (monotone on [-π/2, π/2]);
      * cosΔλ == 0.0 exactly (possible here because 1 − 2sin² CAN
        round to zero, unlike np.cos near π/2) is nudged to +5e-324 so
        the stationary candidate degrades to the ±π/2 edge clamp
        instead of a NaN that silently drops a REQUIRED candidate.

    The R* rule is monotone-invariant, so pruning runs directly on a.
    Margins: computing a accumulates ≲1e-15 absolute FP error (the
    cancellation in (1−cosΔφ)/2 is bounded by the term errors, not
    amplified), so 1e-9 relative + 1e-14 absolute keeps ≥10× slack —
    a_lo never exceeds the true min, a_hi never undercuts the true
    max, which is all R* exactness needs (any valid bracket preserves
    the superset)."""
    import numpy as np

    cw, ce, sin_s, cos_s, sin_n, cos_n = attrs

    def wrapdeg(a, b):
        return np.abs((a - b + 540.0) % 360.0 - 180.0)

    def stationary(c):
        # sin/cos of atan(tan_p / c), division-robust (see docstring)
        c2 = np.where(c == 0.0, 5e-324, c)
        h = np.sqrt(c2 * c2 + tan_p * tan_p)
        sgn = np.where(c2 > 0.0, 1.0, -1.0)
        return (tan_p / h) * sgn, np.abs(c2) / h

    def cand_a(sin_c, cos_c, t2):
        return (1.0 - (cos_c * cos_p + sin_c * sin_p)) / 2.0 + (
            cos_p * cos_c
        ) * t2

    def three(t2, pick):
        # pick (fmin/fmax) over the clamped stationary latitude and the
        # two edge latitudes
        c = 1.0 - 2.0 * t2
        sin_st, cos_st = stationary(c)
        sin_cl = np.minimum(np.maximum(sin_st, sin_s), sin_n)
        cos_cl = np.where(
            sin_st < sin_s, cos_s, np.where(sin_st > sin_n, cos_n, cos_st)
        )
        return pick(
            pick(cand_a(sin_cl, cos_cl, t2), cand_a(sin_s, cos_s, t2)),
            cand_a(sin_n, cos_n, t2),
        )

    inside = (lon >= cw) & (lon <= ce)
    dl = np.where(inside, 0.0, np.minimum(wrapdeg(lon, cw), wrapdeg(lon, ce)))
    sdl = np.sin(np.radians(dl) / 2.0)
    a_min = three(sdl * sdl, np.fmin)

    anti = (lon + 360.0) % 360.0 - 180.0
    anti_in = (anti >= cw) & (anti <= ce)
    dl_max = np.where(
        anti_in, 180.0, np.maximum(wrapdeg(lon, cw), wrapdeg(lon, ce))
    )
    sdlx = np.sin(np.radians(dl_max) / 2.0)
    a_max = three(sdlx * sdlx, np.fmax)
    return a_min * (1.0 - 1e-9) - 1e-14, a_max * (1.0 + 1e-9) + 1e-14


def _packed_keys(code, nseg: int, val):
    """One uint64 sort key per row ordering by (segment, value): the
    segment code (0 <= code < nseg) in the high bits, the value's
    order-preserving IEEE bit pattern ROUNDED DOWN to the remaining low
    bits below it. The pattern flips the sign bit of non-negative
    values and every bit of negative ones; -0.0 folds onto +0.0 and
    every NaN maps to the all-ones pattern, so NaN sorts last in its
    segment. Rounding down is monotone: a < b implies key(a) <= key(b),
    and values closer than the quantum (2^-(52 - shift) relative) may
    share a key. Returns (keys, shift), shift = bits dropped from the
    pattern = bits spent on the segment code."""
    import numpy as np

    shift = max(int(nseg) - 1, 1).bit_length()
    v = np.asarray(val, dtype=np.float64) + 0.0
    b = v.view(np.uint64)
    # arithmetic shift: all ones for negative values, zero otherwise
    o = b ^ ((v.view(np.int64) >> 63).view(np.uint64) | np.uint64(1 << 63))
    o[np.isnan(v)] = np.uint64(0xFFFF_FFFF_FFFF_FFFF)
    key = np.asarray(code).astype(np.uint64) << np.uint64(64 - shift)
    key |= o >> np.uint64(shift)
    return key, shift


def _key_ceiling(key, shift: int):
    """Largest double whose packed key (_packed_keys, same shift) equals
    `key` — never below any value that rounds to it. A bucket reaching
    into the NaN patterns (the one holding +inf) yields +inf."""
    import numpy as np

    o = (key << np.uint64(shift)) | np.uint64((1 << shift) - 1)
    b = np.where(
        o >> np.uint64(63) == 1, o ^ np.uint64(1 << 63), ~o
    ).view(np.float64)
    return np.where(np.isnan(b), np.inf, b)


def _rstar_values(pid, maxd, n, kreq_row):
    """Per-probe R* (indexed by pid; +inf where the probe's cells never
    reach k): one argsort of the packed (pid, maxd) keys, the running
    count of `n` per probe in that order, and R* = the largest double
    whose key equals the first reaching key (_key_ceiling). Keys round
    maxd down, so ties inside a key bucket may reorder, but every row
    with key <= that key has maxd <= R* and their count reaches k —
    R* is a valid radius and never below the exact one."""
    import numpy as np

    nseg = int(pid.max()) + 1
    key, shift = _packed_keys(pid, nseg, maxd)
    order = np.argsort(key)
    pid_s = pid[order]
    n_s = n[order]
    cum = np.cumsum(n_s)
    new_seg = np.empty(len(pid_s), dtype=bool)
    new_seg[0] = True
    np.not_equal(pid_s[1:], pid_s[:-1], out=new_seg[1:])
    starts = np.flatnonzero(new_seg)
    base = np.repeat(
        cum[starts] - n_s[starts], np.diff(np.r_[starts, len(pid_s)])
    )
    reach = np.flatnonzero((cum - base) >= kreq_row[order])
    rstar = np.full(nseg, np.inf)
    if len(reach):
        first = reach[np.r_[True, pid_s[reach[1:]] != pid_s[reach[:-1]]]]
        rstar[pid_s[first]] = _key_ceiling(key[order[first]], shift)
    return rstar


def _rstar_np(pid, mind, maxd, n, kreq_row):
    """Surviving pair indices (ascending) under the per-probe R* rule:
    R* = the smallest maxd whose running count over the probe's cells
    in maxd order reaches k (_rstar_values), keep mind <= R* (all
    cells kept when the corpus never reaches k — R* stays +inf). R*
    may exceed the exact one by one key quantum, which keeps a
    superset: pruning stays sound."""
    import numpy as np

    if len(pid) == 0:
        return np.empty(0, dtype=np.int64)
    return np.flatnonzero(mind <= _rstar_values(pid, maxd, n, kreq_row)[pid])


def _probe_trig(lon, lat):
    """Per-probe (lon, sinφ, cosφ, tanφ) for _bounds_fast_np (tan via
    the quotient, so no extra transcendental), lon normalized into
    [-180, 180]: the rect lower bound tests `cw <= lon <= ce`
    literally, so an out-of-range probe (lon=190) could report a
    positive lower bound for the very cell it sits in, and R* pruning
    would drop the true nearest cell. Only pruning sees the normalized
    lon: the kernels score the probe's own lon, as knn_bruteforce
    does (haversine is 360-periodic, but not to the last bit)."""
    import numpy as np

    p = np.radians(lat)
    sin_p, cos_p = np.sin(p), np.cos(p)
    return (lon + 180.0) % 360.0 - 180.0, sin_p, cos_p, sin_p / cos_p


def _prune_step(pid, trig, kreq, attrs, n):
    """One pruning step over (probe, cell) pairs: _bounds_fast_np of
    each pair's probe against its cell rect, then the per-probe R*
    rule (_rstar_np). `pid` holds dense probe codes into the per-probe
    `trig` (_probe_trig) and `kreq`; `attrs` (_rect_attrs_np) and the
    scene counts `n` are per pair. Returns the surviving pair indices,
    ascending."""
    lon, sin_p, cos_p, tan_p = trig
    a_lo, a_hi = _bounds_fast_np(
        lon[pid], sin_p[pid], cos_p[pid], tan_p[pid], attrs
    )
    return _rstar_np(pid, a_lo, a_hi, n, kreq[pid])


def _ranges_gather(starts, ends):
    """Vectorized concat of np.arange(s, e) ranges (CSR child gather)."""
    import numpy as np

    counts = ends - starts
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), counts
    rep_start = np.repeat(starts, counts)
    rep_base = np.repeat(np.cumsum(counts) - counts, counts)
    return rep_start + (np.arange(total, dtype=np.int64) - rep_base), counts


def _prep_rollup_df(stats: DataFrame, level: int, cap: int) -> DataFrame:
    """The (cell, n) stats rollup at `cap` — the bounded table the
    cascade prep collects."""
    if cap == level:
        return stats.select("cell", F.col("n_in_cell").alias("n"))
    return stats.groupBy(
        _parent_cell_col(F.col("cell"), level - cap).alias("cell")
    ).agg(F.sum("n_in_cell").alias("n"))


def _cascade_prep(
    stats: DataFrame, cent: DataFrame, level: int, cap: int | None = None
):
    """Driver-side prep for the in-kernel coarse cascade and its
    broadcast, as (prep, broadcast): ONE bounded collect of the stats
    dim rolled to the cap, then pure numpy rollups/CSRs for every
    chain level (_prep_from_arrays). The cap is `level` itself when
    the fine stats dim fits FINE_COLLECT_ROWS, else the 4^9-bounded
    level-9 rollup (at 100 TB the fine dim is corpus-sized and stays
    distributed; the rollup is bounded BY CONSTRUCTION). knn_index
    finds the cap with the collect itself (`limit(FINE_COLLECT_ROWS +
    1)`, no count); knn_index_load passes the cap its meta records.
    At cap == `level` the collected counts sum to the exact member
    count, so the residency choice needs no job: a corpus of at most
    KNN_RESIDENT_ROWS scenes has its members collected
    (_resident_members) before the prep is built, which holds them and
    prunes against their per-cell boxes."""
    import numpy as np

    def build(pdf, cap):
        cells = pdf["cell"].to_numpy(np.int64)
        order = np.argsort(cells)
        cells, ns = cells[order], pdf["n"].to_numpy(np.int64)[order]
        members = None
        if cap == level and int(ns.sum()) <= KNN_RESIDENT_ROWS:
            members = _resident_members(cent, cells, ns)
        prep = _prep_from_arrays(cells, ns, cap, members)
        return prep, stats.sparkSession.sparkContext.broadcast(prep)

    if cap is None:
        fine = (
            _prep_rollup_df(stats, level, level)
            .limit(FINE_COLLECT_ROWS + 1)
            .toPandas()
        )
        if len(fine) <= FINE_COLLECT_ROWS:
            return build(fine, level)
        cap = min(9, level)
    return build(_prep_rollup_df(stats, level, cap).toPandas(), cap)


def _resident_members(cent: DataFrame, cells, ns) -> dict:
    """The corpus members for the resident kNN kernel, in CSR form over
    the prep's sorted level cells `cells` (scene counts `ns`): member
    coordinates and ids sorted by cell, and each cell's first member
    ("start"; its range is start .. start + n). One collect of the
    centroid table, with no limit (a limit plans a single-partition
    shuffle); null-cell rows are dropped, as the union kernel's
    equi-join drops them. The collected per-cell counts must equal
    the stats': a mismatch means the stats and the centroid table come
    from different corpora (an inconsistent generation), and serving
    would be wrong, so it raises ValueError."""
    import numpy as np

    t = (
        cent.filter(F.col("cell").isNotNull())
        .select("cell", "slon", "slat", "image_id")
        .toArrow()
    )
    t = t.take(np.argsort(np.asarray(t.column("cell")), kind="stable"))
    if not np.array_equal(np.asarray(t.column("cell")), np.repeat(cells, ns)):
        raise ValueError(
            f"kNN index: the centroid table holds {t.num_rows} members, the "
            f"stats count {int(ns.sum())} (or other cells): the generation is "
            "inconsistent — rebuild the index"
        )
    return {
        "start": np.cumsum(ns) - ns,
        "slon": np.asarray(t.column("slon")),
        "slat": np.asarray(t.column("slat")),
        "image_id": t.column("image_id").combine_chunks(),
    }


def _prep_from_arrays(cells, ns, cap: int, members: dict | None = None) -> dict:
    """Build the cascade prep dict (chain, per-level rollups and prune
    rects, CSR steps, per-cell trig attrs) from the capped (cell, n)
    arrays, `cells` sorted ascending — pure numpy. With resident
    `members` (_resident_members, a CSR over `cells`) the prep holds
    them, and a cap cell's prune rect is the bounding box of its member
    centroids when that box is finite and lies inside the tile rect;
    otherwise (a NaN or null centroid, or no members) it is the tile
    rect. A coarser cell's rect is the box of its non-empty children's
    rects, so every rect contains every member under it and the
    bounds stay valid at each chain level."""
    import numpy as np

    chain = [cap]
    while chain[0] - CASCADE_STEP >= KNN_MIN_LEVEL:
        chain.insert(0, chain[0] - CASCADE_STEP)

    # rects are (cw, cs, ce, cn): boxes reduce by min, min, max, max
    mm = (np.minimum, np.minimum, np.maximum, np.maximum)
    rect = _cell_rect_np(cells, cap)
    if members is not None:
        st = members["start"]
        box = [
            f.reduceat(members[c], st)
            for f, c in zip(mm, ("slon", "slat", "slon", "slat"))
        ]
        fit = (
            np.isfinite(box).all(axis=0)
            & (box[0] >= rect[0]) & (box[1] >= rect[1])
            & (box[2] <= rect[2]) & (box[3] <= rect[3])
        )
        rect = tuple(np.where(fit, b, r) for b, r in zip(box, rect))
    levels: dict[int, tuple] = {cap: (cells, ns)}
    rects: dict[int, tuple] = {cap: rect}
    for lv in reversed(chain[:-1]):
        fcells, fns = levels[lv + CASCADE_STEP]
        anc = _parent_np(fcells, CASCADE_STEP)
        uniq, first, inv = np.unique(
            anc, return_index=True, return_inverse=True
        )
        agg = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(agg, inv, fns)
        levels[lv] = (uniq, agg)
        frects = rects[lv + CASCADE_STEP]
        rects[lv] = tuple(r[first] for r in frects)
        for f, out, r in zip(mm, rects[lv], frects):
            f.at(out, inv, r)

    steps = []  # per chain step i: CSR from chain[i] parents → chain[i+1]
    for lc, lf in zip(chain[:-1], chain[1:]):
        fcells, fns = levels[lf]
        anc = _parent_np(fcells, lf - lc)
        o = np.argsort(anc, kind="stable")
        anc_s = anc[o]
        uniq, starts = np.unique(anc_s, return_index=True)
        ends = np.r_[starts[1:], len(anc_s)]
        steps.append(
            {
                "parents": uniq,
                "starts": starts.astype(np.int64),
                "ends": ends.astype(np.int64),
                "child_cells": fcells[o],
                "child_n": fns[o],
                # per-cell trig for the fast bounds, aligned with
                # child_cells (precomputed once here instead of ~40
                # transcendentals per pair in the kernel)
                "child_attrs": _rect_attrs_np(*(r[o] for r in rects[lf])),
            }
        )
    prep = {
        "chain": chain,
        "cap": cap,
        "levels": levels,
        "rects": rects,
        "steps": steps,
        # entry-level attrs (steps carry the rest)
        "entry_attrs": _rect_attrs_np(*rects[chain[0]]),
    }
    if members is not None:
        prep["members"] = members
    return prep


def _cascade_walk(prep: dict, lon, lat, kreq):
    """The coarse-to-fine cascade over one probe batch, in numpy: every
    probe starts paired with every cell of the chain's entry level,
    and each chain level runs one _prune_step, then expands the
    surviving cells into their children through the step CSRs — no
    |probes| × |cells| table ever hits a shuffle. Returns the surviving
    (probe index, cell-at-cap) pairs, a few per probe."""
    import numpy as np

    chain, steps = prep["chain"], prep["steps"]
    cells0, n0 = prep["levels"][chain[0]]
    P = len(lon)
    trig = _probe_trig(lon, lat)
    pid = np.repeat(np.arange(P, dtype=np.int64), len(cells0))
    cell = np.tile(cells0, P)
    nn = np.tile(n0, P)
    # per-pair gathered cell attrs (entry: tiled level arrays)
    attrs = tuple(np.tile(a, P) for a in prep["entry_attrs"])
    for st in steps:
        keep = _prune_step(pid, trig, kreq, attrs, nn)
        pos = np.searchsorted(st["parents"], cell[keep])
        gat, counts = _ranges_gather(st["starts"][pos], st["ends"][pos])
        pid = np.repeat(pid[keep], counts)
        cell = st["child_cells"][gat]
        nn = st["child_n"][gat]
        attrs = tuple(a[gat] for a in st["child_attrs"])
    keep = _prune_step(pid, trig, kreq, attrs, nn)
    return pid[keep], cell[keep]


def _make_fine_refine(level: int, out_cols: list[str]):
    """mapInArrow closure for the refinement past the cascade cap: its
    input is the (probe, fine cell, n_in_cell) pairs under each
    probe's surviving level-cap cells, clustered by query_id, and each
    probe's pairs get one _prune_step at `level`. A probe's pairs may
    straddle Arrow batches, so the trailing probe of every batch is
    carried into the next: memory stays at one batch plus one probe's
    pairs."""

    def refine(batches):
        import numpy as np
        import pyarrow as pa

        def prune(tbl):
            def col(c):
                return tbl.column(c).to_numpy(zero_copy_only=False)

            qid = col("query_id")
            new = np.r_[True, qid[1:] != qid[:-1]]
            first = np.flatnonzero(new)
            keep = _prune_step(
                np.cumsum(new) - 1,
                _probe_trig(col("lon")[first], col("lat")[first]),
                col("k_req")[first],
                _cell_attrs_np(col("cell"), level),
                col("n_in_cell"),
            )
            return tbl.select(out_cols).take(pa.array(keep)).to_batches()

        carry: list = []
        for rb in batches:
            tbl = pa.Table.from_batches(carry + [rb])
            if tbl.num_rows == 0:
                continue
            qid = tbl.column("query_id").to_numpy(zero_copy_only=False)
            head = np.flatnonzero(qid != qid[-1])
            last = int(head[-1]) + 1 if len(head) else 0
            if last:
                yield from prune(tbl.slice(0, last))
            carry = tbl.slice(last).to_batches()
        if carry:
            yield from prune(pa.Table.from_batches(carry))

    return refine


def _rank_keep_seg(code, nseg: int, dist, k):
    """Boolean keep-mask over rows grouped by dense segment codes
    (0 <= code < nseg): keep a row when its packed key (_packed_keys)
    is <= its segment's k-th smallest key, read from ONE np.sort of the
    keys at the segment start found by searchsorted. `k` is a scalar
    or a per-ROW integer array (null → 0); k <= 0 keeps nothing, and a
    segment with fewer than k rows keeps all of them.

    Keys round values down monotonically, so at most k-1 keys of a
    segment lie below the key of any row whose exact distance min-rank
    is < k: the kept set is a SUPERSET of the exact rank-min<k set, the
    same set whenever values differ by more than the key quantum, and
    every boundary tie is kept."""
    import numpy as np

    n = len(code)
    if n == 0:
        return np.zeros(0, dtype=bool)
    key, shift = _packed_keys(code, nseg, dist)
    s = np.sort(key)
    starts = np.searchsorted(
        s, np.arange(nseg, dtype=np.uint64) << np.uint64(64 - shift)
    )
    counts = np.diff(np.r_[starts, n])
    # the k-th key of a segment, or its last one when it holds fewer
    # than k rows (empty segments are never looked up)
    if np.ndim(k) == 0:
        k = int(k)
        if k <= 0:
            return np.zeros(n, dtype=bool)
        kth = s[np.maximum(starts + np.minimum(k, counts) - 1, 0)]
        return key <= kth[code]
    kk = np.asarray(k)
    if kk.dtype.kind == "f":
        kk = np.nan_to_num(kk, nan=0.0).astype(np.int64)
    kth = s[starts[code] + np.clip(kk, 1, counts[code]) - 1]
    return (kk > 0) & (key <= kth)


def _rank_keep_mask(qid, dist, k):
    """Boolean keep-mask of rows whose distance min-rank within their
    query group is < k (a scalar or a per-ROW k array), ties at the
    boundary ALL retained — a provable SUPERSET of the exact per-query
    top-k. Query ids (numeric or object) become dense segment codes via
    np.unique, then _rank_keep_seg ranks with one packed-key sort. The
    Arrow-table compact (_rank_keep_tables) of the brute-force point
    and cosine top-k kernels calls it, and the resident kNN and
    union-score kernels call _rank_keep_seg on their own codes, so the
    tie convention can never desynchronize."""
    import numpy as np

    uniq, code = np.unique(qid, return_inverse=True)
    return _rank_keep_seg(code, len(uniq), dist, k)


# ---- the rank-k reduction every top-k kernel shares: each task keeps
# a per-query rank<k superset (_compact_topk), then ONE exact JVM
# aggregation keeps the top k (_exact_topk).
# _compact_topk buffers a task's scored rows until it holds this many
# (or twice the last compaction's survivors): peak memory ≈
# 2 × max(TOPK_COMPACT_ROWS, queries-in-task × k), never the whole
# candidate stream
TOPK_COMPACT_ROWS = 1_000_000
# cap on the (probe, point) distance pairs one numpy call holds in
# flight (≈ 32 MB of float64 per temporary) in the resident kNN,
# union-score and brute-force point kernels
SCORE_BLOCK_PAIRS = 4_000_000


def _pair_blocks(lo, hi, block: int):
    """The pairs of row i with members lo[i] .. hi[i] - 1 (CSR ranges),
    in blocks of at most `block` pairs: yields (row index, member
    index) arrays per block, rows ascending. A range longer than
    `block` is split over several blocks, so no block ever holds more
    than `block` pairs however dense a cell is."""
    import numpy as np

    rows = np.arange(len(lo), dtype=np.int64)
    if len(lo) and int((hi - lo).max()) > block:
        parts = np.maximum(-(-(hi - lo) // block), 1)
        rows = np.repeat(rows, parts)
        off = np.arange(len(rows)) - np.repeat(np.cumsum(parts) - parts, parts)
        lo = lo[rows] + off * block
        hi = np.minimum(lo + block, hi[rows])
    cum = np.cumsum(hi - lo)
    start = 0
    while start < len(rows):
        base = int(cum[start - 1]) if start else 0
        end = int(np.searchsorted(cum, base + block, "right"))
        gat, cnt = _ranges_gather(lo[start:end], hi[start:end])
        if len(gat):
            yield np.repeat(rows[start:end], cnt), gat
        start = end


def _compact_topk(parts, compact, floor: int):
    """Bounded doubling compaction over a stream of scored `parts`:
    buffer them until rows >= max(floor, 2 × the last compaction's
    survivors), then replace the buffer with compact(buffer) —
    amortized O(n log n) rank work. Returns compact() of what remains,
    or None for an empty stream. A part is an Arrow table or a tuple
    of equal-length arrays; len(part[0]) (a table's first column) is
    its row count either way. Kernel factories read `floor` when they
    build their closure, so the value ships with the kernel."""
    acc: list = []
    rows = last = 0
    for part in parts:
        acc.append(part)
        rows += len(part[0])
        if rows >= max(floor, 2 * last) and len(acc) > 1:
            acc = [compact(acc)]
            last = rows = len(acc[0][0])
    return compact(acc) if acc else None


def _scored_topk(lo, hi, plon, plat, mlon, mlat, code, k, block, floor):
    """The exact-haversine pairs of probe row i (plon[i], plat[i]) with
    members lo[i] .. hi[i] - 1 (mlon, mlat), in _pair_blocks of at most
    `block` pairs, reduced through _compact_topk to each segment's
    rank<k superset (_rank_keep_seg over the rows' dense segment
    `code`s and per-row `k`). Returns (row, member, dist) arrays, or
    None when there are no pairs. The resident kNN and union-score
    kernels both score through it."""
    import numpy as np

    from . import geometry as geo

    def pairs():
        for row, mem in _pair_blocks(lo, hi, block):
            yield row, mem, geo.haversine_m(
                plon[row], plat[row], mlon[mem], mlat[mem]
            )

    def compact(parts):
        row, mem, dist = (np.concatenate(a) for a in zip(*parts))
        keep = _rank_keep_seg(code[row], int(code.max()) + 1, dist, k[row])
        return row[keep], mem[keep], dist[keep]

    return _compact_topk(pairs(), compact, floor)


def _rank_keep_tables(key: str, value: str, k):
    """_compact_topk's compact for Arrow tables: concatenate, keep each
    `key` group's rank<k superset by `value` (_rank_keep_mask), filter.
    `k` is an int or the name of a per-row k column. No pandas frame
    and no Python string touches the stream: ids stay Arrow buffers."""

    def compact(parts):
        import pyarrow as pa

        t = pa.concat_tables(parts)

        def col(c):
            return t.column(c).to_numpy(zero_copy_only=False)

        keep = _rank_keep_mask(
            col(key), col(value), col(k) if isinstance(k, str) else k
        )
        return t.filter(pa.array(keep))

    return compact


def _exact_topk(
    df: DataFrame, key: str, value: str, item: str, k
) -> DataFrame:
    """The one exact top-k finalizer of the production top-k paths:
    per `key`, the first k (an int or a Column) of the sorted
    (value, item) structs — the exact total order, ties broken by
    item — as (key, rank int, item, value) rows. Its input is the
    kernels' per-task rank<k supersets, so each key's list is small.
    knn_bruteforce keeps its own copy: it is the reference this is
    checked against."""
    top = df.groupBy(key).agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct(F.col(value), F.col(item)))),
            1,
            k,
        ).alias("nn")
    )
    return top.select(key, F.posexplode("nn").alias("pos", "nn")).select(
        key,
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col(f"nn.{item}").alias(item),
        F.col(f"nn.{value}").alias(value),
    )


# the union-score exchange hashes on the PARENT cell this many levels
# up (4^2 = 16 sibling cells per key): a probe's ~7 surviving cells
# are spatially adjacent, so under parent hashing they land in 1-2
# partitions instead of ~7 — the per-task rank<k combiner then emits
# ~k rows per (query, partition) instead of k per scattered cell
# (measured 5.7M → the final aggregation's input at 100k probes under
# plain cell hashing). Two levels keeps the key space large (the
# level-11 rollup of a 1M-scene corpus has ~2.5k nonempty parents —
# 20-100× the partition count, guide §2.5) so hashing stays even.
UNION_SCORE_PARENT_DROP = 2


def _make_union_score():
    """mapInArrow closure for knn_join's union scoring path: one
    cell-hashed partition holds BOTH the corpus members (side=0: cell,
    image_id, slon, slat) and the probe candidates (side=1: cell,
    query_id, plon, plat, k_req) for its cells; the kernel equi-joins
    them in numpy (sort members by cell + searchsorted ranges), scores
    with the identical haversine kernel the brute oracle path uses,
    and emits only the per-task rank<k_req superset — the JVM boundary
    carries each input row once instead of the joined blow-up, and the
    final exact aggregation receives ≤ queries-in-task × k rows.

    Materialisation is late: the expanded pairs stay numeric
    (candidate row, member row, dist) tuples, SCORE_BLOCK_PAIRS at a
    time (_pair_blocks), through _compact_topk, ranked by
    _rank_keep_seg on segment codes taken once from the candidate rows
    (the small side); query_id, k_req and image_id are gathered only
    for the surviving pairs."""
    block, floor = SCORE_BLOCK_PAIRS, TOPK_COMPACT_ROWS

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        rbs = [rb for rb in batches if rb.num_rows]
        if not rbs:
            return
        t = pa.Table.from_batches(rbs)
        is_mem = pc.equal(t.column("side"), 0)
        m, p = t.filter(is_mem), t.filter(pc.invert(is_mem))
        if m.num_rows == 0 or p.num_rows == 0:
            return
        mc = np.asarray(m.column("cell"))
        order = np.argsort(mc, kind="stable")
        mc, pcell = mc[order], np.asarray(p.column("cell"))
        _, pcode = np.unique(np.asarray(p.column("query_id")), return_inverse=True)
        res = _scored_topk(
            np.searchsorted(mc, pcell, "left"),
            np.searchsorted(mc, pcell, "right"),
            np.asarray(p.column("plon")),
            np.asarray(p.column("plat")),
            np.asarray(m.column("slon"))[order],
            np.asarray(m.column("slat"))[order],
            pcode, np.asarray(p.column("k_req")), block, floor,
        )
        if res is not None:
            row, mem, dist = res
            row = pa.array(row)
            yield from pa.table(
                {
                    "query_id": p.column("query_id").take(row),
                    "k_req": p.column("k_req").take(row),
                    "image_id": m.column("image_id").take(pa.array(order[mem])),
                    "dist_m": pa.array(dist),
                }
            ).to_batches()

    return score


def _make_probe_kernel(bc):
    """mapInArrow closure over knn_join's probe batches (query_id, lon,
    lat, k_req). Per batch, the probes with k > 0 (a null k reads as
    0) walk the cascade (_cascade_walk). Without resident members the
    kernel emits the surviving (query_id, lon, lat, k_req, cell) pairs
    for the union kernel. With them (_resident_members) it serves the
    whole request in this one Python stage: each surviving cell's
    member range is scored (_scored_topk) and the exact top k of each
    probe's rank<k superset is emitted as (query_id, rank, image_id,
    dist_m). The exact order is the one Spark's sort_array gives the
    (dist_m, image_id) structs of _exact_topk and knn_bruteforce: NaN
    last, -0.0 equal to 0.0, ties by id, strings in binary UTF-8 order
    (Arrow's sort). A probe row is ranked on its own: rows sharing a
    query_id are not merged."""
    block, floor = SCORE_BLOCK_PAIRS, TOPK_COMPACT_ROWS

    def kern(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        prep = bc.value
        cells, ns = prep["levels"][prep["cap"]]
        mem = prep.get("members")
        for rb in batches:
            kreq = np.nan_to_num(np.asarray(rb.column("k_req"), np.float64))
            live = np.flatnonzero(kreq > 0)
            kreq = kreq[live].astype(np.int64)
            lon = np.asarray(rb.column("lon"))[live]
            lat = np.asarray(rb.column("lat"))[live]
            pid, cell = _cascade_walk(prep, lon, lat, kreq)
            qid = rb.column("query_id")
            if mem is None:
                yield pa.RecordBatch.from_arrays(
                    [qid.take(pa.array(live[pid])), pa.array(lon[pid]),
                     pa.array(lat[pid]), pa.array(kreq[pid], pa.int32()),
                     pa.array(cell)],
                    names=["query_id", "lon", "lat", "k_req", "cell"],
                )
                continue
            pos = np.searchsorted(cells, cell)
            lo = mem["start"][pos]
            res = _scored_topk(
                lo, lo + ns[pos], lon[pid], lat[pid], mem["slon"],
                mem["slat"], pid, kreq[pid], block, floor,
            )
            if res is None:
                continue
            row, m, d = res
            ids = mem["image_id"].take(pa.array(m))
            p = pid[row]
            o = pc.sort_indices(
                pa.table({"p": p, "d": d, "id": ids}),
                sort_keys=[(c, "ascending") for c in ("p", "d", "id")],
            ).to_numpy()
            p, n = p[o], len(o)
            first = np.flatnonzero(np.r_[True, p[1:] != p[:-1]])
            rank = np.arange(1, n + 1) - np.repeat(first, np.diff(np.r_[first, n]))
            keep = rank <= kreq[p]
            o = o[keep]
            yield pa.RecordBatch.from_arrays(
                [qid.take(pa.array(live[p[keep]])),
                 pa.array(rank[keep], pa.int32()), ids.take(pa.array(o)),
                 pa.array(d[o], pa.float64())],
                names=["query_id", "rank", "image_id", "dist_m"],
            )

    return kern


def _spread_probes(df: DataFrame) -> DataFrame:
    """`df`, round-robined over defaultParallelism partitions when its
    input holds fewer: both kNN kernels are embarrassingly parallel
    over probes, and a probe table read from one file would otherwise
    run as one task. The partition count is read from the planned RDD
    only when the plan holds no exchange and no subquery — there,
    building the RDD runs no job; under AQE it would run the shuffle
    stages — and a lineage holding either is left as it is (an
    exchange already spreads its rows)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    if any(t in plan for t in ("Exchange", "Subquery", "AdaptiveSparkPlan")):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if qe.toRdd().getNumPartitions() >= par:
        return df
    return df.repartition(par)


def knn_join(
    scenes: DataFrame | None,
    queries: DataFrame,
    k: int | None = None,
    level: int | None = None,
    index: KnnIndex | None = None,
) -> DataFrame:
    """J3: exact k nearest scenes (footprint-centroid haversine) per query.

    Without an ``index`` the call builds one inline (knn_index);
    ``level=None`` (default) lets it pick the banding level from
    measured corpus density, with the k hint from one aggregate over
    the small probe table (the literal `k` when given). Pass a
    prebuilt ``index`` (knn_index or knn_index_load) to serve repeated
    probe batches without rebuilding the corpus stats, the cascade
    prep or the resident members; `scenes`/`level` are then ignored
    and planning the request runs no job.

    One-pass cell-stats pruning — no iteration, no driver-side loop:

      1. Scene centroids key to web-mercator cells at ``level``; a tiny
         per-cell stats dim (cell, scene count) is derived with one
         groupBy. Nonempty cells are bounded by corpus geometry
         (≤ 4^level). Each cell's prune rect is the bounding box of its
         member centroids when the members are resident, else its tile
         rect, which derives from the key alone; a coarser cell's rect
         is the box of its children's (_prep_from_arrays).
      2. per (probe, cell) pair, a provable LOWER bound on the
         distance from the probe to anywhere in the cell's prune rect
         (wrapped lon clamp; the candidate latitudes on a meridian edge
         are its endpoints plus the stationary point
         atan(tan(lat)/cos(Δλ)) — the min over those is the exact
         point-to-spherical-rect distance) and an UPPER bound (the max
         over the same candidates at the largest lon gap), both in
         haversine-argument space (_bounds_fast_np). Every member lies
         in its cell's rect, so both bound every member's distance;
         the member box is ~2 % of a level-8 tile on a clustered
         Landsat-style corpus, so its bounds are much tighter.
      3. per probe, R* = the smallest upper bound whose running scene
         count reaches k (cells ordered by upper bound): ≥ k scenes
         provably lie within R*, so any cell whose lower bound exceeds
         R* cannot contain a top-k scene and is pruned. Out-of-extent
         probes therefore touch only the corpus-edge cells — there is
         no full-scan fallback.
      4. surviving (probe, cell) pairs meet the scenes of their cell
         and are scored with the exact haversine of knn_bruteforce.
         When the index's prep holds the corpus members (the prep
         reaches `level` and the corpus fits KNN_RESIDENT_ROWS), the
         whole request is ONE mapInArrow over the probes
         (_make_probe_kernel): walk, gather, score and exact top k per
         batch — no exchange, no join, no JVM aggregation. Otherwise
         members and pairs union into one cell-hashed exchange,
         _make_union_score joins them in numpy and keeps a per-task
         rank<k_req superset (_compact_topk), and one exact
         (dist_m, image_id) total-order aggregation keeps the top k
         (_exact_topk), so no hotspot cell's candidate list reaches a
         single final-agg key. Either way a scoring block holds at most
         SCORE_BLOCK_PAIRS pairs.

    1e-9-relative + 1e-14-absolute margins on both bounds absorb FP
    rounding, so the pruning never excludes a true neighbor. Stage 2's
    |probes| × |cells| pair table is the scaling knob: steps 2-3 run
    as a coarse-to-fine walk (one-level steps from KNN_MIN_LEVEL down;
    a single step when `level` ≤ KNN_MIN_LEVEL) INSIDE the probe
    kernel over bounded rollups of the stats dim (_cascade_walk) —
    exact at every step (parent rects contain their children's and
    counts aggregate), and no |probes| × |cells| table ever reaches a
    shuffle (r6; the r5 DataFrame-stage chain shuffled ~60 GB at 1M
    probes). The walk descends to `level` itself when the fine stats
    dim fits FINE_COLLECT_ROWS, else to the 4^9-bounded level-9
    rollup (the cap the index's prep was built at); the survivors'
    fine cells then join from the distributed stats dim and a second
    Arrow kernel, grouped by probe, runs the same pruning step at
    `level` (_make_fine_refine) before the union kernel scores.
    """
    # element_at/slice ordinals must be INT (queries may carry k as long)
    kcol = (F.lit(k) if k is not None else F.col("k")).cast("int")
    if index is None:
        if level is not None:
            index = knn_index(scenes, level=level)
        else:
            # the auto level's k hint: the literal k, else ONE
            # aggregate job over the (narrow) probe table
            gk = k if k is not None else queries.agg(F.max(kcol)).first()[0]
            index = knn_index(scenes, k_hint=int(gk or 1))
    level, sc, stats = index.level, index.cent, index.stats
    prep, bc = index.prep
    q = _spread_probes(
        queries.select(
            "query_id",
            F.col("lon").cast("double").alias("lon"),
            F.col("lat").cast("double").alias("lat"),
            kcol.alias("k_req"),
        )
    )
    # output schemas DERIVED from the inputs (r5 review): a hardcoded
    # "query_id long" crashed mid-job for int32/string probe ids that
    # knn_bruteforce (the documented oracle twin) accepts
    qid_t = q.schema["query_id"].dataType.simpleString()
    id_t = sc.schema["image_id"].dataType.simpleString()
    kern = _make_probe_kernel(bc)
    if "members" in prep:
        return q.mapInArrow(
            kern, f"query_id {qid_t}, rank int, image_id {id_t}, dist_m double"
        )

    # ---- union path: the probe kernel emits the surviving
    # (probe, cell-at-cap) pairs. When the FINE stats dim fits
    # FINE_COLLECT_ROWS it walks all the way to `level`; on a corpus
    # whose fine dim is too big to collect (the 100-TB case) it stops
    # at the level-9 rollup, and the fine refinement joins the
    # distributed stats dim on pcell — the unbounded side never leaves
    # the cluster.
    cand_schema = T.StructType(q.schema.fields + [T.StructField("cell", T.LongType())])
    cand = q.mapInArrow(kern, cand_schema)
    if prep["cap"] < level:
        # the stats side is corpus-sized here (that is WHY the kernel
        # stopped at the rollup): no broadcast hint — AQE picks
        # broadcast at runtime iff it actually fits
        fine = stats.select(
            "cell",
            "n_in_cell",
            _parent_cell_col(F.col("cell"), level - prep["cap"]).alias(
                "pcell"
            ),
        )
        cand = (
            cand.withColumnRenamed("cell", "pcell")
            .join(fine, "pcell")
            .repartition("query_id")
            .sortWithinPartitions("query_id")
            .mapInArrow(
                _make_fine_refine(level, cand_schema.names), cand_schema
            )
        )

    # ---- union-kernel scoring (r7, guide §8/§4): ships the two INPUT
    # tables — corpus members (one row per scene: cell, image_id,
    # slon, slat) and probe candidates (one row per surviving
    # (probe, cell) pair) — through one hash exchange on the parent
    # cell into a mapInArrow kernel that equi-joins and scores them in
    # numpy. Boundary rows are |members| + |candidates|, never the
    # joined blow-up (15.5M → 1.7M rows at 100k probes / 1M scenes
    # against the r6 JVM join), and the per-task rank-min combiner
    # sees each cell's full population co-located, so its output is
    # ≤ queries-in-task × k.
    members = sc.select(
        "cell", "image_id", "slon", "slat", F.lit(0).cast("tinyint").alias("side")
    )
    probes_u = cand.select(
        "cell",
        "query_id",
        F.col("lon").alias("plon"),
        F.col("lat").alias("plat"),
        "k_req",
        F.lit(1).cast("tinyint").alias("side"),
    )
    # each side's missing columns union in as typed nulls;
    # keyless-column repartition: partition count comes from
    # spark.sql.shuffle.partitions (scale it with the cluster, not a
    # constant), and AQE may coalesce small outputs
    both = members.unionByName(
        probes_u, allowMissingColumns=True
    ).repartition(_parent_cell_col(F.col("cell"), UNION_SCORE_PARENT_DROP))
    pruned = both.mapInArrow(
        _make_union_score(),
        f"query_id {qid_t}, k_req int, image_id {id_t}, dist_m double",
    )
    return _exact_topk(
        pruned, "query_id", "dist_m", "image_id", F.max("k_req")
    )


def knn_bruteforce_points(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    point_id: str,
    px: str,
    py: str,
    probe_id: str,
    qx: str,
    qy: str,
) -> DataFrame:
    """Exact brute-force kNN of a bounded probe table against an
    arbitrarily large point table, fused into one blocked Arrow kernel
    (r7, guide §4.2/§8).

    The r6 shape (cross join with a broadcast probe side → JVM
    haversine → pandas groupby-head combiner) computed the right
    distances but materialized |points| × |probes| JVM rows and
    shipped ALL of them through the Python boundary to the combiner —
    at sf0.1 that is 15M rows and ~5 s, almost entirely boundary
    transfer and pandas group overhead. Here only the POINT rows cross
    (15k rows at sf0.1): the probe table — bounded by the same
    contract that let the old plan broadcast it — is collected once
    and closed over, each Arrow batch computes the |batch| × |probes|
    haversine matrix in numpy (row-chunked to SCORE_BLOCK_PAIRS), a
    per-probe np.partition threshold trims each block, and the shared
    reduction keeps the per-task rank<k superset (ties retained,
    _compact_topk). The final exact (dist, id) total-order top-k is
    the aggregation every production kNN path ends with (_exact_topk),
    so results are identical row-for-row to the cross-join plan. Past
    KNN_PROBE_BROADCAST_LIMIT probes it raises ValueError instead of
    collecting the probe table.

    The distance kernel is geometry.haversine_m — the proven
    oracle-exact formula (radians first, subtract after)."""
    import numpy as np

    from pyspark.sql.pandas.types import to_arrow_type

    spark = points.sparkSession
    p_fields = {f.name: f.dataType for f in points.schema.fields}
    q_fields = {f.name: f.dataType for f in probes.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField(probe_id, q_fields[probe_id]),
            T.StructField(point_id, p_fields[point_id]),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )
    prows = (
        probes.select(probe_id, qx, qy)
        .limit(KNN_PROBE_BROADCAST_LIMIT + 1)
        .collect()
    )
    if len(prows) > KNN_PROBE_BROADCAST_LIMIT:
        raise ValueError(
            f"knn_bruteforce_points: more than KNN_PROBE_BROADCAST_LIMIT="
            f"{KNN_PROBE_BROADCAST_LIMIT} probes; the probe table is "
            "collected to the driver — use knn_join for larger probe sets"
        )
    if not prows:
        empty = spark.createDataFrame([], out_schema)
        return empty.select(
            probe_id,
            F.lit(1).cast("int").alias("rank"),
            point_id,
            "dist_m",
        ).limit(0)
    pid_np = np.array([r[0] for r in prows])
    qx_np = np.array([float(r[1]) for r in prows], dtype=np.float64)
    qy_np = np.array([float(r[2]) for r in prows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((pid_np, qx_np, qy_np))
    # the ids array's numpy dtype need not match the declared column
    # (an int32 id collects as int64) — mapInArrow needs the exact type
    qid_type = to_arrow_type(q_fields[probe_id])

    block, floor = SCORE_BLOCK_PAIRS, TOPK_COMPACT_ROWS

    def kern(batches):
        import pyarrow as pa

        ids, xs, ys = bc.value
        chunk = max(1, block // len(ids))

        def blocks():
            for rb in batches:
                X = rb.column(px).to_numpy(zero_copy_only=False)
                Y = rb.column(py).to_numpy(zero_copy_only=False)
                for s in range(0, len(X), chunk):
                    e = min(s + chunk, len(X))
                    # (nq, chunk) matrix — same scalar formula per cell
                    # as the 1-D kernel (broadcasting only shapes loops)
                    D = geo.haversine_m(
                        xs[:, None], ys[:, None], X[None, s:e], Y[None, s:e]
                    )
                    kk = min(k, e - s)
                    kth = np.partition(D, kk - 1, axis=1)[:, kk - 1 : kk]
                    pi, ci = np.nonzero(D <= kth)
                    yield pa.table(
                        {
                            "__p": pa.array(pi.astype(np.int64)),
                            point_id: rb.column(point_id).take(
                                pa.array(ci + s)
                            ),
                            "dist_m": pa.array(D[pi, ci], pa.float64()),
                        }
                    )

        t = _compact_topk(
            blocks(), _rank_keep_tables("__p", "dist_m", k), floor
        )
        if t is not None:
            pidx = t.column("__p").to_numpy(zero_copy_only=False)
            out = pa.table(
                {
                    probe_id: pa.array(ids[pidx]).cast(qid_type),
                    point_id: t.column(point_id),
                    "dist_m": t.column("dist_m"),
                }
            )
            yield from out.to_batches()

    pruned = points.select(point_id, px, py).mapInArrow(
        kern, schema=out_schema
    )
    return _exact_topk(pruned, probe_id, "dist_m", point_id, k)


@pandas_udf(T.DoubleType())
def _haversine_m_udf(
    lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series
) -> pd.Series:
    return pd.Series(
        geo.haversine_m(
            lon1.to_numpy("float64"),
            lat1.to_numpy("float64"),
            lon2.to_numpy("float64"),
            lat2.to_numpy("float64"),
        )
    )


def knn_bruteforce(
    scenes: DataFrame, queries: DataFrame, k: int | None = None
) -> DataFrame:
    """Exact kNN oracle path: broadcast cross join + sorted-struct top-k."""
    cent = _scene_centroids(scenes)
    # element_at/slice ordinals must be INT (queries may carry k as long)
    kcol = (F.lit(k) if k is not None else F.col("k")).cast("int")
    scored = cent.crossJoin(F.broadcast(queries)).withColumn(
        "dist_m", _haversine_m_udf("lon", "lat", "slon", "slat")
    )
    topk = scored.groupBy("query_id").agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct(F.col("dist_m"), F.col("image_id")))
            ),
            1,
            F.max(kcol),
        ).alias("nn")
    )
    return topk.select(
        "query_id", F.posexplode("nn").alias("pos", "nn")
    ).select(
        "query_id",
        (F.col("pos") + 1).alias("rank"),
        F.col("nn.image_id").alias("image_id"),
        F.col("nn.dist_m").alias("dist_m"),
    )


# --------------------------------------------------- raster ↔ vector join
def raster_vector_join(
    scenes: DataFrame, vectors: DataFrame, zoom: int,
    salt_buckets: int = 8,
) -> DataFrame:
    """J4: scene footprints × vector polygons via quadkey co-membership.

    Both sides explode through the same fused kernel, then a hash
    equi-join on quadkey — the canonical raster↔vector plan at scale
    (pre-partitionable, no geometry in the join itself).

    Skew (r4 — VERDICT r3 'Next' #6): a dense coastal cell holding
    many scenes × many features concentrates that cell's entire
    within-cell cross product in ONE shuffle key. The scene side
    therefore carries salt = hash(image_id) % salt_buckets and the
    (orders-of-magnitude smaller) vector side replicates across all
    salts, so a hot cell's work spreads over salt_buckets tasks while
    the emitted pair multiset is IDENTICAL — each scene row joins
    under exactly one salt. The output's size is inherent to the
    semantics (every co-located pair); salting bounds per-task time,
    not result cardinality. salt_buckets=1 disables."""
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1 (got {salt_buckets})")
    s_qk = udfs.explode_to_quadkeys(
        scenes, zoom, passthrough=["image_id"]
    ).select(
        "cell",
        "image_id",
        F.pmod(F.xxhash64("image_id"), F.lit(salt_buckets))
        .cast("int")
        .alias("salt"),
    )
    v_qk = udfs.ring_to_quadkeys(vectors, zoom, "feature_id").select(
        "cell",
        "feature_id",
        F.explode(
            F.array(*[F.lit(i) for i in range(salt_buckets)])
        ).alias("salt"),
    )
    joined = s_qk.join(v_qk, ["cell", "salt"])
    return joined.selectExpr(
        f"{cell_quadkey_sql('cell')} AS quadkey", "image_id", "feature_id"
    )


def assets_for_tiles(
    assign: DataFrame, requests: DataFrame, z: int, quadkey_zoom: int
) -> DataFrame:
    """Batched tile-read path: a requests table (tx, ty) at zoom `z` →
    (tx, ty, assets) via joins against the assignments table — the
    tiler-at-scale shape (one DataFrame plan, no per-request driver
    round trip).

    The mosaicJSON consumer contract, as in the public cogeo-mosaic
    backend's get_assets: z ≥ quadkey_zoom resolves each request to its
    ANCESTOR quadkey; z < quadkey_zoom unions DESCENDANT quadkeys in
    quadkey order, de-duplicating assets on first appearance (sort_array of (quadkey, assets) structs → flatten →
    array_distinct, which keeps first occurrences). Requests with no
    coverage get an empty asset list. One zoom level per call — the
    batch-render contract — so every join is a broadcast equi-join."""
    n = 1 << z
    in_grid = F.col("tx").between(0, n - 1) & F.col("ty").between(0, n - 1)
    # a tile outside the grid would alias onto a real tile once its
    # bits are packed, so fail loudly
    req = requests.select(
        F.when(
            F.assert_true(
                in_grid,
                f"assets_for_tiles: a tile request is outside the zoom-{z} "
                f"grid [0, {n})",
            ).isNull(),
            F.col("tx"),
        ).alias("tx"),
        "ty",
    )
    if z >= quadkey_zoom:
        shift = z - quadkey_zoom
        qk = tile_quadkey_col(
            f"shiftright(tx, {shift})", f"shiftright(ty, {shift})", quadkey_zoom
        )
        keyed = req.withColumn("quadkey", qk)
        # outer joins can only broadcast the NON-preserved side, so a
        # broadcast hint on the preserved request side would be silently
        # dropped and the full assignments table would shuffle. Instead:
        # semi-filter assignments by the broadcast requests (small
        # result), then left-join THAT small side broadcast under the
        # preserved requests.
        rel = assign.select("quadkey", "assets").join(
            F.broadcast(keyed.select("quadkey")), "quadkey", "left_semi"
        )
        hit = keyed.join(F.broadcast(rel), "quadkey", "left")
        return hit.select(
            "tx",
            "ty",
            F.coalesce(
                "assets", F.array().cast("array<string>")
            ).alias("assets"),
        )
    keyed = req.withColumn("prefix", tile_quadkey_col("tx", "ty", z))
    pref_assign = assign.select(
        F.substring("quadkey", 1, z).alias("prefix"), "quadkey", "assets"
    )
    merged = (
        F.broadcast(keyed)
        .join(pref_assign, "prefix")
        .groupBy("tx", "ty")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("quadkey", "assets"))
                        ),
                        lambda s: s["assets"],
                    )
                )
            ).alias("assets")
        )
    )
    # merged is ≤ |requests| rows → broadcastable as the non-preserved
    # side of the left join
    return req.join(F.broadcast(merged), ["tx", "ty"], "left").select(
        "tx",
        "ty",
        F.coalesce("assets", F.array().cast("array<string>")).alias("assets"),
    )
