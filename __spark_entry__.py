"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2 +
the training-data pipeline ops) over the driver's parquet tables;
``oracle_sql()`` holds the ANSI-SQL twin of each query for the DuckDB
side-by-side check. Geospatial kernels run on DETERMINISTIC DERIVED
coordinates (integer arithmetic on keys → exact float64 in both
engines), so the mercator/quadkey/PIP/haversine math itself is what the
oracle verifies. Mosaic-build / image ops that SQL can't express are
exposed as rows-only entries (their byte-level oracle lives in
tests/golden + tests/oracle.py).
"""

import hashlib
import os
import sys
from collections.abc import Callable

import pandas as pd

# Python workers must be able to import mosaic_engine no matter where
# the driver process was launched from (spark-submit --py-files is the
# cluster equivalent of this)
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
_prev = os.environ.get("PYTHONPATH", "")
if _REPO not in _prev.split(os.pathsep):
    os.environ["PYTHONPATH"] = f"{_REPO}{os.pathsep}{_prev}" if _prev else _REPO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mosaic_engine import annops, ops, textops
from mosaic_engine.geometry import EARTH_RADIUS_M
from mosaic_engine.textops import P, POW31, token_code_sql
from mosaic_engine.tilemath import LL_EPSILON

# constants imported from the modules that OWN them (r4 review): tuning
# tilemath.LL_EPSILON or the earth radius must move engine and oracle
# together, or cover/distance mismatches masquerade as engine bugs
Z_TILE = 8
Z_ANTI = 6


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make mosaic_engine importable in Python workers no matter how the
    harness built the session (PYTHONPATH env only helps if it was set
    BEFORE the JVM launched, and worker cwd may not be the repo):
    zip the package once per process and sc.addPyFile it per context —
    the local equivalent of `spark-submit --py-files`."""
    sc = spark.sparkContext
    key = sc.applicationId  # unique per context (id() can be reused)
    if key in _SHIPPED:
        return
    import hashlib
    import tempfile
    import zipfile

    # the cache key is a CONTENT hash of the package sources, not the
    # pid (r6 review): a recycled pid in a later process found the old
    # process's zip by existence check and shipped STALE code to the
    # workers after a source edit — same scheme as _mm_fixture_path
    pkg = os.path.join(_REPO, "mosaic_engine")
    srcs = sorted(
        fn for fn in os.listdir(pkg) if fn.endswith(".py")
    )
    h = hashlib.sha256()
    for fn in srcs:
        with open(os.path.join(pkg, fn), "rb") as f:
            h.update(fn.encode())
            h.update(f.read())
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"mosaic_engine_pyfiles_{h.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        # unique tmp + atomic rename (r4 review): a concurrent driver
        # thread must never addPyFile a partially-written zip
        import threading

        tmp = f"{zpath}.{threading.get_ident()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for fn in srcs:
                z.write(
                    os.path.join(pkg, fn),
                    arcname=os.path.join("mosaic_engine", fn),
                )
        os.replace(tmp, zpath)
    try:
        sc.addPyFile(zpath)
        _SHIPPED.add(key)  # only on success — a failure retries next call
    except Exception:
        pass  # unsupported context — the PYTHONPATH fallback applies


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ship_package(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# deterministic derived coordinates (identical integer→float arithmetic in
# Spark and DuckDB; offsets keep points off tile boundaries & clamp zones)
# --------------------------------------------------------------------------
def _event_points(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        ((F.pmod(F.col("event_id") * 7919, F.lit(36000))) / 100.0 - 180.0 + 0.005).alias("lon"),
        ((F.pmod(F.col("event_id") * 104729, F.lit(16900))) / 100.0 - 84.5 + 0.005).alias("lat"),
    )


EVENT_POINTS_SQL = (
    "SELECT event_id, "
    "((event_id * 7919) % 36000) / CAST(100.0 AS DOUBLE) - 180.0 + 0.005 AS lon, "
    "((event_id * 104729) % 16900) / CAST(100.0 AS DOUBLE) - 84.5 + 0.005 AS lat "
    "FROM events"
)


def _customer_points(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_nationkey",
        ((F.pmod(F.col("c_custkey") * 3571, F.lit(34000))) / 100.0 - 170.0 + 0.003).alias("px"),
        ((F.pmod(F.col("c_custkey") * 7919, F.lit(16000))) / 100.0 - 80.0 + 0.003).alias("py"),
    )


CUSTOMER_POINTS_SQL = (
    "SELECT c_custkey, c_nationkey, "
    "((c_custkey * 3571) % 34000) / CAST(100.0 AS DOUBLE) - 170.0 + 0.003 AS px, "
    "((c_custkey * 7919) % 16000) / CAST(100.0 AS DOUBLE) - 80.0 + 0.003 AS py "
    "FROM customer"
)


def _supplier_points(spark, sf_dir, x: str = "qx", y: str = "qy"):
    """Probe-point lattice derived from supplier — the ONE definition
    shared by the brute and banded kNN lanes (r5 review: the expression
    appeared four times and a single-site edit would desync engine from
    oracle)."""
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        ((F.pmod(F.col("s_suppkey") * 4409, F.lit(34000))) / 100.0 - 170.0 + 0.007).alias(x),
        ((F.pmod(F.col("s_suppkey") * 6397, F.lit(16000))) / 100.0 - 80.0 + 0.007).alias(y),
    )


def _supplier_points_sql(x: str = "qx", y: str = "qy") -> str:
    return (
        "SELECT s_suppkey, "
        f"((s_suppkey * 4409) % 34000) / CAST(100.0 AS DOUBLE) - 170.0 + 0.007 AS {x}, "
        f"((s_suppkey * 6397) % 16000) / CAST(100.0 AS DOUBLE) - 80.0 + 0.007 AS {y} "
        "FROM supplier"
    )


def _hav_sql(qx: str, qy: str, px: str, py: str) -> str:
    """radians() FIRST, subtract AFTER — the exact op order of
    geometry.haversine_m. radians(a - b) differs
    in the last ULP for ~43% of pairs, which could flip a near-tie
    rank or a round(_, 3) boundary (r4 review; factored r5)."""
    return (
        f"2.0 * {EARTH_RADIUS_M} * asin(sqrt(least("
        f"sin((radians({py}) - radians({qy})) / 2.0) * "
        f"sin((radians({py}) - radians({qy})) / 2.0) + "
        f"cos(radians({qy})) * cos(radians({py})) * "
        f"sin((radians({px}) - radians({qx})) / 2.0) * "
        f"sin((radians({px}) - radians({qx})) / 2.0), 1.0)))"
    )


def _tile_sql(lon: str, lat: str, z: int, out_x: str, out_y: str) -> str:
    """SQL twin of tilemath.lonlat_to_tile (mercantile semantics)."""
    z2 = 1 << z
    return (
        f"least(CASE WHEN ({lon})/360.0 + 0.5 <= 0 THEN 0 "
        f"WHEN ({lon})/360.0 + 0.5 >= 1 THEN {z2 - 1} "
        f"ELSE CAST(floor((({lon})/360.0 + 0.5 + 1e-14) * {z2}) AS BIGINT) END, {z2 - 1}) AS {out_x}, "
        f"least(CASE WHEN 0.5 - 0.25 * ln((1.0 + sin(radians({lat}))) / (1.0 - sin(radians({lat})))) / pi() <= 0 THEN 0 "
        f"WHEN 0.5 - 0.25 * ln((1.0 + sin(radians({lat}))) / (1.0 - sin(radians({lat})))) / pi() >= 1 THEN {z2 - 1} "
        f"ELSE CAST(floor((0.5 - 0.25 * ln((1.0 + sin(radians({lat}))) / (1.0 - sin(radians({lat})))) / pi() + 1e-14) * {z2}) AS BIGINT) END, {z2 - 1}) AS {out_y}"
    )


def _quadkey_sql(x: str, y: str, z: int) -> str:
    digits = " || ".join(
        f"CAST((({x} >> {z - i}) & 1) + 2 * (({y} >> {z - i}) & 1) AS VARCHAR)"
        for i in range(1, z + 1)
    )
    return f"({digits})"


_TILE_XY_UDFS: dict = {}


def _tile_xy_udf(z: int):
    """Per-zoom cached lon/lat → (tx, ty) pandas_udf, so repeated query
    calls reuse one wrapper instead of rebuilding it each time."""
    if z not in _TILE_XY_UDFS:
        import pandas as pd
        from pyspark.sql import types as T
        from pyspark.sql.functions import pandas_udf

        from mosaic_engine import tilemath as tm

        @pandas_udf(T.StructType([
            T.StructField("tx", T.LongType()),
            T.StructField("ty", T.LongType()),
        ]))
        def tile_xy(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
            xs, ys = tm.lonlat_to_tile(lon.to_numpy(), lat.to_numpy(), z)
            return pd.DataFrame({"tx": xs, "ty": ys})

        _TILE_XY_UDFS[z] = tile_xy
    return _TILE_XY_UDFS[z]


def _tile_assign_df(spark, sf_dir, z=Z_TILE, source="events"):
    tile_xy = _tile_xy_udf(z)
    if source != "events":
        raise ValueError(f"unknown point source {source!r}")
    pts = _event_points(spark, sf_dir)
    d = pts.withColumn("t", tile_xy("lon", "lat")).select(
        "event_id", "lon", "lat", F.col("t.tx").alias("tx"), F.col("t.ty").alias("ty")
    )
    return d.withColumn("quadkey", ops.tile_quadkey_col("tx", "ty", z))


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------
def q_geo_tile_assign(spark, sf_dir):
    return _tile_assign_df(spark, sf_dir).select("event_id", "tx", "ty", "quadkey")


def sql_geo_tile_assign():
    return (
        f"WITH pts AS ({EVENT_POINTS_SQL}), "
        f"t AS (SELECT event_id, {_tile_sql('lon', 'lat', Z_TILE, 'tx', 'ty')} FROM pts) "
        f"SELECT event_id, tx, ty, {_quadkey_sql('tx', 'ty', Z_TILE)} AS quadkey FROM t"
    )


def q_geo_quadkey_agg(spark, sf_dir):
    d = _tile_assign_df(spark, sf_dir)
    return d.groupBy("quadkey").agg(
        F.count("*").alias("n_points"),
        F.min("event_id").alias("min_event"),
        F.max("event_id").alias("max_event"),
    )


def sql_geo_quadkey_agg():
    return (
        f"WITH pts AS ({EVENT_POINTS_SQL}), "
        f"t AS (SELECT event_id, {_tile_sql('lon', 'lat', Z_TILE, 'tx', 'ty')} FROM pts) "
        f"SELECT {_quadkey_sql('tx', 'ty', Z_TILE)} AS quadkey, "
        f"count(*) AS n_points, min(event_id) AS min_event, max(event_id) AS max_event "
        f"FROM t GROUP BY 1"
    )


def q_geo_cover_count(spark, sf_dir):
    """Bbox → web-mercator tile-cover size (G2 cover_ranges kernel)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from mosaic_engine import tilemath as tm

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        ((F.pmod(F.col("p_partkey") * 7, F.lit(300))) - 160.0 + 0.001).alias("w"),
        ((F.pmod(F.col("p_partkey") * 13, F.lit(120))) - 65.0 + 0.001).alias("s"),
    ).select(
        "p_partkey", "w", "s",
        (F.col("w") + 3.7).alias("e"), (F.col("s") + 2.9).alias("n"),
    )

    @pandas_udf(T.LongType())
    def cover_count(w: pd.Series, s: pd.Series, e: pd.Series, n: pd.Series) -> pd.Series:
        x0, x1, y0, y1 = tm.cover_ranges(
            w.to_numpy(), s.to_numpy(), e.to_numpy(), n.to_numpy(), Z_TILE
        )
        return pd.Series((x1 - x0 + 1) * (y1 - y0 + 1))

    return part.select(
        "p_partkey", cover_count("w", "s", "e", "n").alias("n_tiles")
    )


def sql_geo_cover_count():
    return (
        "WITH b AS (SELECT p_partkey, "
        "((p_partkey * 7) % 300) - CAST(160.0 AS DOUBLE) + 0.001 AS w, "
        "((p_partkey * 13) % 120) - CAST(65.0 AS DOUBLE) + 0.001 AS s, "
        "((p_partkey * 7) % 300) - CAST(160.0 AS DOUBLE) + 0.001 + 3.7 AS e, "
        "((p_partkey * 13) % 120) - CAST(65.0 AS DOUBLE) + 0.001 + 2.9 AS n FROM part), "
        f"ul AS (SELECT p_partkey, {_tile_sql('w', 'n', Z_TILE, 'x0', 'y0')} FROM b), "
        f"lr AS (SELECT p_partkey, {_tile_sql(f'e - {LL_EPSILON}', f's + {LL_EPSILON}', Z_TILE, 'x1', 'y1')} FROM b) "
        "SELECT ul.p_partkey AS p_partkey, (x1 - x0 + 1) * (y1 - y0 + 1) AS n_tiles "
        "FROM ul JOIN lr ON ul.p_partkey = lr.p_partkey"
    )


def q_geo_bbox_filter(spark, sf_dir):
    """F1 bbox-intersect predicate (Catalyst pushdown path)."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        ((F.pmod(F.col("p_partkey") * 7, F.lit(300))) - 160.0 + 0.001).alias("min_lon"),
        ((F.pmod(F.col("p_partkey") * 13, F.lit(120))) - 65.0 + 0.001).alias("min_lat"),
    ).select(
        "p_partkey", "min_lon", "min_lat",
        (F.col("min_lon") + 3.7).alias("max_lon"),
        (F.col("min_lat") + 2.9).alias("max_lat"),
    )
    w, s, e, n = -60.0, -10.0, 40.0, 35.0
    return part.filter(
        (F.col("min_lon") < e) & (F.col("max_lon") > w)
        & (F.col("min_lat") < n) & (F.col("max_lat") > s)
    )


def sql_geo_bbox_filter():
    return (
        "WITH b AS (SELECT p_partkey, "
        "((p_partkey * 7) % 300) - CAST(160.0 AS DOUBLE) + 0.001 AS min_lon, "
        "((p_partkey * 13) % 120) - CAST(65.0 AS DOUBLE) + 0.001 AS min_lat, "
        "((p_partkey * 7) % 300) - CAST(160.0 AS DOUBLE) + 0.001 + 3.7 AS max_lon, "
        "((p_partkey * 13) % 120) - CAST(65.0 AS DOUBLE) + 0.001 + 2.9 AS max_lat FROM part) "
        "SELECT * FROM b WHERE min_lon < 40.0 AND max_lon > -60.0 "
        "AND min_lat < 35.0 AND max_lat > -10.0"
    )


def q_geo_anti_join(spark, sf_dir):
    """J5 anti join: event quadkeys not covered by customer quadkeys (z6)."""
    tile_xy = _tile_xy_udf(Z_ANTI)

    def quadkeys(pts, lon, lat):
        t = pts.select(tile_xy(lon, lat).alias("t"))
        return t.select(
            ops.tile_quadkey_col("t.tx", "t.ty", Z_ANTI).alias("quadkey")
        ).distinct()

    ev = quadkeys(_event_points(spark, sf_dir), "lon", "lat")
    cu = quadkeys(_customer_points(spark, sf_dir), "px", "py")
    return ev.join(cu, "quadkey", "left_anti")


def sql_geo_anti_join():
    ev = (
        f"SELECT DISTINCT {_quadkey_sql('tx', 'ty', Z_ANTI)} AS quadkey FROM "
        f"(SELECT {_tile_sql('lon', 'lat', Z_ANTI, 'tx', 'ty')} FROM ({EVENT_POINTS_SQL}))"
    )
    cu = (
        f"SELECT DISTINCT {_quadkey_sql('tx', 'ty', Z_ANTI)} AS quadkey FROM "
        f"(SELECT {_tile_sql('px', 'py', Z_ANTI, 'tx', 'ty')} FROM ({CUSTOMER_POINTS_SQL}))"
    )
    return f"SELECT quadkey FROM ({ev}) WHERE quadkey NOT IN ({cu})"


def q_geo_pip(spark, sf_dir):
    """G8 point-in-polygon: customer points vs their nation's ring."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from mosaic_engine import geometry as geo

    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        ((F.pmod(F.col("n_nationkey") * 15, F.lit(300))) - 160.0).alias("x0"),
        ((F.pmod(F.col("n_nationkey") * 7, F.lit(100))) - 50.0).alias("y0"),
    )
    pts = _customer_points(spark, sf_dir).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )

    @pandas_udf(T.BooleanType())
    def pip(px: pd.Series, py: pd.Series, x0: pd.Series, y0: pd.Series) -> pd.Series:
        x0v = x0.to_numpy(np.float64)
        y0v = y0.to_numpy(np.float64)
        # rings built by broadcasting, not per-row list comps (r6
        # review): all rings here are 5-vertex, so the padded matrices
        # points_in_polys wants come straight from np.stack
        RX = np.stack(
            [x0v, x0v + 8.0, x0v + 9.5, x0v + 1.5, x0v], axis=1
        )
        RY = np.stack([y0v, y0v, y0v + 6.0, y0v + 6.0, y0v], axis=1)
        return pd.Series(
            geo.points_in_polys(px.to_numpy(np.float64), py.to_numpy(np.float64), RX, RY)
        )

    return pts.select(
        "c_custkey", pip("px", "py", "x0", "y0").alias("inside")
    )


def sql_geo_pip():
    # PINNED INVARIANT (r5 review): this twin is pure crossing-number,
    # while the engine kernel (geometry.points_in_polys) ALSO counts a
    # point ON a ring edge/vertex as inside (shapely-intersects, eps
    # 1e-12). The twins agree only because the +0.003 customer-point
    # offsets keep every point ≥ 2.5e-4° off all slanted edges and off
    # the horizontal edges entirely — if you edit the point offsets or
    # the ring shape below, re-verify that no point lands on an edge
    # (or add the boundary term here).
    # ring: (x0,y0) (x0+8,y0) (x0+9.5,y0+6) (x0+1.5,y0+6) (x0,y0)
    edges = [
        ("x0", "y0", "x0 + 8.0", "y0"),
        ("x0 + 8.0", "y0", "x0 + 9.5", "y0 + 6.0"),
        ("x0 + 9.5", "y0 + 6.0", "x0 + 1.5", "y0 + 6.0"),
        ("x0 + 1.5", "y0 + 6.0", "x0", "y0"),
    ]
    terms = " + ".join(
        f"(CASE WHEN (({y1} > py) <> ({y2} > py)) AND "
        f"(px < ({x2} - ({x1})) * (py - ({y1})) / (({y2}) - ({y1})) + ({x1})) "
        f"THEN 1 ELSE 0 END)"
        for (x1, y1, x2, y2) in edges
    )
    return (
        f"WITH pts AS ({CUSTOMER_POINTS_SQL}), "
        "rings AS (SELECT n_nationkey, "
        "((n_nationkey * 15) % 300) - CAST(160.0 AS DOUBLE) AS x0, "
        "((n_nationkey * 7) % 100) - CAST(50.0 AS DOUBLE) AS y0 FROM nation) "
        f"SELECT c_custkey, (({terms}) % 2) = 1 AS inside "
        "FROM pts JOIN rings ON c_nationkey = n_nationkey"
    )


def q_geo_knn_brute(spark, sf_dir):
    """J3 exact kNN: 3 nearest customer points per supplier point.

    Still deliberately BRUTE FORCE (every |c| × |s| distance is
    computed — this lane is the banded path's oracle twin), but fused
    into the blocked Arrow kernel (ops.knn_bruteforce_points, r7):
    the r6 plan materialized all 15M cross-join rows in the JVM and
    shipped them through the Python boundary to the top-k combiner
    (~5 s at sf0.1, almost entirely transfer); now only the customer
    rows cross and the distance matrix + rank<k pruning run blockwise
    in numpy (same oracle-exact haversine kernel, identical rows)."""
    s = _supplier_points(spark, sf_dir)
    # the fact-table side must be spread across cores
    # (driver parquet is a single small file → 1 input partition)
    c = _customer_points(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    topk = ops.knn_bruteforce_points(
        c, s, 3,
        point_id="c_custkey", px="px", py="py",
        probe_id="s_suppkey", qx="qx", qy="qy",
    )
    return topk.select(
        "s_suppkey",
        "rank",
        "c_custkey",
        F.round(F.col("dist_m"), 3).alias("dist_m"),
    )


def sql_geo_knn_brute():
    hav = _hav_sql("qx", "qy", "px", "py")
    return (
        f"WITH s AS ({_supplier_points_sql()}), "
        f"c AS ({CUSTOMER_POINTS_SQL}), "
        f"d AS (SELECT s_suppkey, c_custkey, {hav} AS dist_m FROM s CROSS JOIN c), "
        "r AS (SELECT s_suppkey, c_custkey, dist_m, "
        "row_number() OVER (PARTITION BY s_suppkey ORDER BY dist_m, c_custkey) AS rank "
        "FROM d) "
        "SELECT s_suppkey, rank, c_custkey, round(dist_m, 3) AS dist_m "
        "FROM r WHERE rank <= 3"
    )


# ------------------------------------------------------------ hex cells
# G7 true-hex ring (SURVEY §2.3, the last optional interop gap): the
# hexcells lattice at work — cell assignment + the 6-equidistant-
# neighbor k-ring join that square 3×3 rings cannot express. Engine
# math in mosaic_engine/hexcells.py (Arrow-batched numpy); the oracle
# twins below recompute the identical published formulas in DuckDB
# (floor(v+0.5) cube rounding — see hexcells module doc for why
# round() is not usable across the three engines).
HEX_RES_AGG = 8
HEX_RES_RING = 6
# hexcells.hex_kring_offsets(1), lexicographic — mirrored in the SQL
# VALUES table; symmetric under negation, so scatter ≡ gather
_HEX_K1 = [(-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1), (1, -1), (1, 0)]

_HEX_QR_UDFS: dict = {}


def _hex_qr_udf(res: int):
    """Per-res cached pandas_udf → (hq, hr) axial hex coords (the
    packed id is derived NATIVELY from them — integer codegen, no
    second Arrow hop)."""
    if res not in _HEX_QR_UDFS:
        from pyspark.sql import types as T
        from pyspark.sql.functions import pandas_udf

        from mosaic_engine import hexcells as hx

        @pandas_udf(T.StructType([
            T.StructField("hq", T.LongType()),
            T.StructField("hr", T.LongType()),
        ]))
        def hex_qr(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
            qf, rf = hx._axial_float(lon.to_numpy(), lat.to_numpy(), res)
            q, r = hx._cube_round(qf, rf)
            return pd.DataFrame({"hq": q, "hr": r})

        _HEX_QR_UDFS[res] = hex_qr
    return _HEX_QR_UDFS[res]


def _hex_id_col(hq, hr, res: int):
    """Native-column twin of hexcells.hex_pack (plain int64 ops)."""
    off = 1 << (res + 1)
    span = 1 << 28
    return ((hq + F.lit(off)) * F.lit(span) + (hr + F.lit(off))) * F.lit(
        32
    ) + F.lit(res)


def _hex_sql_ctes(res: int, keep: str) -> str:
    """CTE chain pts-source → ``hexed`` (hq, hr, hex_id): op-for-op the
    numpy kernel (hexcells._axial_float + _cube_round + hex_pack)."""
    scale = float(1 << res)
    off = 1 << (res + 1)
    span = 1 << 28
    return (
        f"m AS (SELECT {keep}, lon/360.0 + 0.5 AS mx, "
        "0.5 - 0.25 * ln((1.0 + sin(radians(lat))) / (1.0 - sin(radians(lat)))) / pi() AS my FROM pts), "
        f"f AS (SELECT {keep}, (0.5773502691896257 * mx - my / 3.0) * {scale!r} AS qf, "
        f"(my * (2.0 / 3.0)) * {scale!r} AS rf FROM m), "
        f"g AS (SELECT {keep}, qf, rf, -qf - rf AS sf FROM f), "
        f"rnd AS (SELECT {keep}, qf, rf, sf, floor(qf + 0.5) AS rx, "
        "floor(sf + 0.5) AS ry, floor(rf + 0.5) AS rz FROM g), "
        f"ax AS (SELECT {keep}, "
        "CAST(CASE WHEN abs(rx - qf) > abs(ry - sf) AND abs(rx - qf) > abs(rz - rf) "
        "THEN -ry - rz ELSE rx END AS BIGINT) AS hq, "
        "CAST(CASE WHEN NOT (abs(rx - qf) > abs(ry - sf) AND abs(rx - qf) > abs(rz - rf)) "
        "AND NOT (abs(ry - sf) > abs(rz - rf)) THEN -rx - ry ELSE rz END AS BIGINT) AS hr "
        "FROM rnd), "
        f"hexed AS (SELECT {keep}, hq, hr, "
        f"((hq + {off}) * {span} + (hr + {off})) * 32 + {res} AS hex_id FROM ax)"
    )


def q_hex_cell_agg(spark, sf_dir):
    """Hexagonal G7 cell assignment + A1-shape per-cell agg: one Arrow
    hop for the lattice coords, packed id + groupBy native."""
    pts = _event_points(spark, sf_dir)
    u = _hex_qr_udf(HEX_RES_AGG)
    d = pts.withColumn("hx", u("lon", "lat")).select(
        "event_id",
        F.col("hx.hq").alias("hq"),
        F.col("hx.hr").alias("hr"),
    )
    d = d.withColumn(
        "hex_id", _hex_id_col(F.col("hq"), F.col("hr"), HEX_RES_AGG)
    )
    return d.groupBy("hex_id", "hq", "hr").agg(
        F.count("*").alias("n_points"),
        F.min("event_id").alias("min_event"),
        F.max("event_id").alias("max_event"),
    )


def sql_hex_cell_agg():
    return (
        f"WITH pts AS ({EVENT_POINTS_SQL}), "
        f"{_hex_sql_ctes(HEX_RES_AGG, 'event_id')} "
        "SELECT hex_id, hq, hr, count(*) AS n_points, "
        "min(event_id) AS min_event, max(event_id) AS max_event "
        "FROM hexed GROUP BY 1, 2, 3"
    )


def q_hex_kring_agg(spark, sf_dir):
    """Hex k-ring(1) neighborhood rollup — the join square rings can't
    express (6 EQUIDISTANT neighbors): per occupied cell, the event
    count summed over its filled 1-ring. Scatter form: each cell's
    count explodes to its 7 ring members (the offset set is symmetric
    under negation, so scatter ≡ gather) — a map-only explode of a
    7-element literal array, then one (nq, nr) equi-join groupBy; at
    100 TB both sides are the BOUNDED per-cell agg, never raw points."""
    pts = _event_points(spark, sf_dir)
    u = _hex_qr_udf(HEX_RES_RING)
    cells = (
        pts.withColumn("hx", u("lon", "lat"))
        .groupBy(
            F.col("hx.hq").alias("hq"), F.col("hx.hr").alias("hr")
        )
        .agg(F.count("*").alias("n_points"))
    )
    offs = F.array(
        *[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in _HEX_K1
        ]
    )
    contrib = cells.select(
        "n_points", F.explode(offs).alias("o"), "hq", "hr"
    ).select(
        (F.col("hq") + F.col("o.dq")).alias("nq"),
        (F.col("hr") + F.col("o.dr")).alias("nr"),
        "n_points",
    )
    ring = contrib.groupBy("nq", "nr").agg(
        F.sum("n_points").alias("ring_points")
    )
    out = cells.join(
        ring,
        (cells["hq"] == ring["nq"]) & (cells["hr"] == ring["nr"]),
    )
    return out.select(
        _hex_id_col(F.col("hq"), F.col("hr"), HEX_RES_RING).alias("hex_id"),
        "n_points",
        "ring_points",
    )


def sql_hex_kring_agg():
    off = 1 << (HEX_RES_RING + 1)
    span = 1 << 28
    values = ", ".join(f"({dq}, {dr})" for dq, dr in _HEX_K1)
    return (
        f"WITH pts AS ({EVENT_POINTS_SQL}), "
        f"{_hex_sql_ctes(HEX_RES_RING, 'event_id')}, "
        "c AS (SELECT hq, hr, count(*) AS n_points FROM hexed GROUP BY 1, 2), "
        f"o(dq, dr) AS (VALUES {values}), "
        "kg AS (SELECT c.hq + o.dq AS nq, c.hr + o.dr AS nr, c.n_points "
        "FROM c CROSS JOIN o), "
        "r AS (SELECT nq, nr, CAST(sum(n_points) AS BIGINT) AS ring_points "
        "FROM kg GROUP BY 1, 2) "
        f"SELECT ((c.hq + {off}) * {span} + (c.hr + {off})) * 32 + {HEX_RES_RING} AS hex_id, "
        "c.n_points, r.ring_points "
        "FROM c JOIN r ON c.hq = r.nq AND c.hr = r.nr"
    )


# ------------------------------------------------------------ text / dedup
def q_dedup_exact(spark, sf_dir):
    return textops.dedup_exact(_t(spark, sf_dir, "documents"))


def sql_dedup_exact():
    # text IS NOT NULL mirrors the engine (r5 review): NULL texts must
    # not collapse into one "duplicate" group
    return (
        "SELECT min(doc_id) AS canonical_id, count(*) AS n_copies "
        "FROM documents WHERE text IS NOT NULL GROUP BY text"
    )


def q_minhash_signatures(spark, sf_dir):
    return textops.minhash_signatures(_t(spark, sf_dir, "documents"))


SHINGLES_SQL = (
    "SELECT doc_id, unnest(list_transform(generate_series(1, len(lst) - 1), "
    "i -> lst[i] || '_' || lst[i + 1])) AS shingle FROM "
    "(SELECT doc_id, list_filter(string_split_regex(lower(text), "
    "'[^a-z0-9'']+'), x -> x <> '') AS lst FROM documents) "
    "WHERE len(lst) >= 2"
)


def sql_minhash_signatures():
    code = token_code_sql("shingle", textops.SHINGLE_PREFIX)
    mins = ", ".join(
        f"min(({a} * {code} + {b}) % {P}) AS mh{j}"
        for j, (a, b) in enumerate(textops.MINHASH_AB)
    )
    return f"SELECT doc_id, {mins} FROM ({SHINGLES_SQL}) GROUP BY doc_id"


def q_minhash_lsh_pairs(spark, sf_dir):
    # on_overflow="raise" (r5 review): the SQL oracle is exhaustive, so
    # a fixture scale that would trip the star guard must fail loud,
    # not hash-mismatch (fixture guards lock sf0.01/sf0.1 today)
    return textops.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), on_overflow="raise"
    )


def _sql_minhash_banded():
    """The (doc_id, band, bsig) banding rows as a WITH prefix — shared
    by the pair and bucket-stats oracles (one builder, no drift)."""
    sig = sql_minhash_signatures()
    rpb = textops.ROWS_PER_BAND
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '_' || ".join(
            f"CAST(mh{b * rpb + r} AS VARCHAR)" for r in range(rpb)
        )
        + " AS bsig FROM sig"
        for b in range(textops.LSH_BANDS)
    )
    return f"WITH sig AS ({sig}), banded AS ({bands})"


def sql_minhash_lsh_pairs():
    return (
        f"{_sql_minhash_banded()} "
        "SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b "
        "FROM banded l JOIN banded r ON l.band = r.band AND l.bsig = r.bsig "
        "AND l.doc_id < r.doc_id"
    )


def q_lsh_bucket_stats(spark, sf_dir):
    """Observability for the LSH mega-bucket guard
    (textops.lsh_bucket_stats): per-band bucket population and how much
    of the corpus sits in star-degraded overflow buckets."""
    return textops.lsh_bucket_stats(
        textops.minhash_banded(_t(spark, sf_dir, "documents"))
    )


def sql_lsh_bucket_stats():
    cap = textops.LSH_MAX_BUCKET
    return (
        f"{_sql_minhash_banded()}, "
        "sz AS (SELECT band, bsig, count(*) AS n FROM banded "
        "GROUP BY band, bsig) "
        "SELECT band, count(*) AS n_buckets, max(n) AS max_bucket_rows, "
        f"CAST(sum(CASE WHEN n > {cap} THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_overflow_buckets, "
        f"CAST(sum(CASE WHEN n > {cap} THEN n ELSE 0 END) AS BIGINT) "
        "AS n_overflow_rows FROM sz GROUP BY band"
    )


def q_simhash(spark, sf_dir):
    return textops.simhash(_t(spark, sf_dir, "documents"))


def sql_simhash():
    code = token_code_sql("token")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (({code} >> {k}) & 1) = 1 THEN cnt ELSE -cnt END) AS s{k}"
        for k in range(textops.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(textops.SIMHASH_BITS)
    )
    return (
        f"WITH tc AS (SELECT doc_id, token, count(*) AS cnt "
        f"FROM ({textops.TOKENS_SQL}) GROUP BY doc_id, token), "
        f"bs AS (SELECT doc_id, {bit_sums} FROM tc GROUP BY doc_id) "
        f"SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bs"
    )


def q_ngram_jaccard(spark, sf_dir):
    return textops.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=4, min_jaccard=0.15
    )


def sql_ngram_jaccard():
    # candidate pairs = the MinHash-LSH oracle (same CTE as
    # dedup_minhash_lsh_pairs), exact 4-gram jaccard verified on them
    lsh = sql_minhash_lsh_pairs()
    return (
        f"WITH cand AS ({lsh}), "
        "g AS (SELECT DISTINCT doc_id, substr(lower(text), i, 4) AS gram "
        "FROM documents, unnest(range(1, greatest(length(lower(text)) - 3, 0) + 1)) AS t(i)), "
        "sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id), "
        "inter AS (SELECT cand.doc_a, cand.doc_b, count(*) AS n_inter "
        "FROM cand JOIN g ga ON ga.doc_id = cand.doc_a "
        "JOIN g gb ON gb.doc_id = cand.doc_b AND gb.gram = ga.gram "
        "GROUP BY cand.doc_a, cand.doc_b) "
        "SELECT doc_a, doc_b, "
        "CAST(n_inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) AS jaccard "
        "FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id "
        "WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) >= 0.15"
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: banded candidates (pigeonhole-complete
    for hamming ≤ 3), exact bit_count(xor) verification.
    on_overflow="raise": see q_minhash_lsh_pairs."""
    return textops.simhash_pairs(
        _t(spark, sf_dir, "documents"), on_overflow="raise"
    )


def sql_simhash64():
    code = token_code_sql("token")
    bit_sums = ", ".join(
        f"sum(CASE WHEN ((({code} * {a} + {b}) % {P}) & 1) = 1 "
        f"THEN cnt ELSE -cnt END) AS s{k}"
        for k, (a, b) in enumerate(textops.SIM64_AB)
    )
    sig = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(textops.SIM64_BITS)
    )
    return (
        f"SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM ("
        f"SELECT doc_id, {bit_sums} FROM ("
        f"SELECT doc_id, token, count(*) AS cnt FROM ({textops.TOKENS_SQL}) "
        "GROUP BY doc_id, token) GROUP BY doc_id)"
    )


def sql_simhash_pairs():
    sig = sql_simhash64()
    rows = textops.SIM64_BITS // textops.SIMHASH_BANDS
    mask = (1 << rows) - 1
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {b * rows}) & {mask} AS key FROM sig"
        for b in range(textops.SIMHASH_BANDS)
    )
    return (
        f"WITH sig AS ({sig}), banded AS ({bands}), "
        "cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b "
        "FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key "
        "AND l.doc_id < r.doc_id) "
        "SELECT doc_a, doc_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
        "FROM cand JOIN sig a ON cand.doc_a = a.doc_id "
        "JOIN sig b ON cand.doc_b = b.doc_id "
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    )


def q_token_count_bpe(spark, sf_dir):
    return textops.token_count_bpe(_t(spark, sf_dir, "documents"))


def sql_token_count_bpe():
    pat = textops.BPE_PATTERN
    return (
        "SELECT doc_id, "
        "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
        "x -> x <> '')) AS INT) AS n_ws_tokens, "
        f"CAST(len(regexp_extract_all(lower(text), '{pat}')) AS INT) AS n_bpe_tokens, "
        "CAST(length(lower(text)) AS DOUBLE) / "
        f"CAST(greatest(len(regexp_extract_all(lower(text), '{pat}')), 1) AS DOUBLE) "
        "AS chars_per_bpe FROM documents"
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (rolling k-gram hash, window-min) fingerprints."""
    return textops.winnow_fingerprints(_t(spark, sf_dir, "documents"))


def sql_winnow_fingerprints():
    k, w = textops.WINNOW_K, textops.WINNOW_W
    terms = " + ".join(
        f"CAST(coalesce(ascii(substr(lt, i + {j}, 1)), 0) AS BIGINT) "
        f"* CAST({POW31[j]} AS BIGINT)"
        for j in range(k)
    )
    return (
        "WITH b AS (SELECT doc_id, lower(text) AS lt FROM documents), "
        "c AS (SELECT doc_id, list_transform("
        f"generate_series(1, length(lt) - {k - 1}), "
        f"i -> ({terms}) % {P}) AS codes FROM b), "
        "wn AS (SELECT doc_id, list_transform("
        f"generate_series(1, len(codes) - {w - 1}), "
        f"i -> list_aggregate(list_slice(codes, i, i + {w - 1}), 'min')"
        ") AS wins FROM c) "
        "SELECT doc_id, unnest(list_distinct(wins)) AS fp FROM wn"
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: connected components over LSH candidate pairs
    (min-label propagation), cluster id = min doc_id in component."""
    return textops.dedup_clusters(_t(spark, sf_dir, "documents"))


def sql_dedup_clusters():
    lsh = sql_minhash_lsh_pairs()
    return (
        f"WITH RECURSIVE cand AS ({lsh}), "
        "e AS (SELECT doc_a AS src, doc_b AS dst FROM cand "
        "UNION ALL SELECT doc_b, doc_a FROM cand), "
        "r AS (SELECT doc_id, doc_id AS reach FROM documents "
        "UNION SELECT r.doc_id, e.dst FROM r JOIN e ON r.reach = e.src) "
        "SELECT doc_id, min(reach) AS cluster_id FROM r GROUP BY doc_id"
    )


def q_lang_id(spark, sf_dir):
    return textops.lang_id(_t(spark, sf_dir, "documents"))


def sql_lang_id():
    counts = ", ".join(
        "sum(CASE WHEN token IN ({}) THEN 1 ELSE 0 END) AS c_{}".format(
            ", ".join(f"'{m}'" for m in ms), lg
        )
        for lg, ms in textops.LANG_MARKERS.items()
    )
    langs = list(textops.LANG_MARKERS)
    pred = f"'{langs[0]}'"
    best = f"c_{langs[0]}"
    for lg in langs[1:]:
        pred = f"CASE WHEN c_{lg} > {best} THEN '{lg}' ELSE {pred} END"
        best = f"CASE WHEN c_{lg} > {best} THEN c_{lg} ELSE {best} END"
    return (
        f"WITH t AS ({textops.TOKENS_SQL}), "
        f"c AS (SELECT doc_id, {counts} FROM t GROUP BY doc_id), "
        f"p AS (SELECT doc_id, {pred} AS pred_lang, "
        f"CAST({best} AS BIGINT) AS n_markers FROM c) "
        # LEFT join + zero-marker defaults mirror the engine (r5
        # review): a zero-token doc classifies as the default language
        f"SELECT d.doc_id AS doc_id, "
        f"COALESCE(pred_lang, '{langs[0]}') AS pred_lang, "
        "CAST(COALESCE(n_markers, 0) AS BIGINT) AS n_markers, "
        f"(COALESCE(pred_lang, '{langs[0]}') = d.lang) AS match_meta "
        "FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id"
    )


def q_quality(spark, sf_dir):
    return textops.quality_score(_t(spark, sf_dir, "documents"))


def sql_quality():
    stop = ", ".join(f"'{s}'" for s in textops.STOPWORDS)
    return (
        f"WITH t AS ({textops.TOKENS_SQL}), "
        "ts AS (SELECT doc_id, count(*) AS n_tokens, "
        "sum(length(token)) AS tok_chars, "
        f"sum(CASE WHEN token IN ({stop}) THEN 1 ELSE 0 END) AS n_stop "
        "FROM t GROUP BY doc_id), "
        "b AS (SELECT doc_id, length(text) AS n_chars_txt, "
        "length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS n_punct "
        "FROM documents), "
        # LEFT join + empty-denominator → 0.0 mirror the engine (r5
        # review): zero-token / NULL-text docs score instead of
        # vanishing
        "g AS (SELECT b.doc_id AS doc_id, "
        "COALESCE(n_tokens, 0) AS n_tokens, "
        "COALESCE(tok_chars, 0) AS tok_chars, "
        "COALESCE(n_stop, 0) AS n_stop, "
        "COALESCE(n_chars_txt, 0) AS n_chars_txt, "
        "COALESCE(n_punct, 0) AS n_punct "
        "FROM b LEFT JOIN ts ON b.doc_id = ts.doc_id) "
        "SELECT doc_id, n_tokens, "
        "CASE WHEN n_tokens > 0 THEN CAST(tok_chars AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_tok_len, "
        "CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio, "
        "CASE WHEN n_chars_txt > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_txt ELSE 0.0 END AS punct_ratio, "
        "least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 "
        "+ (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 0.4 "
        "+ (1.0 - CASE WHEN n_chars_txt > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_txt ELSE 0.0 END) * 0.2 AS quality "
        "FROM g"
    )


def q_token_stats(spark, sf_dir):
    return textops.token_stats(_t(spark, sf_dir, "documents"))


def sql_token_stats():
    return (
        f"WITH t AS ({textops.TOKENS_SQL}) "
        "SELECT source, count(*) AS n_tokens, "
        "count(DISTINCT token) AS n_vocab, avg(length(token)) AS mean_len "
        "FROM t JOIN documents USING (doc_id) GROUP BY source"
    )


def q_fingerprint(spark, sf_dir):
    return textops.fingerprint(_t(spark, sf_dir, "documents"))


def sql_fingerprint():
    code = token_code_sql("token")
    return (
        f"WITH t AS (SELECT DISTINCT doc_id, {code} AS code "
        f"FROM ({textops.TOKENS_SQL})) "
        f"SELECT doc_id, CAST(sum(code) % {P} AS BIGINT) AS fingerprint, "
        "count(*) AS n_distinct_tokens FROM t GROUP BY doc_id"
    )


# ------------------------------------------------------------- embeddings
QUANT_SQL = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"


def q_ann_cosine_topk(spark, sf_dir):
    return annops.cosine_topk(_t(spark, sf_dir, "embeddings"))


def _ann_topk_sql(bucketed: bool, n_probes: int = 1) -> str:
    """One oracle covers brute-force, single-probe LSH, and multi-probe
    LSH ANN: `n_probes > 1` adds the margin-ordered Hamming-1 flip CTEs
    (the identical probe selection as annops.ann_lsh_topk)."""
    bucket = (
        "(" + " + ".join(
            f"(CASE WHEN list_dot_product(q, CAST(w{j} AS BIGINT[])) >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(annops.N_PLANES)
        ) + ")"
    )
    wdefs = ", ".join(
        f"[{', '.join(str(v) for v in row)}] AS w{j}"
        for j, row in enumerate(annops.PLANES)
    )
    # norm2 > 0 mirrors annops._nonzero: the engine drops zero-norm /
    # NULL embeddings before any cosine math, so the oracle must too or
    # a degenerate fixture row would produce inf/NaN oracle scores and
    # a row-count mismatch (ADVICE r3)
    base = (
        f"SELECT * FROM (SELECT vec_id, label, {QUANT_SQL} AS q, "
        f"list_dot_product({QUANT_SQL}, {QUANT_SQL}) AS norm2 "
        "FROM embeddings) WHERE norm2 > 0"
    )
    if bucketed:
        base_b = (
            f"SELECT vec_id, label, q, norm2, {bucket} AS bucket "
            f"FROM (SELECT *, {wdefs} FROM base)"
        )
        join_cond = "b.bucket = qs.bucket AND b.vec_id <> qs.query_id"
    else:
        base_b = "SELECT vec_id, label, q, norm2, 0 AS bucket FROM base"
        join_cond = "b.vec_id <> qs.query_id"
    ctes = [
        f"base AS ({base})",
        f"bb AS ({base_b})",
        "qs0 AS (SELECT vec_id AS query_id, q AS qq, norm2 AS qn2, bucket "
        "FROM bb WHERE vec_id < 10)",
    ]
    if n_probes > 1:
        margin_rows = " UNION ALL ".join(
            f"SELECT query_id, qq, qn2, bucket, {j} AS j, "
            f"abs(list_dot_product(qq, CAST(w{j} AS BIGINT[]))) AS m FROM qsw"
            for j in range(annops.N_PLANES)
        )
        ctes += [
            f"qsw AS (SELECT *, {wdefs} FROM qs0)",
            f"mr AS ({margin_rows})",
            "flips AS (SELECT query_id, qq, qn2, xor(bucket, 1 << j) AS bucket "
            "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY m, j) AS rn FROM mr) "
            f"WHERE rn <= {n_probes - 1})",
            "qs AS (SELECT query_id, qq, qn2, bucket FROM qs0 "
            "UNION ALL SELECT query_id, qq, qn2, bucket FROM flips)",
        ]
    else:
        ctes.append("qs AS (SELECT * FROM qs0)")
    ctes += [
        "scored AS (SELECT qs.query_id, b.vec_id, "
        "CAST(list_dot_product(b.q, qs.qq) AS DOUBLE) / "
        "(sqrt(CAST(b.norm2 AS DOUBLE)) * sqrt(CAST(qs.qn2 AS DOUBLE))) AS score "
        f"FROM bb b JOIN qs ON {join_cond})",
        "r AS (SELECT query_id, vec_id, score, "
        "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank "
        "FROM scored)",
    ]
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT query_id, rank, vec_id AS neighbor_id, score FROM r WHERE rank <= 5"
    )


def sql_ann_cosine_topk():
    return _ann_topk_sql(bucketed=False)


def q_ann_lsh_buckets(spark, sf_dir):
    return annops.lsh_buckets(_t(spark, sf_dir, "embeddings"))


def sql_ann_lsh_buckets():
    wdefs = ", ".join(
        f"[{', '.join(str(v) for v in row)}] AS w{j}"
        for j, row in enumerate(annops.PLANES)
    )
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(q, CAST(w{j} AS BIGINT[])) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(annops.N_PLANES)
    )
    return (
        f"WITH base AS (SELECT vec_id, label, {QUANT_SQL} AS q FROM embeddings) "
        f"SELECT vec_id, label, CAST({bucket} AS INT) AS bucket "
        f"FROM (SELECT *, {wdefs} FROM base)"
    )


def q_ann_lsh_topk(spark, sf_dir):
    return annops.ann_lsh_topk(_t(spark, sf_dir, "embeddings"))


def sql_ann_lsh_topk():
    return _ann_topk_sql(bucketed=True)


def q_ann_lsh_topk_mp(spark, sf_dir):
    """Multi-probe LSH ANN: each query also probes the 2 Hamming-1
    neighbor buckets with the smallest hyperplane margins."""
    return annops.ann_lsh_topk(_t(spark, sf_dir, "embeddings"), n_probes=3)


def sql_ann_lsh_topk_mp():
    return _ann_topk_sql(bucketed=True, n_probes=3)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: deterministic integer k-means (3 Lloyd iterations, 16
    lists) → probe the 2 best inverted lists → exact cosine top-k."""
    return annops.ivf_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5, n_probe=2
    )


def sql_ann_ivf_topk():
    """Data-driven chained-CTE twin of ivf_topk: every arithmetic step
    is an exact integer sum, one IEEE division, or floor — so the SQL
    recomputation reproduces training AND search bit-for-bit."""
    score = (
        "CASE WHEN c.ncc = 0 THEN CAST('-infinity' AS DOUBLE) "
        "ELSE CAST(list_dot_product({v}, c.c) AS DOUBLE) / sqrt(CAST(c.ncc AS DOUBLE)) END"
    )

    def assign_cte(prev_c: str, out: str) -> str:
        return (
            f"{out} AS (SELECT vec_id, q, norm2, cid FROM ("
            "SELECT b.vec_id, b.q, b.norm2, c.cid, row_number() OVER ("
            f"PARTITION BY b.vec_id ORDER BY {score.format(v='b.q')} DESC, c.cid) AS rn "
            f"FROM base b CROSS JOIN {prev_c} c) WHERE rn = 1)"
        )

    def update_cte(prev_a: str, out: str) -> str:
        return (
            f"{out} AS (SELECT cid, list(m ORDER BY dim) AS c, "
            "CAST(list_dot_product(list(m ORDER BY dim), list(m ORDER BY dim)) AS BIGINT) AS ncc FROM ("
            "SELECT cid, dim, CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS m "
            f"FROM (SELECT cid, g.dim, q[g.dim] AS val FROM {prev_a}, "
            "unnest(generate_series(1, len(q))) AS g(dim)) "
            "GROUP BY cid, dim) GROUP BY cid)"
        )

    ctes = [
        # norm2 > 0 mirrors annops._nonzero (see _ann_topk_sql)
        f"base AS (SELECT * FROM (SELECT vec_id, {QUANT_SQL} AS q, "
        f"CAST(list_dot_product({QUANT_SQL}, {QUANT_SQL}) AS BIGINT) AS norm2 "
        "FROM embeddings) WHERE norm2 > 0)",
        "c0 AS (SELECT vec_id AS cid, q AS c, norm2 AS ncc FROM base "
        f"WHERE vec_id < {annops.N_LIST})",
    ]
    prev = "c0"
    for i in range(1, annops.IVF_ITERS + 1):
        ctes.append(assign_cte(prev, f"a{i}"))
        ctes.append(update_cte(f"a{i}", f"c{i}"))
        prev = f"c{i}"
    ctes.append(assign_cte(prev, "af"))
    ctes.append(
        "qs AS (SELECT vec_id AS query_id, q AS qq, norm2 AS qn2 "
        "FROM base WHERE vec_id < 10)"
    )
    ctes.append(
        "pr AS (SELECT query_id, qq, qn2, cid FROM ("
        "SELECT qs.query_id, qs.qq, qs.qn2, c.cid, row_number() OVER ("
        f"PARTITION BY qs.query_id ORDER BY {score.format(v='qs.qq')} DESC, c.cid) AS rn "
        f"FROM qs CROSS JOIN {prev} c) WHERE rn <= 2)"
    )
    ctes.append(
        "scored AS (SELECT pr.query_id, b.vec_id, "
        "CAST(list_dot_product(b.q, pr.qq) AS DOUBLE) / "
        "(sqrt(CAST(b.norm2 AS DOUBLE)) * sqrt(CAST(pr.qn2 AS DOUBLE))) AS score "
        "FROM af b JOIN pr ON b.cid = pr.cid AND b.vec_id <> pr.query_id)"
    )
    ctes.append(
        "r AS (SELECT query_id, vec_id, score, row_number() OVER ("
        "PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk FROM scored)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT query_id, CAST(rnk AS INTEGER) AS rank, "
        "vec_id AS neighbor_id, score FROM r WHERE rnk <= 5"
    )


def q_dedup_incremental(spark, sf_dir):
    """Streamed MinHash-LSH dedup (streaming.run_incremental_dedup):
    the documents table arrives as two file drops; pairs are emitted
    only for new-vs-all per micro-batch. The accumulated pairs equal
    one-shot exhaustive LSH pairs, so the batch SQL oracle twins it."""
    import shutil
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mosaic_engine import datagen, streaming

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    even = pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0)
    # STABLE per-sf_dir root, wiped on entry (r5 review): a fresh
    # mkdtemp per invocation leaked a full documents copy + streaming
    # state every time the driver re-ran the query (plan capture, row
    # compare, hash) — and wiping also guarantees the availableNow
    # checkpoint starts clean each run
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"dedup_incr_{key}")
    shutil.rmtree(root, ignore_errors=True)
    sdir = os.path.join(root, "stream")
    work = os.path.join(root, "work")
    os.makedirs(sdir)
    datagen.write_parquet(t.filter(even), os.path.join(sdir, "p1.parquet"))
    streaming.run_incremental_dedup(spark, sdir, work)
    datagen.write_parquet(
        t.filter(pc.invert(even)), os.path.join(sdir, "p2.parquet")
    )
    streaming.run_incremental_dedup(spark, sdir, work)
    return streaming.incremental_dedup_pairs(spark, work)


def sql_dedup_incremental():
    # the incremental path guards mega-buckets (r6: default
    # max_bucket=LSH_MAX_BUCKET, star fallback), but on these fixtures
    # no bucket overflows — tests/test_fixture_guards.py locks that —
    # so its pairs equal exhaustive LSH pairs and the batch LSH-pair
    # oracle IS its oracle
    return sql_minhash_lsh_pairs()


def q_ann_recall_stats(spark, sf_dir):
    """Recall@5 of each ANN path vs the exact brute top-k on the same
    probe block (annops.recall_stats) — the observability lane a
    pipeline alerts on."""
    return annops.recall_stats(_t(spark, sf_dir, "embeddings"))


def sql_ann_recall_stats():
    """Stats twin: re-derive each method's top-k with the existing
    oracle SQL (as derived tables — DuckDB allows WITH inside a
    subquery), intersect with brute, then the same exact-integer →
    one-IEEE-division stats as annops.recall_stats."""
    methods = [
        ("lsh_p1", _ann_topk_sql(bucketed=True)),
        ("lsh_p3", _ann_topk_sql(bucketed=True, n_probes=3)),
        ("ivf_p2", sql_ann_ivf_topk()),
    ]
    ctes = [
        "brute AS (SELECT query_id, neighbor_id FROM ("
        + _ann_topk_sql(bucketed=False)
        + "))",
        "qids AS (SELECT DISTINCT query_id FROM brute)",
    ]
    for name, sql in methods:
        ctes.append(
            f"m_{name} AS (SELECT query_id, neighbor_id FROM ({sql}))"
        )
        ctes.append(
            f"i_{name} AS (SELECT a.query_id FROM m_{name} a "
            "JOIN brute b USING (query_id, neighbor_id))"
        )
        ctes.append(
            f"h_{name} AS (SELECT q.query_id, count(i.query_id) AS h "
            f"FROM qids q LEFT JOIN i_{name} i ON i.query_id = q.query_id "
            "GROUP BY q.query_id)"
        )
        ctes.append(
            f"s_{name} AS (SELECT '{name}' AS method, "
            "count(*) AS n_queries, CAST(sum(h) AS BIGINT) AS total_hits, "
            f"CAST(min(h) AS BIGINT) AS min_h FROM h_{name})"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM s_{name}" for name, _ in methods
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT method, n_queries, total_hits, "
        "CAST(total_hits AS DOUBLE) / CAST(n_queries * 5 AS DOUBLE) AS avg_recall, "
        "CAST(min_h AS DOUBLE) / CAST(5 AS DOUBLE) AS min_recall "
        f"FROM ({union})"
    )


def q_embed_neardup(spark, sf_dir):
    # on_overflow="raise": see q_minhash_lsh_pairs — the 16-bucket
    # embedding bands are the first lane to overflow at a larger scale
    return annops.neardup_pairs(
        _t(spark, sf_dir, "embeddings"), min_score=0.2, on_overflow="raise"
    )


def sql_embed_neardup():
    # LSH-banded candidates (2 bands × 4 planes), exact cosine verify —
    # the identical blocking as annops.neardup_pairs
    bands = annops.N_PLANES // 2
    wdefs = ", ".join(
        f"[{', '.join(str(v) for v in row)}] AS w{j}"
        for j, row in enumerate(annops.PLANES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT vec_id, {b} AS band, ({bits}) AS bucket FROM basew".format(
            b=b,
            bits=" + ".join(
                f"(CASE WHEN list_dot_product(q, CAST(w{b * bands + r} AS BIGINT[])) >= 0 "
                f"THEN {1 << r} ELSE 0 END)"
                for r in range(bands)
            ),
        )
        for b in range(2)
    )
    return (
        # norm2 > 0 mirrors annops._nonzero (see _ann_topk_sql)
        f"WITH base AS (SELECT * FROM (SELECT vec_id, label, {QUANT_SQL} AS q, "
        f"list_dot_product({QUANT_SQL}, {QUANT_SQL}) AS norm2 "
        "FROM embeddings) WHERE norm2 > 0), "
        f"basew AS (SELECT *, {wdefs} FROM base), "
        f"banded AS ({band_selects}), "
        "cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b "
        "FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket "
        "AND l.vec_id < r.vec_id) "
        "SELECT vec_a, vec_b, "
        "CAST(list_dot_product(a.q, b.q) AS DOUBLE) / "
        "(sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS score "
        "FROM cand JOIN base a ON cand.vec_a = a.vec_id "
        "JOIN base b ON cand.vec_b = b.vec_id "
        "WHERE CAST(list_dot_product(a.q, b.q) AS DOUBLE) / "
        "(sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) >= 0.2"
    )


# -------------------------------------------------------------- relational
def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def sql_tpch_q1():
    return (
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    )


def q_tpch_q3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def sql_tpch_q3():
    return (
        "SELECT o_orderkey, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10"
    )


def q_tpch_q5ish(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def sql_tpch_q5ish():
    return (
        "SELECT r_name, n_name, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
        "count(*) AS n_items "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name, n_name"
    )


def q_events_rollup(spark, sf_dir):
    """A8 rollup: (event_type, hour) metrics with subtotal and grand
    total rows — the per-zoom-prefix reporting shape over events."""
    ev = _t(spark, sf_dir, "events")
    return ev.rollup(
        F.col("event_type"),
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def sql_events_rollup():
    return (
        "WITH e AS (SELECT event_type, "
        "epoch(date_trunc('hour', ts)) AS hour_epoch, value FROM events) "
        "SELECT event_type, CAST(hour_epoch AS BIGINT) AS hour_epoch, "
        "count(*) AS n_events, round(sum(value), 4) AS sum_value "
        "FROM e GROUP BY ROLLUP(event_type, hour_epoch)"
    )


def q_events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def sql_events_hourly():
    return (
        "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, "
        "event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value "
        "FROM events GROUP BY 1, 2"
    )


def q_events_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", "([0-9]+)", 1).cast("int").alias("k_val"),
    )


def sql_events_props():
    return (
        "SELECT event_id, CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS k_val "
        "FROM events"
    )


def q_window_topk_orders(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    )


def sql_window_topk_orders():
    return (
        "SELECT o_custkey, rank, o_orderkey, o_totalprice FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rank FROM orders) "
        "WHERE rank <= 3"
    )




def q_geo_tile_bounds(spark, sf_dir):
    """G4: quadkey → tile x/y → west/north bounds (inverse tile math)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from mosaic_engine import tilemath as tm

    d = _tile_assign_df(spark, sf_dir)

    @pandas_udf(T.StructType([
        T.StructField("tile_w", T.DoubleType()),
        T.StructField("tile_s", T.DoubleType()),
        T.StructField("tile_e", T.DoubleType()),
        T.StructField("tile_n", T.DoubleType()),
    ]))
    def tb(tx: pd.Series, ty: pd.Series) -> pd.DataFrame:
        w, s_, e, n = tm.tile_bounds(
            tx.to_numpy("int64"), ty.to_numpy("int64"), Z_TILE
        )
        return pd.DataFrame(
            {"tile_w": w, "tile_s": s_, "tile_e": e, "tile_n": n}
        )

    # round(9): DuckDB has no sinh(); its exp-form oracle differs in the
    # last ULP — 1e-9 deg ≈ 0.1 mm, far below any tile-assignment effect
    return d.select("event_id", "quadkey", tb("tx", "ty").alias("b")).select(
        "event_id",
        "quadkey",
        F.round("b.tile_w", 9).alias("tile_w"),
        F.round("b.tile_s", 9).alias("tile_s"),
        F.round("b.tile_e", 9).alias("tile_e"),
        F.round("b.tile_n", 9).alias("tile_n"),
    )


def sql_geo_tile_bounds():
    def ul(xe, ye, z):
        z2 = 1 << z
        lon = f"(({xe}) / {float(z2)}) * 360.0 - 180.0"
        inner = f"pi() * (1.0 - 2.0 * ({ye}) / {float(z2)})"
        lat = f"degrees(atan((exp({inner}) - exp(-({inner}))) / 2.0))"
        return lon, lat

    wlon, nlat = ul("tx", "ty", Z_TILE)
    elon, slat = ul("tx + 1", "ty + 1", Z_TILE)
    return (
        f"WITH pts AS ({EVENT_POINTS_SQL}), "
        f"t AS (SELECT event_id, {_tile_sql('lon', 'lat', Z_TILE, 'tx', 'ty')} FROM pts) "
        f"SELECT event_id, {_quadkey_sql('tx', 'ty', Z_TILE)} AS quadkey, "
        f"round({wlon}, 9) AS tile_w, round({slat}, 9) AS tile_s, "
        f"round({elon}, 9) AS tile_e, round({nlat}, 9) AS tile_n "
        f"FROM t"
    )


def q_tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )


def sql_tpch_q6():
    return (
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, "
        "count(*) AS n_rows FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
    )


def q_events_sessions(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag + running sum)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_no", F.sum("new_session").over(w)
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


def sql_events_sessions():
    return (
        "WITH g AS (SELECT user_id, event_id, ts, value, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END "
        "AS new_session FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "s AS (SELECT user_id, event_id, value, "
        "CAST(sum(new_session) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) "
        "AS session_no FROM g) "
        "SELECT user_id, session_no, count(*) AS n_events, "
        "min(event_id) AS first_event, round(sum(value), 4) AS session_value "
        "FROM s GROUP BY user_id, session_no"
    )


# ------------------------------------------------- flagship engine paths
# The mosaic/rv/knn/gap queries run the REAL engine pipeline (filters →
# fused explode kernel → one-exchange selection → relational output) over
# RECTANGULAR footprints derived from driver tables with integer-key
# arithmetic, so every float is bit-identical in Spark and DuckDB and
# the whole pipeline gets an exact SQL twin (cover = generate_series
# between the _tile_sql corner tiles; selection = row_number). The
# exotic-geometry paths (antimeridian rings, concave footprints, ...)
# stay covered by the pytest goldens over datagen fixtures.
Z_MOSAIC = 6
_MM_DIR = os.path.join(_REPO, ".fixtures")


def _mm_fixture_path(name: str) -> str:
    """Deterministic multimodal fixture parquet at a STABLE path, with
    EXPECTED columns computed by tests/oracle.py's pure-stdlib scalar
    implementations — code independent of the engine kernels (see
    test_imageops.test_scalar_oracles_match_engine_kernels for the
    exact-equivalence proof, including exact float equality on
    rms/zcr: every discretizing step is integer math and every float
    step operates on values exact in float64). queries() reads this
    parquet and RECOMPUTES from the payload bytes; oracle_sql() just
    SELECTs the stored expected values — so the driver's
    rows+schema+hash comparison becomes meaningful for the binary
    lanes that SQL itself cannot express."""
    import hashlib

    import pyarrow as pa

    from mosaic_engine import datagen, imageops
    from tests import oracle as orc

    # the cache key embeds a hash of the three source files whose
    # behavior the stored expected values depend on — editing datagen,
    # the scalar oracles, or the engine codecs auto-invalidates the
    # fixture instead of silently serving stale expectations (r4
    # review: a stable path with no version key would compare a new
    # engine against old oracle columns)
    h = hashlib.sha256()
    for mod in (datagen, imageops, orc):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(_MM_DIR, f"{name}.{h.hexdigest()[:10]}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(_MM_DIR, exist_ok=True)
    if name == "mm_scenes":
        t = datagen.gen_scenes(n_scenes=150, paths=6, rows=6, seed=42)
        exp = [orc.image_invariants_scalar(r) for r in t.to_pylist()]
        cols = [
            ("exp_decode_ok", [e[0] for e in exp], pa.bool_()),
            ("exp_phash_match", [e[1] for e in exp], pa.bool_()),
            ("exp_caption_ok", [e[2] for e in exp], pa.bool_()),
        ]
    elif name == "mm_videos":
        t = datagen.gen_videos(n=24, seed=42)
        rows = [orc.video_frames_scalar(r, 3) for r in t.to_pylist()]
        cols = [
            ("exp_frame_idx", [[f[0] for f in rs] for rs in rows],
             pa.list_(pa.int32())),
            ("exp_frame_phash", [[f[1] for f in rs] for rs in rows],
             pa.list_(pa.int64())),
            ("exp_decode_ok", [[f[2] for f in rs] for rs in rows],
             pa.list_(pa.bool_())),
        ]
    elif name == "mm_audio":
        t = datagen.gen_audio(n=32, seed=42)
        feats = [orc.audio_features_scalar(r) for r in t.to_pylist()]
        cols = [
            ("exp_rate", [f[0] for f in feats], pa.int32()),
            ("exp_n_samples", [f[1] for f in feats], pa.int32()),
            ("exp_rms", [f[2] for f in feats], pa.float64()),
            ("exp_zcr", [f[3] for f in feats], pa.float64()),
            ("exp_decode_ok", [f[4] for f in feats], pa.bool_()),
        ]
    else:
        raise ValueError(f"unknown multimodal fixture {name!r}")
    for cname, vals, typ in cols:
        t = t.append_column(cname, pa.array(vals, typ))
    # unique tmp + atomic rename: concurrent callers (driver threads)
    # each build the identical deterministic table; last rename wins
    import threading

    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
    datagen.write_parquet(t, tmp)
    os.replace(tmp, path)
    # GC superseded generations (ADVICE r4): every datagen/oracle/
    # imageops edit mints a new hash, so without this the dir grows one
    # stale parquet per fixture per edit. Only generations idle for
    # >1 h are removed: a path handed to a concurrently-running older-
    # code process may not be OPENED yet (lazy scan), and POSIX handle
    # retention protects only already-open files — the age guard covers
    # that returned-path-then-lazy-read window.
    import glob
    import time as _time

    for old in glob.glob(os.path.join(_MM_DIR, f"{name}.*.parquet")):
        if old == path:
            continue
        try:
            if _time.time() - os.path.getmtime(old) > 3600:
                os.remove(old)
        except OSError:
            pass
    return path


def _engine_scenes(spark):
    """Deterministic synthetic scenes parquet (stable on-disk path)."""
    _ship_package(spark)
    return spark.read.parquet(_mm_fixture_path("mm_scenes"))


def _part_scenes(spark, sf_dir):
    """Scene table derived from `part`: the same footprint lattice as
    q_geo_bbox_filter/q_geo_cover_count plus image_id/date/cloud."""
    p = _t(spark, sf_dir, "part")
    w = F.pmod(F.col("p_partkey") * 7, F.lit(300)) - 160.0 + 0.001
    s = F.pmod(F.col("p_partkey") * 13, F.lit(120)) - 65.0 + 0.001
    base = p.select(
        F.format_string("S%06d_T1", F.col("p_partkey")).alias("image_id"),
        F.pmod(F.col("p_partkey"), F.lit(50)).cast("int").alias("path"),
        F.pmod(F.col("p_partkey"), F.lit(37)).cast("int").alias("row"),
        F.date_add(
            F.to_date(F.lit("2019-01-01")),
            F.pmod(F.col("p_partkey"), F.lit(1000)).cast("int"),
        ).cast("timestamp").alias("acquisition_date"),
        F.pmod(F.col("p_partkey") * 17, F.lit(101)).cast("double").alias(
            "cloud_cover"
        ),
        w.alias("min_lon"),
        s.alias("min_lat"),
        (w + 3.7).alias("max_lon"),
        (s + 2.9).alias("max_lat"),
    )
    return base.withColumn(
        # CLOSED ring (first == last): geometry.pad_rings' contract —
        # an open rectangle is masked today (every bbox-cover candidate
        # genuinely intersects an axis-aligned rect) but corrupts PIP
        # parity the moment a non-rectangular footprint reuses this
        # pattern (r4 review)
        "fp_xs",
        F.array("min_lon", "max_lon", "max_lon", "min_lon", "min_lon"),
    ).withColumn(
        "fp_ys",
        F.array("min_lat", "min_lat", "max_lat", "max_lat", "min_lat"),
    )


PART_SCENES_SQL = (
    "SELECT printf('S%06d_T1', p_partkey) AS image_id, "
    "epoch(TIMESTAMP '2019-01-01' + INTERVAL ((p_partkey % 1000)) DAY) AS ts, "
    "CAST((p_partkey * 17) % 101 AS DOUBLE) AS cloud_cover, "
    "((p_partkey * 7) % 300) - CAST(160.0 AS DOUBLE) + 0.001 AS w, "
    "((p_partkey * 13) % 120) - CAST(65.0 AS DOUBLE) + 0.001 AS s, "
    "((p_partkey * 7) % 300) - CAST(160.0 AS DOUBLE) + 0.001 + 3.7 AS e, "
    "((p_partkey * 13) % 120) - CAST(65.0 AS DOUBLE) + 0.001 + 2.9 AS n "
    "FROM part"
)


def _cover_cte_sql(src_cte: str, id_cols: str, z: int) -> str:
    """SQL cover: `src_cte` provides (id_cols..., w, s, e, n); emits
    (id_cols..., x, y) — one row per covered tile, the same epsilon
    convention as tilemath.cover_ranges (validated by geo_cover_count)."""
    return (
        f"SELECT {id_cols}, gx.x AS x, gy.y AS y FROM ("
        f"SELECT {id_cols}, "
        + _tile_sql("w", "n", z, "x0", "y0")
        + ", "
        + _tile_sql(f"e - {LL_EPSILON}", f"s + {LL_EPSILON}", z, "x1", "y1")
        + f" FROM {src_cte}) cr, "
        "unnest(generate_series(cr.x0, cr.x1)) AS gx(x), "
        "unnest(generate_series(cr.y0, cr.y1)) AS gy(y)"
    )


def q_mosaic_assignments(spark, sf_dir):
    """E1 flagship mosaic pipeline over part-derived footprints: filter
    → fused explode (exact polygon∩tile on the rect ring) → one-exchange
    newest-first selection → (quadkey, asset, rank)."""
    from mosaic_engine import mosaic as mz

    cfg = ops.MosaicConfig(
        quadkey_zoom=Z_MOSAIC, preference="newest", optimized_selection=False
    )
    assign = mz.quadkey_assignments(_part_scenes(spark, sf_dir), cfg)
    rel = ops.assignments_relational(assign)
    return rel.select("quadkey", "asset", F.col("rank").cast("int").alias("rank"))


def sql_mosaic_assignments():
    return (
        f"WITH b AS ({PART_SCENES_SQL}), "
        f"c AS ({_cover_cte_sql('b', 'image_id, ts, cloud_cover', Z_MOSAIC)}), "
        "r AS (SELECT x, y, image_id, row_number() OVER ("
        "PARTITION BY x, y ORDER BY ts DESC, cloud_cover ASC, image_id ASC"
        ") AS rnk FROM c) "
        f"SELECT {_quadkey_sql('x', 'y', Z_MOSAIC)} AS quadkey, "
        "image_id AS asset, CAST(rnk AS INTEGER) AS rank FROM r"
    )


def _vector_boxes(spark, sf_dir):
    """Vector features (rect rings) derived from `supplier`."""
    sup = _t(spark, sf_dir, "supplier")
    w = F.pmod(F.col("s_suppkey") * 11, F.lit(320)) - 165.0 + 0.0013
    s = F.pmod(F.col("s_suppkey") * 29, F.lit(110)) - 60.0 + 0.0013
    return sup.select(
        F.col("s_suppkey").alias("feature_id"),
        F.array(w, w + 2.1, w + 2.1, w, w).alias("xs"),
        F.array(s, s, s + 1.7, s + 1.7, s).alias("ys"),
    )


VECTOR_BOXES_SQL = (
    "SELECT s_suppkey AS feature_id, "
    "((s_suppkey * 11) % 320) - CAST(165.0 AS DOUBLE) + 0.0013 AS w, "
    "((s_suppkey * 29) % 110) - CAST(60.0 AS DOUBLE) + 0.0013 AS s, "
    "((s_suppkey * 11) % 320) - CAST(165.0 AS DOUBLE) + 0.0013 + 2.1 AS e, "
    "((s_suppkey * 29) % 110) - CAST(60.0 AS DOUBLE) + 0.0013 + 1.7 AS n "
    "FROM supplier"
)


def q_rv_join(spark, sf_dir):
    """J4 raster↔vector quadkey equi-join: part-derived scene footprints
    × supplier-derived vector features, both through the fused explode
    kernel, joined on the packed cell key."""
    return ops.raster_vector_join(
        _part_scenes(spark, sf_dir), _vector_boxes(spark, sf_dir), Z_TILE
    )


def sql_rv_join():
    return (
        f"WITH b AS ({PART_SCENES_SQL}), "
        f"sc AS ({_cover_cte_sql('b', 'image_id', Z_TILE)}), "
        f"v AS ({VECTOR_BOXES_SQL}), "
        f"vc AS ({_cover_cte_sql('v', 'feature_id', Z_TILE)}) "
        f"SELECT {_quadkey_sql('sc.x', 'sc.y', Z_TILE)} AS quadkey, "
        "image_id, feature_id "
        "FROM sc JOIN vc ON sc.x = vc.x AND sc.y = vc.y"
    )


def q_knn_banded(spark, sf_dir):
    """J3 cell-stats-pruned exact kNN (ops.knn_join): 3 nearest
    part-derived scene centroids per supplier probe point; oracle =
    brute-force SQL (valid because the operator is provably exact —
    pytest asserts equality with knn_bruteforce on adversarial probes)."""
    scenes = _part_scenes(spark, sf_dir)
    probes = _supplier_points(spark, sf_dir, x="lon", y="lat").select(
        F.col("s_suppkey").alias("query_id"), "lon", "lat"
    )
    res = ops.knn_join(scenes, probes, k=3, level=Z_MOSAIC)
    return res.select(
        "query_id", "rank", "image_id", F.round("dist_m", 3).alias("dist_m")
    )


def sql_knn_banded():
    hav = _hav_sql("lon", "lat", "cx", "cy")
    return (
        f"WITH b AS ({PART_SCENES_SQL}), "
        "c AS (SELECT image_id, (w + e) / 2 AS cx, (s + n) / 2 AS cy FROM b), "
        f"q AS (SELECT s_suppkey AS query_id, qx AS lon, qy AS lat "
        f"FROM ({_supplier_points_sql()})), "
        f"d AS (SELECT query_id, image_id, {hav} AS dist_m FROM q CROSS JOIN c), "
        "r AS (SELECT query_id, image_id, dist_m, "
        "row_number() OVER (PARTITION BY query_id ORDER BY dist_m, image_id) AS rnk FROM d) "
        "SELECT query_id, CAST(rnk AS INTEGER) AS rank, image_id, "
        "round(dist_m, 3) AS dist_m FROM r WHERE rnk <= 3"
    )


def _land_boxes(spark, sf_dir):
    """Land-mask rects derived from `nation` (wide boxes so some tiles
    under land carry no scene — the gaps the anti join must find)."""
    n = _t(spark, sf_dir, "nation")
    w = F.pmod(F.col("n_nationkey") * 23, F.lit(280)) - 150.0 + 0.0017
    s = F.pmod(F.col("n_nationkey") * 31, F.lit(100)) - 55.0 + 0.0017
    return n.select(
        F.col("n_nationkey").alias("land_id"),
        F.array(w, w + 24.0, w + 24.0, w, w).alias("xs"),
        F.array(s, s, s + 16.0, s + 16.0, s).alias("ys"),
    )


LAND_BOXES_SQL = (
    "SELECT n_nationkey AS land_id, "
    "((n_nationkey * 23) % 280) - CAST(150.0 AS DOUBLE) + 0.0017 AS w, "
    "((n_nationkey * 31) % 100) - CAST(55.0 AS DOUBLE) + 0.0017 AS s, "
    "((n_nationkey * 23) % 280) - CAST(150.0 AS DOUBLE) + 0.0017 + 24.0 AS e, "
    "((n_nationkey * 31) % 100) - CAST(55.0 AS DOUBLE) + 0.0017 + 16.0 AS n "
    "FROM nation"
)


def q_missing_quadkeys(spark, sf_dir):
    """J5/E3 anti-join gap detection: land-covered quadkeys with no
    scene in the part-derived mosaic."""
    from mosaic_engine import mosaic as mz

    cfg = ops.MosaicConfig(quadkey_zoom=Z_MOSAIC)
    assign = mz.quadkey_assignments(_part_scenes(spark, sf_dir), cfg)
    return ops.missing_quadkeys(_land_boxes(spark, sf_dir), assign, Z_MOSAIC)


def sql_missing_quadkeys():
    return (
        f"WITH b AS ({PART_SCENES_SQL}), "
        f"sc AS (SELECT DISTINCT x, y FROM ({_cover_cte_sql('b', 'image_id', Z_MOSAIC)})), "
        f"l AS ({LAND_BOXES_SQL}), "
        f"lc AS (SELECT DISTINCT x, y FROM ({_cover_cte_sql('l', 'land_id', Z_MOSAIC)})) "
        f"SELECT {_quadkey_sql('lc.x', 'lc.y', Z_MOSAIC)} AS quadkey FROM lc "
        "WHERE NOT EXISTS (SELECT 1 FROM sc WHERE sc.x = lc.x AND sc.y = lc.y)"
    )


def q_multimodal_image_check(spark, sf_dir):
    """Image payload invariants. Oracled (r4): Spark decodes the
    payload bytes and recomputes phash/caption checks; the DuckDB twin
    selects the expected columns tests/oracle.py's independent scalar
    decoder wrote into the fixture."""
    from mosaic_engine import udfs

    return udfs.image_invariants(_engine_scenes(spark)).select(
        "image_id", "decode_ok", "phash_match", "caption_ok"
    )


def sql_multimodal_image_check():
    p = _mm_fixture_path("mm_scenes")
    return (
        "SELECT image_id, exp_decode_ok AS decode_ok, "
        "exp_phash_match AS phash_match, exp_caption_ok AS caption_ok "
        f"FROM read_parquet('{p}')"
    )


def q_multimodal_video_frames(spark, sf_dir):
    """Video lane: demux ('rawv' real; compressed codecs stubbed) →
    frame-sample → per-frame phash. Oracled (r4): Spark demuxes and
    hashes the frames; the DuckDB twin unnests the per-frame expected
    values computed by tests/oracle.py's scalar demux + integer phash."""
    from mosaic_engine import udfs

    _ship_package(spark)
    vids = spark.read.parquet(_mm_fixture_path("mm_videos"))
    return udfs.video_frame_features(vids, every_n=3).select(
        "video_id", "frame_idx", "frame_phash", "decode_ok"
    )


def sql_multimodal_video_frames():
    p = _mm_fixture_path("mm_videos")
    # parallel UNNESTs of equal-length lists zip positionally in DuckDB
    return (
        "SELECT video_id, UNNEST(exp_frame_idx) AS frame_idx, "
        "UNNEST(exp_frame_phash) AS frame_phash, "
        "UNNEST(exp_decode_ok) AS decode_ok "
        f"FROM read_parquet('{p}')"
    )


def q_multimodal_audio_features(spark, sf_dir):
    """Audio lane: PCM16-WAV decode (real parser; compressed stubbed)
    → duration/RMS/zero-crossings. Oracled (r4): raw float64 rms/zcr
    compare EXACTLY against the stdlib-wave scalar recompute (integer
    accumulation makes every float step order-independent — see
    tests/oracle.py.audio_features_scalar)."""
    from mosaic_engine import udfs

    _ship_package(spark)
    auds = spark.read.parquet(_mm_fixture_path("mm_audio"))
    return udfs.audio_track_features(auds).select(
        "audio_id", "rate", "n_samples", "rms", "zcr", "decode_ok"
    )


def sql_multimodal_audio_features():
    p = _mm_fixture_path("mm_audio")
    return (
        "SELECT audio_id, exp_rate AS rate, exp_n_samples AS n_samples, "
        "exp_rms AS rms, exp_zcr AS zcr, exp_decode_ok AS decode_ok "
        f"FROM read_parquet('{p}')"
    )


# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: derived-point tile
    assignment + per-quadkey aggregation (the engine's A1 shape)."""
    return q_geo_quadkey_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "geo_tile_assign": q_geo_tile_assign,
        "geo_quadkey_agg": q_geo_quadkey_agg,
        "geo_cover_count": q_geo_cover_count,
        "geo_bbox_filter": q_geo_bbox_filter,
        "geo_anti_join": q_geo_anti_join,
        "geo_pip": q_geo_pip,
        "geo_knn_brute": q_geo_knn_brute,
        "geo_tile_bounds": q_geo_tile_bounds,
        "hex_cell_agg": q_hex_cell_agg,
        "hex_kring_agg": q_hex_kring_agg,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_signatures": q_minhash_signatures,
        "dedup_minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_simhash": q_simhash,
        "dedup_ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash_pairs": q_simhash_pairs,
        "dedup_lsh_bucket_stats": q_lsh_bucket_stats,
        "text_lang_id": q_lang_id,
        "text_token_count_bpe": q_token_count_bpe,
        "text_quality": q_quality,
        "text_token_stats": q_token_stats,
        "text_fingerprint": q_fingerprint,
        "text_winnow_fingerprints": q_winnow_fingerprints,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_topk_mp": q_ann_lsh_topk_mp,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_recall_stats": q_ann_recall_stats,
        "dedup_incremental": q_dedup_incremental,
        "embed_neardup": q_embed_neardup,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5ish": q_tpch_q5ish,
        "tpch_q6": q_tpch_q6,
        "events_hourly": q_events_hourly,
        "events_rollup": q_events_rollup,
        "events_sessions": q_events_sessions,
        "events_props": q_events_props,
        "window_topk_orders": q_window_topk_orders,
        "mosaic_assignments": q_mosaic_assignments,
        "rv_join": q_rv_join,
        "knn_banded": q_knn_banded,
        "missing_quadkeys": q_missing_quadkeys,
        "multimodal_image_check": q_multimodal_image_check,
        "multimodal_video_frames": q_multimodal_video_frames,
        "multimodal_audio_features": q_multimodal_audio_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "geo_tile_assign": sql_geo_tile_assign(),
        "geo_quadkey_agg": sql_geo_quadkey_agg(),
        "geo_cover_count": sql_geo_cover_count(),
        "geo_bbox_filter": sql_geo_bbox_filter(),
        "geo_anti_join": sql_geo_anti_join(),
        "geo_pip": sql_geo_pip(),
        "geo_knn_brute": sql_geo_knn_brute(),
        "geo_tile_bounds": sql_geo_tile_bounds(),
        "hex_cell_agg": sql_hex_cell_agg(),
        "hex_kring_agg": sql_hex_kring_agg(),
        "dedup_exact": sql_dedup_exact(),
        "dedup_minhash_signatures": sql_minhash_signatures(),
        "dedup_minhash_lsh_pairs": sql_minhash_lsh_pairs(),
        "dedup_simhash": sql_simhash(),
        "dedup_ngram_jaccard": sql_ngram_jaccard(),
        "dedup_clusters": sql_dedup_clusters(),
        "dedup_simhash_pairs": sql_simhash_pairs(),
        "dedup_lsh_bucket_stats": sql_lsh_bucket_stats(),
        "text_lang_id": sql_lang_id(),
        "text_token_count_bpe": sql_token_count_bpe(),
        "text_quality": sql_quality(),
        "text_token_stats": sql_token_stats(),
        "text_fingerprint": sql_fingerprint(),
        "text_winnow_fingerprints": sql_winnow_fingerprints(),
        "ann_cosine_topk": sql_ann_cosine_topk(),
        "ann_lsh_buckets": sql_ann_lsh_buckets(),
        "ann_lsh_topk": sql_ann_lsh_topk(),
        "ann_lsh_topk_mp": sql_ann_lsh_topk_mp(),
        "ann_ivf_topk": sql_ann_ivf_topk(),
        "ann_recall_stats": sql_ann_recall_stats(),
        "dedup_incremental": sql_dedup_incremental(),
        "embed_neardup": sql_embed_neardup(),
        "tpch_q1": sql_tpch_q1(),
        "tpch_q3": sql_tpch_q3(),
        "tpch_q5ish": sql_tpch_q5ish(),
        "tpch_q6": sql_tpch_q6(),
        "events_hourly": sql_events_hourly(),
        "events_rollup": sql_events_rollup(),
        "events_sessions": sql_events_sessions(),
        "events_props": sql_events_props(),
        "window_topk_orders": sql_window_topk_orders(),
        "mosaic_assignments": sql_mosaic_assignments(),
        "rv_join": sql_rv_join(),
        "knn_banded": sql_knn_banded(),
        "missing_quadkeys": sql_missing_quadkeys(),
        # multimodal lanes (r4): the binary decode/demux/phash/DSP is
        # not SQL-expressible, so the oracle SELECTs expected values
        # that tests/oracle.py's INDEPENDENT pure-stdlib scalar
        # implementations wrote into the fixture parquet at generation
        # time, while the Spark side recomputes them from the payload
        # bytes — rows+schema+hash compare for real
        "multimodal_image_check": sql_multimodal_image_check(),
        "multimodal_video_frames": sql_multimodal_video_frames(),
        "multimodal_audio_features": sql_multimodal_audio_features(),
    }
