"""Table IO abstraction — parquet now, Iceberg behind a flag.

The north rule names Iceberg tables as the input
([BASELINE.json:14,16]); this sandbox has no Iceberg runtime jar and no
network (SURVEY.md §0), so `format="iceberg"` raises a clear error here
and activates the real connector wherever
`org.apache.iceberg.spark.IcebergSparkSessionExtensions` is on the
classpath. All engine code takes DataFrames, so the swap is confined to
this module.
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.sql import DataFrame, SparkSession

SNAPSHOT_FILE = "_snapshot.json"


def _has_iceberg(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(
    spark: SparkSession, location: str, fmt: str = "parquet"
) -> DataFrame:
    """location = path (parquet) or catalog.db.table (iceberg)."""
    if fmt == "parquet":
        return spark.read.parquet(location)
    if fmt == "iceberg":
        if not _has_iceberg(spark):
            raise RuntimeError(
                "iceberg runtime jar not on the classpath; add "
                "iceberg-spark-runtime and --conf spark.sql.extensions="
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions (offline sandbox: use "
                "--format parquet)"
            )
        return spark.read.format("iceberg").load(location)
    raise ValueError(f"unknown format {fmt!r}")


def write_table(
    df: DataFrame,
    location: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Write a table; parquet writes also commit a snapshot manifest
    (Iceberg-shaped lineage, VERDICT r4 #4): every write mints a fresh
    snapshot_id, so downstream checkpoint lineage
    (checkpoint.input_snapshot_hash) detects an in-place rewrite even
    on storage where per-file stat metadata is unavailable or forged.
    Real Iceberg tables carry their own snapshots and skip this."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "parquet":
        w.parquet(location)
        # mode="ignore" on an existing table writes NOTHING — minting a
        # fresh snapshot_id over unchanged files would spuriously
        # invalidate every downstream checkpoint (r5 review); keep the
        # old manifest, committing one only if none exists yet
        if mode != "ignore" or read_snapshot_manifest(
            df.sparkSession, location
        ) is None:
            write_snapshot_manifest(df.sparkSession, location)
    elif fmt == "iceberg":
        if not _has_iceberg(df.sparkSession):
            raise RuntimeError("iceberg runtime jar not on the classpath")
        w.format("iceberg").saveAsTable(location)
    else:
        raise ValueError(f"unknown format {fmt!r}")


# ------------------------------- snapshot manifests (Iceberg-shaped)
def _fs_and_path(spark: SparkSession, location: str):
    """Hadoop FileSystem + Path for `location` — resolves any scheme
    Spark can reach (file, hdfs, s3a, ...), so the snapshot machinery
    is not POSIX-bound."""
    jvm = spark._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(location)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def list_data_files(
    spark: SparkSession, location: str
) -> list[tuple[str, int, int]]:
    """Sorted (path, size, mtime_ms) of every DATA file under
    `location` (recursive; hidden `_*`/`.*` files excluded) through
    Hadoop FS. Driver-side metadata listing only — the same listing a
    parquet scan planning pass performs."""
    fs, jpath = _fs_and_path(spark, location)
    root = fs.makeQualified(jpath).toString().rstrip("/")
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        # hidden filter applies to EVERY path component below the table
        # root (r5 review): a crashed concurrent write leaves
        # _temporary/.../part-*.parquet whose basename is not hidden,
        # but no parquet reader would ever scan it — the manifest must
        # not list it as table data. Components above the root (e.g. a
        # dot-dir the table happens to live under) are exempt.
        rel = (
            full[len(root):].lstrip("/")
            if full.startswith(root)
            else st.getPath().getName()
        )
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.append(
            (
                st.getPath().toString(),
                int(st.getLen()),
                int(st.getModificationTime()),
            )
        )
    out.sort()
    return out


def write_snapshot_manifest(spark: SparkSession, location: str) -> dict:
    """Commit a content-addressed snapshot manifest for the table at
    `location`: the file listing (path, size, mtime) plus a
    commit-time nonce, hashed into `snapshot_id`. Every write — even
    one that reproduces identical file names/sizes — is a NEW commit
    with a new id, which is exactly the Iceberg snapshot property
    checkpoint lineage needs. The manifest itself is one small object
    (single-PUT commit, object-store-safe)."""
    files = list_data_files(spark, location)
    listing = "\n".join(f"{p}|{s}|{m}" for p, s, m in files)
    snap = {
        "snapshot_id": hashlib.sha256(
            f"{listing}|commit:{time.time_ns()}".encode()
        ).hexdigest()[:16],
        "committed_at_ns": time.time_ns(),
        "n_files": len(files),
        "files": [
            {"path": p, "size": s, "mtime_ms": m} for p, s, m in files
        ],
    }
    fs, _ = _fs_and_path(spark, location)
    jvm = spark._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(
        location.rstrip("/") + "/" + SNAPSHOT_FILE
    )
    # temp-write + rename (r6 advice): a plain create(overwrite=True)
    # truncates in place, so a crash or concurrent reader mid-write
    # observed a torn manifest — lineage silently degraded to stat/name
    # hashing and write_table(mode='ignore') crashed on the parse.
    # rename is atomic on HDFS/posix; on object stores it's
    # copy+delete, but there the create itself is already a single PUT
    # (no truncate window) and the reader additionally tolerates torn
    # JSON (read_snapshot_manifest).
    tmp = jvm.org.apache.hadoop.fs.Path(
        location.rstrip("/") + "/" + SNAPSHOT_FILE + ".tmp"
    )
    stream = fs.create(tmp, True)
    try:
        stream.write(json.dumps(snap, sort_keys=True).encode())
    finally:
        stream.close()
    # rename FIRST (r6 review): on posix (RawLocalFileSystem) rename
    # overwrites the destination atomically, so there is never a
    # window with NO manifest on disk. Filesystems that refuse to
    # rename over an existing file (HDFS) return false; only then
    # fall back to delete+rename — that window is the API's floor,
    # and read_snapshot_manifest treats absent/torn as degraded, not
    # fatal.
    if not fs.rename(tmp, jpath):
        fs.delete(jpath, False)
        if not fs.rename(tmp, jpath):
            raise IOError(
                f"snapshot manifest commit failed: rename {tmp} -> {jpath}"
            )
    return snap


def read_snapshot_manifest(
    spark: SparkSession, location: str
) -> dict | None:
    """Load the snapshot manifest at `location`, or None if the table
    was not written through write_table (no manifest). A torn/corrupt
    manifest (crash mid-write on a store without atomic rename) is
    treated as ABSENT rather than raised (r6 advice): callers —
    checkpoint lineage and write_table(mode='ignore') — already have a
    defined no-manifest behavior, and a torn file should degrade to
    that, not crash the resume path. A NON-corruption IO error that
    persists across the retry while the object provably EXISTS (or
    while the existence probe fails too) raises
    instead (r7, ADVICE r6): that is an outage, and degrading it to
    'absent' would let write_table(mode='ignore') re-commit a fresh
    snapshot over a healthy manifest; corruption signatures
    (checksum/EOF) keep the torn-write 'absent' contract."""
    fs, _ = _fs_and_path(spark, location)
    jvm = spark._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(
        location.rstrip("/") + "/" + SNAPSHOT_FILE
    )
    if not fs.exists(jpath):
        return None

    def _read():
        stream = fs.open(jpath)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(text)

    try:
        return _read()
    except ValueError:
        return None  # torn JSON
    except Exception:
        # read-side corruption also surfaces as an IO error, not a
        # parse error — e.g. Hadoop's ChecksumFileSystem raising on a
        # manifest truncated behind its .crc sidecar. But an IO error
        # may equally be TRANSIENT (object-store throttling, a network
        # blip), and treating that as 'no manifest' makes
        # write_table(mode='ignore') re-commit a fresh snapshot_id
        # over a healthy manifest — silently invalidating every
        # checkpoint whose lineage embeds the old id (r6 review). One
        # retry separates the two: corruption fails identically twice.
        try:
            return _read()
        except ValueError:
            return None
        except Exception as err:
            # BOTH reads raised non-parse errors. Two distinct worlds
            # share that signature (r7, ADVICE r6):
            #  * CORRUPTION — a manifest torn behind its checksum
            #    sidecar (ChecksumException) or truncated (EOF): the
            #    r6 torn-write contract applies, degrade to 'absent'
            #    so the resume path keeps its defined behavior
            #    (test_torn_snapshot_manifest_degrades_not_crashes);
            #  * a persistent OUTAGE (throttling, network) on a
            #    manifest that provably EXISTS: degrading would let
            #    write_table(mode='ignore') re-commit a fresh
            #    snapshot over a healthy manifest — raise instead and
            #    let the caller retry with backoff.
            sig = f"{type(err).__name__}: {err}"
            corrupt = (
                "ChecksumException" in sig or "EOFException" in sig
            )
            if corrupt:
                return None
            # an existence probe that fails too cannot tell absence
            # from outage: its error propagates, since degrading would
            # reopen the mode='ignore' re-commit hazard
            if fs.exists(jpath):
                raise
            return None
