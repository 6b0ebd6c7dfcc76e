"""The worker daemon's path choice: Spark's pyspark/py4j zips and the
spark-core jar leave the workers' sys.path only when the installed
pyspark is the zip's version; every other state keeps Spark's path."""

from __future__ import annotations

import importlib.metadata
import json
import os
import sys
import zipfile

import pyspark
import pytest

from mosaic_engine import _pydaemon

INSTALLED = importlib.metadata.version("pyspark")
# the real one: main() reads the installed version through sys.path
SITE = os.path.dirname(os.path.dirname(pyspark.__file__))


def _version_py(v):
    return f"__version__: str = '{v}'\n"


def _spark_zips(d, version_py=_version_py(INSTALLED)):
    """Spark's three path entries under `d`; pyspark.zip holds
    `version_py` as pyspark/version.py (None: no such file)."""
    pz = os.path.join(d, "pyspark.zip")
    with zipfile.ZipFile(pz, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        if version_py is not None:
            z.writestr("pyspark/version.py", version_py)
    py4j = os.path.join(d, "py4j-0.10.9.9-src.zip")
    jar = os.path.join(d, "spark-core_2.13-4.1.2.jar")
    for p in (py4j, jar):
        with zipfile.ZipFile(p, "w") as z:
            z.writestr("x.txt", "")
    return pz, py4j, jar


def _path(tmp_path, pz, py4j, jar):
    """A worker-like path: Spark's entries first, then the repo, user
    zips (one whose name starts like py4j's) and site-packages."""
    user = str(tmp_path / "user_deps.zip")
    return [
        str(tmp_path / "daemon_dir"), pz, py4j, jar, "/repo",
        user, str(tmp_path / "py4j-notes.zip"), SITE,
    ]


def test_matching_version_strips_exactly_spark_entries(tmp_path):
    pz, py4j, jar = _spark_zips(str(tmp_path))
    path = _path(tmp_path, pz, py4j, jar)
    kept = _pydaemon.strip_spark_zips(path)
    assert kept == [p for p in path if p not in (pz, py4j, jar)]
    assert len(path) == 8  # input untouched


VERSION_PY = {
    "mismatch": _version_py("3.5.1"),
    "no_version_py": None,
    "unversioned_version_py": "VERSION = 1\n",
}


@pytest.mark.parametrize("state", [
    *VERSION_PY, "garbage_zip", "missing_zip", "no_pyspark_zip", "not_installed",
])
def test_unverifiable_state_keeps_path(tmp_path, monkeypatch, state):
    pz, py4j, jar = _spark_zips(
        str(tmp_path), VERSION_PY.get(state, _version_py(INSTALLED))
    )
    if state == "garbage_zip":
        with open(pz, "wb") as f:
            f.write(b"not a zip")
    if state == "missing_zip":
        os.remove(pz)
    if state == "not_installed":
        def missing(name):
            raise importlib.metadata.PackageNotFoundError(name)

        monkeypatch.setattr(_pydaemon.importlib.metadata, "version", missing)
    path = _path(tmp_path, pz, py4j, jar)
    if state == "no_pyspark_zip":
        path.remove(pz)
    assert _pydaemon.strip_spark_zips(path) == path


def test_main_strips_path_and_forgets_package(tmp_path, monkeypatch):
    """main() drops the entries and their cached importers and forgets
    the mosaic_engine modules before the daemon forks any worker."""
    from pyspark import daemon

    pz, py4j, jar = _spark_zips(str(tmp_path))
    path = _path(tmp_path, pz, py4j, jar)
    monkeypatch.setattr(sys, "path", list(path))
    for p in (pz, py4j, jar):
        monkeypatch.setitem(sys.path_importer_cache, p, None)
    for name in ("mosaic_engine", "mosaic_engine._pydaemon"):
        monkeypatch.setitem(sys.modules, name, sys.modules[name])
    seen = {}

    def manager():
        seen["path"] = list(sys.path)
        seen["cached"] = [p for p in (pz, py4j, jar) if p in sys.path_importer_cache]
        seen["modules"] = [
            n for n in ("mosaic_engine", "mosaic_engine._pydaemon") if n in sys.modules
        ]

    monkeypatch.setattr(daemon, "manager", manager)
    _pydaemon.main()
    assert seen == {
        "path": [p for p in path if p not in (pz, py4j, jar)],
        "cached": [],
        "modules": [],
    }


def test_session_workers_import_pyspark_outside_spark_zips(spark):
    """A Python task under make_session imports pyspark from
    site-packages and has none of Spark's zips on its path."""
    import pyarrow as pa

    def probe(batches):
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pyspark": [pyspark.__file__], "path": [json.dumps(sys.path)]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "pyspark string, path string")
        .collect()[0]
    )
    assert ".zip" not in row["pyspark"] and ".jar" not in row["pyspark"]
    assert os.path.basename(os.path.dirname(os.path.dirname(row["pyspark"]))) in (
        "site-packages", "dist-packages",
    )
    worker_path = json.loads(row["path"])
    assert not [p for p in worker_path if _pydaemon._is_spark_entry(p)]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(_pydaemon.__file__)))
    assert repo in worker_path
