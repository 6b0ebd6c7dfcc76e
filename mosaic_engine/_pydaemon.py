"""Python worker daemon whose workers import pyspark from site-packages.

Spark starts the worker daemon with its own `pyspark.zip`,
`py4j-*-src.zip` and `spark-core*.jar` first on `PYTHONPATH`, so every
pyspark package is loaded through a zip importer. Each task then runs
`worker_util.setup_spark_files` → `importlib.invalidate_caches()`,
which makes each of those importers re-read its archive's central
directory (`zipimport._read_directory`): ~0.2 s per task, while the
kernels behind most of our stages run for a few ms.

When the installed pyspark is the same version as Spark's zip, this
daemon drops the three entries (and their cached importers) before
pyspark is imported, then runs `pyspark.daemon.manager()`; the forked
workers import pyspark from site-packages. On any other state it keeps
`sys.path` as Spark built it. `job.make_session` selects it through
`spark.python.daemon.module` on its local branch only.
"""

import importlib.metadata
import os
import re
import sys
import zipfile


def _is_spark_entry(p: str) -> bool:
    name = os.path.basename(p)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.startswith("spark-core") and name.endswith(".jar"))
    )


def _zip_version(path: str) -> str | None:
    with zipfile.ZipFile(path) as z:
        src = z.read("pyspark/version.py").decode()
    m = re.search(r"""__version__[^=]*=\s*["']([^"']+)["']""", src)
    return m.group(1) if m else None


def strip_spark_zips(path: list[str]) -> list[str]:
    """`path` without Spark's pyspark/py4j zips and spark-core jar when
    every `pyspark.zip` on it has the installed pyspark's version; a
    copy of `path` otherwise (no zip, unreadable zip, no install)."""
    try:
        installed = importlib.metadata.version("pyspark")
        shipped = {
            _zip_version(p) for p in path
            if os.path.basename(p) == "pyspark.zip"
        }
    except (OSError, KeyError, ValueError, zipfile.BadZipFile,
            importlib.metadata.PackageNotFoundError):
        return list(path)
    if shipped != {installed}:
        return list(path)
    return [p for p in path if not _is_spark_entry(p)]


def main() -> None:
    kept = strip_spark_zips(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    # `-m` imported this package from the repo dir; forked workers must
    # import it afresh so a --py-files copy still wins over the repo copy
    for name in ("mosaic_engine", "mosaic_engine._pydaemon"):
        sys.modules.pop(name, None)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
