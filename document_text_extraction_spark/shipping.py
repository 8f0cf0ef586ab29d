"""Ship this package to Spark executors (the ``--py-files`` equivalent).

The driver may create its SparkSession from any working directory;
Python workers then have no path to this repo. ``ensure_package_shipped``
zips the package once per session and registers it with ``addPyFile`` —
exactly what ``spark-submit --py-files dte.zip`` does on a real cluster
(north rule: "run via spark-submit --py-files").

``drop_zip_importers`` keeps that environment cheap for the workers'
import machinery (see its docstring and LIMITS.md §8).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED_SESSIONS: set[int] = set()


def build_package_zip(dest: str | None = None) -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if dest is None:
        dest = os.path.join(
            tempfile.gettempdir(),
            f"document_text_extraction_spark-{os.getpid()}.zip",
        )
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                z.write(full, os.path.relpath(full, root))
    return dest


def ensure_package_shipped(spark: SparkSession) -> None:
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    zip_path = build_package_zip()
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def drop_zip_importers() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    A PySpark worker calls ``importlib.invalidate_caches()`` before every
    task, and in Python 3.11 that makes each cached ``zipimporter``
    re-read its whole archive directory. A worker's path holds
    ``pyspark.zip`` (plus one importer per imported subpackage) and the
    ``spark-core`` jar, so every task paid ~0.2 s before its first row.
    With the entries gone the next ``invalidate_caches()`` has nothing
    to re-read. Later imports still work: ``zipimport`` rebuilds an
    importer from its module-level ``_zip_directory_cache`` without
    reading the archive again. Call it first thing in a task body.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]
