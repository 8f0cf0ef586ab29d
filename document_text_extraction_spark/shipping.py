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

import atexit
import hashlib
import io
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED_SESSIONS: set[int] = set()


def build_package_zip(dest: str | None = None) -> str:
    """Zip the package's ``.py`` sources to ``dest``; returns the path.

    Entries carry a fixed timestamp, so equal sources give equal bytes.
    With no ``dest`` the zip goes to the temp dir under a name taken
    from its content: every driver that ships the same sources reuses
    one file instead of leaving one behind per process.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        for dirpath, dirnames, filenames in os.walk(pkg_dir):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                info = zipfile.ZipInfo(os.path.relpath(full, root))
                info.external_attr = 0o644 << 16
                with open(full, "rb") as f:
                    z.writestr(info, f.read())
    data = buf.getvalue()
    shared = dest is None
    if shared:
        digest = hashlib.sha256(data).hexdigest()[:16]
        dest = os.path.join(tempfile.gettempdir(),
                            f"document_text_extraction_spark-{digest}.zip")
        # the temp dir is shared: reuse the file only if it holds
        # exactly these bytes, never a truncated or planted one
        if _holds(dest, data):
            return dest
    # write a private file, then rename: a concurrent driver never
    # reads a partial zip (the .zip suffix is what addPyFile puts on
    # the workers' sys.path)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(os.path.abspath(dest)),
                               suffix=".zip")
    with os.fdopen(fd, "wb") as f:
        f.write(data)
    try:
        os.replace(tmp, dest)
    except PermissionError:
        if not shared:
            os.remove(tmp)
            raise
        # another user's file holds the name (a sticky temp dir): ship
        # the private copy and remove it when this driver exits
        atexit.register(os.remove, tmp)
        return tmp
    return dest


def _holds(path: str, data: bytes) -> bool:
    """True if ``path`` is a regular file whose bytes are ``data``."""
    try:
        if (not os.path.isfile(path)
                or os.path.getsize(path) != len(data)):
            return False
        with open(path, "rb") as f:
            return f.read() == data
    except OSError:
        return False


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
