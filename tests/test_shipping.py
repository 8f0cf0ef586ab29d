"""The executors' Python environment: ``shipping.drop_zip_importers``
empties the importer cache of zip archives without breaking imports
from them, and the extraction task body calls it (LIMITS.md §8)."""

import hashlib
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from document_text_extraction_spark import corpus, pipeline, shipping


def _zip_importers() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


@pytest.fixture
def zip_package(tmp_path):
    """A zip holding a two-module package, first on ``sys.path``."""
    name = "dte_zip_probe_pkg"
    path = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}/__init__.py", "")
        z.writestr(f"{name}/first.py", "VALUE = 1\n")
        z.writestr(f"{name}/second.py", "VALUE = 2\n")
    sys.path.insert(0, path)
    try:
        yield name, path
    finally:
        sys.path.remove(path)
        for mod in [m for m in sys.modules if m.split(".")[0] == name]:
            del sys.modules[mod]
        for p in [p for p in sys.path_importer_cache
                  if p.startswith(path)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(path, None)


def test_drop_zip_importers_keeps_zip_imports_working(zip_package,
                                                      monkeypatch):
    name, path = zip_package
    first = importlib.import_module(f"{name}.first")
    assert first.VALUE == 1
    assert any(p.startswith(path) for p in _zip_importers())

    shipping.drop_zip_importers()
    assert _zip_importers() == []

    # neither the worker's per-task invalidate_caches() nor a later
    # import reads the archive directory again
    reads: list[str] = []

    def no_reread(archive):
        reads.append(archive)
        raise AssertionError(f"re-read {archive}")

    monkeypatch.setattr(zipimport, "_read_directory", no_reread)
    importlib.invalidate_caches()
    second = importlib.import_module(f"{name}.second")
    assert second.VALUE == 2
    assert isinstance(second.__loader__, zipimport.zipimporter)
    assert second.__file__.startswith(path)
    assert reads == []


def _one_batch() -> pd.DataFrame:
    rows = list(corpus.synth_rows(40))
    return pd.DataFrame({
        "url": [r["url"] for r in rows],
        "html": [r["html"] for r in rows],
        "part_bucket": [i % 8 for i in range(len(rows))],
    })


def _stable(frame: pd.DataFrame) -> pd.DataFrame:
    # elapsed_ms is a timing, the only value that differs run to run
    out = frame.copy()
    out["lineage"] = [{k: v for k, v in d.items() if k != "elapsed_ms"}
                      for d in out["lineage"]]
    return out


def test_extract_iter_drops_zip_importers(zip_package, monkeypatch):
    _name, path = zip_package
    batch = _one_batch()
    with monkeypatch.context() as m:
        m.setattr(shipping, "drop_zip_importers", lambda: None)
        before = list(pipeline._extract_iter(iter([batch.copy()])))
    seeded = path + "/seeded"
    sys.path_importer_cache[seeded] = zipimport.zipimporter(path)
    after = list(pipeline._extract_iter(iter([batch.copy()])))
    assert seeded not in sys.path_importer_cache
    assert _zip_importers() == []
    assert len(before) == len(after) == 1
    pd.testing.assert_frame_equal(_stable(before[0]), _stable(after[0]))


_SHIP_IN_FRESH_DRIVER = """
import sys, types
sys.path.insert(0, sys.argv[1])
from document_text_extraction_spark import shipping
shipped = []
session = types.SimpleNamespace(
    sparkContext=types.SimpleNamespace(addPyFile=shipped.append))
shipping.ensure_package_shipped(session)
print(shipped[0])
"""


@pytest.mark.parametrize("planted", [None, b"PK\x03\x04 stale"],
                         ids=["empty", "stale_file"])
def test_drivers_share_one_package_zip(tmp_path, planted):
    """Two driver processes that ship the same sources leave one zip in
    the temp dir between them, not one each, and it holds the package.
    A file already under that name with other bytes is replaced, never
    shipped."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ref = shipping.build_package_zip(str(tmp_path / "ref.zip"))
    with open(ref, "rb") as f:
        want = f.read()
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    if planted is not None:
        digest = hashlib.sha256(want).hexdigest()[:16]
        (tmp / f"document_text_extraction_spark-{digest}.zip").write_bytes(
            planted)
    env = dict(os.environ, TMPDIR=str(tmp))
    shipped = [subprocess.run(
        [sys.executable, "-c", _SHIP_IN_FRESH_DRIVER, root], env=env,
        capture_output=True, text=True, check=True).stdout.strip()
        for _ in range(2)]
    zips = sorted(tmp.glob("document_text_extraction_spark-*.zip"))
    assert [str(z) for z in zips] == shipped[:1] == shipped[1:]
    assert zips[0].read_bytes() == want
    with zipfile.ZipFile(zips[0]) as z:
        assert "document_text_extraction_spark/pipeline.py" in z.namelist()
    assert os.listdir(tmp) == [zips[0].name]
