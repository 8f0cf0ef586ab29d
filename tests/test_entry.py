"""Driver-style correctness harness: run every queries() entry on Spark
and its oracle_sql() on DuckDB over the same parquet, compare rows
order-insensitively (the pre-flight for CORRECTNESS_r{N}.json).
"""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_vs_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(spark_rows) >= 0  # rows-only check
        return
    res = ddb.execute(sql)
    ddb_cols = [d[0] for d in res.description]
    ddb_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(ddb_cols), (
        f"{name}: column mismatch {spark_cols} vs {ddb_cols}")
    assert len(spark_rows) == len(ddb_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(ddb_rows)}")
    a = _rowset(spark_cols, spark_rows)
    b = _rowset(ddb_cols, ddb_rows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_entry_imports_package_from_its_own_checkout():
    """The driver contract must extract with the package that sits
    next to ``__spark_entry__.py``, not one at a fixed path. A fresh
    interpreter imports the entry module first, so no package copy is
    cached from elsewhere."""
    import subprocess
    import sys
    root = os.path.dirname(os.path.abspath(entry_mod.__file__))
    out = subprocess.run(
        [sys.executable, "-c",
         "import __spark_entry__, document_text_extraction_spark as p; "
         "print(__spark_entry__.__file__); print(p.__file__)"],
        cwd=os.path.dirname(root), env={**os.environ, "PYTHONPATH": root},
        capture_output=True, text=True, check=True).stdout.split("\n")
    entry_file, pkg_file = out[0], out[1]
    entry_root = os.path.dirname(os.path.abspath(entry_file))
    assert entry_root == root
    assert os.path.abspath(pkg_file).startswith(entry_root + os.sep)


def test_no_script_hardcodes_the_checkout_path():
    """Scripts and tests find the package and run subprocesses from
    their own checkout: no ``jobs/*.py`` or ``tests/*.py`` file names the
    checkout's absolute path, or puts any absolute literal on
    ``sys.path`` or in a subprocess ``cwd``."""
    import glob
    import re
    root = os.path.dirname(os.path.abspath(entry_mod.__file__))
    literal = re.compile(rf"""["']{re.escape(root)}["'/]""")
    fixed = re.compile(
        r"""(?:sys\.path\.(?:insert|append)\([^)]*|cwd\s*=\s*)["']/""")
    bad = []
    for sub in ("jobs", "tests"):
        for path in sorted(glob.glob(os.path.join(root, sub, "*.py"))):
            with open(path, encoding="utf-8") as f:
                src = f.read()
            if literal.search(src) or fixed.search(src):
                bad.append(os.path.relpath(path, root))
    assert not bad, bad


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "extracted_text" in df.columns
