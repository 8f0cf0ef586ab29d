"""Default scratch directories are removed at interpreter exit, and
every one of them comes from the single helper in ``tempdirs.py``."""

from __future__ import annotations

import ast
import glob
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "document_text_extraction_spark")

_CHILD = textwrap.dedent("""
    from document_text_extraction_spark.operators.components import (
        connected_components)
    from document_text_extraction_spark.operators.graphrank import (
        hits, pagerank)
    from document_text_extraction_spark.session import get_spark

    spark = get_spark("dte-tempdirs", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g"})
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "id_a long, id_b long")
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                                  "src string, dst string")
    assert connected_components(pairs).count() == 5
    assert pagerank(edges, iterations=2).count() == 3
    assert hits(edges, iterations=2).count() == 3
    spark.stop()
""")


def test_default_work_dirs_removed_at_exit(tmp_path):
    """A fresh interpreter with a private TMPDIR runs the checkpointing
    graph operators with their default ``work_dir`` and exits; none of
    their ``dte_cc_`` / ``dte_pr_`` / ``dte_hits_`` directories may
    remain."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=ROOT)
    p = subprocess.run([sys.executable, "-c", _CHILD], cwd=str(tmp_path),
                       env=env, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    left = sorted(n for n in os.listdir(tmp)
                  if n.startswith(("dte_cc_", "dte_pr_", "dte_hits_")))
    assert not left, left


def test_only_the_helper_calls_mkdtemp():
    """No package module calls ``tempfile.mkdtemp`` except
    ``tempdirs.scratch_dir``, which registers the exit-time removal."""
    bad = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"),
                                 recursive=True)):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        rel = os.path.relpath(path, ROOT)
        for node in ast.walk(tree):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.name if isinstance(node, ast.alias)
                    else None)
            if name == "mkdtemp" and rel != os.path.join(
                    "document_text_extraction_spark", "tempdirs.py"):
                bad.append(f"{rel}:{node.lineno}")
    assert not bad, bad
