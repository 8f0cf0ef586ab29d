"""Enforce the risk-first registry rotation (VERDICT r3 #6).

The correctness driver verifies only the FIRST 50 registry entries per
round, so the convention (queries.py registry comment) is that any
query whose implementing code changed since the last round must sit
inside that window — otherwise a tail query could be edited and ship
with a stale "green last round" claim. This test makes the convention
mechanical:

* base = the most recent ``round N:`` commit (the driver's round
  marker); diff = that commit vs the working tree;
* a registry query is DIRTY if (a) its own function body in queries.py
  changed, (b) a module-level region of queries.py attributed to it
  (its adjacent SQL oracle constant) changed, (c) its source references
  a changed module by name (e.g. ``robots``, ``asof``) or through a
  name queries.py imports from it at top level (``sections_df`` from
  ``operators/sections.py``, the ``ff`` alias of
  ``functions/fields.py``), or (d) it runs
  the extraction pipeline (``_extracted`` / ``extract_df`` /
  ``web_pages_from_documents``) and any core extraction module
  (oracle/kernels/corpus/pipeline/web_pages) changed — deliberately
  pessimistic: false positives force extra re-verification, false
  negatives would hide a stale green;
* every dirty query must be among the first 50 registry entries.

When the dirty set itself exceeds the window (a core-extraction edit
marks every pipeline consumer dirty — 50+ queries), the strict form is
unsatisfiable; the discipline degrades to the strongest checkable
claim: every DIRECTLY-edited query sits inside the window, and the
window holds ONLY dirty queries (no slot is wasted re-verifying a
stale-green while a changed query waits outside). Transitively-dirty
overflow is allowed only in that saturated state.
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import subprocess

import pytest

from document_text_extraction_spark import queries as Q

WINDOW = 50
PKG = "document_text_extraction_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORE_EXTRACTION = {"oracle", "kernels", "corpus", "pipeline",
                   "web_pages"}
_RUNS_EXTRACTION = re.compile(
    r"_extracted\(|extract_df\(|web_pages_from_documents\(|run_extraction\(")


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], capture_output=True, text=True,
                          cwd=ROOT, check=True).stdout


def _base_commit() -> str | None:
    out = _git("log", "--grep", "^round [0-9]*:", "-n", "1",
               "--format=%H").strip()
    return out or None


def _changed_stems(base: str) -> set[str]:
    """Module stems of the package files changed since ``base``; a
    package's ``__init__.py`` counts as the package (``sinks``)."""
    files = _git("diff", "--name-only", base, "--", PKG).splitlines()
    return {f.removesuffix("/__init__.py").removesuffix(".py")
            .rsplit("/", 1)[-1] for f in files if f.endswith(".py")}


def _queries_py_changed_lines(base: str) -> set[int]:
    """New-file line numbers touched in queries.py since ``base``."""
    diff = _git("diff", "-U0", base, "--", f"{PKG}/queries.py")
    lines: set[int] = set()
    for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@",
                         diff, re.M):
        start = int(m.group(1))
        count = int(m.group(2)) if m.group(2) is not None else 1
        lines.update(range(start, start + max(count, 1)))
    return lines


def _attribute_lines_to_queries(changed: set[int]) -> set[str]:
    """Map changed queries.py lines → registry query names: lines in a
    function body belong to it; module-level lines (the SQL constants
    that follow each query in this file's layout) belong to the nearest
    PRECEDING top-level function."""
    src = inspect.getsource(Q)
    tree = ast.parse(src)
    funcs = sorted(
        (n.lineno, max(getattr(n, "end_lineno", n.lineno), n.lineno),
         n.name)
        for n in tree.body if isinstance(n, ast.FunctionDef))
    fn_by_name = {name: (lo, hi) for lo, hi, name in funcs}
    hit_funcs: set[str] = set()
    for ln in changed:
        inside = [name for lo, hi, name in funcs if lo <= ln <= hi]
        if inside:
            hit_funcs.update(inside)
            continue
        preceding = [name for lo, hi, name in funcs if hi < ln]
        if preceding:
            hit_funcs.add(preceding[-1])
    names = set()
    for qname, fn in Q.QUERIES.items():
        if getattr(fn, "__name__", "") in hit_funcs:
            names.add(qname)
    del fn_by_name
    return names


def _imported_stems() -> dict[str, str]:
    """queries.py's top-level imports from this package: bound name →
    stem of the module that defines it (``ff`` → ``fields``,
    ``sections_df`` → ``sections``, ``pipeline`` → ``pipeline``)."""
    stems: dict[str, str] = {}
    for node in ast.parse(inspect.getsource(Q)).body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            obj = getattr(Q, name, None)
            mod = obj if inspect.ismodule(obj) else inspect.getmodule(obj)
            if mod is not None and mod.__name__.startswith(PKG + "."):
                stems[name] = mod.__name__.rsplit(".", 1)[-1]
    return stems


def classify_dirty(stems: set[str], direct: set[str]) -> dict[str, str]:
    """Registry query → why it is dirty (``direct``, ``transitive`` or
    ``transitive-core``), in registry order; clean queries are absent.
    ``stems`` are the changed module stems, ``direct`` the queries
    whose own queries.py lines changed (rules (a)-(d) above)."""
    stems = stems - {"queries"}  # handled at function granularity
    core_changed = bool(stems & CORE_EXTRACTION)
    # import lines or attribute use only — docstring prose ("the
    # corpus", "this pipeline") must not flag; an imported function
    # name (``sections_df``) is specific enough to match bare
    patterns = [rf"^\s*(?:from|import)\b[^\n]*\b{re.escape(s)}\b"
                rf"|\b{re.escape(s)}\s*\." for s in stems]
    for name, stem in _imported_stems().items():
        if stem in stems:
            use = r"\s*\." if inspect.ismodule(getattr(Q, name)) else r"\b"
            patterns.append(rf"\b{re.escape(name)}{use}")
    used = re.compile("|".join(patterns), re.M) if patterns else None
    kinds: dict[str, str] = {}
    for name, fn in Q.QUERIES.items():
        src = inspect.getsource(fn)
        if name in direct:
            kinds[name] = "direct"
        elif used is not None and used.search(src):
            kinds[name] = "transitive"
        elif core_changed and _RUNS_EXTRACTION.search(src):
            kinds[name] = "transitive-core"
    return kinds


def test_imported_names_attribute_their_module():
    """A query that reaches a changed module only through a top-level
    import of queries.py is dirty: ``sections_planted`` calls the
    imported ``sections_df``, ``cv_fields_planted`` uses ``ff.``, the
    alias of ``functions/fields.py``; a package stem (a changed
    ``sinks/__init__.py``) dirties the queries importing from it."""
    assert "sections_planted" in classify_dirty({"sections"}, set())
    assert "cv_fields_planted" in classify_dirty({"fields"}, set())
    assert "wet_roundtrip" in classify_dirty({"sinks"}, set())


def test_changed_queries_sit_inside_driver_window():
    base = _base_commit()
    if base is None:
        pytest.skip("no round marker commit to diff against")
    direct = _attribute_lines_to_queries(_queries_py_changed_lines(base))
    dirty_kind = classify_dirty(_changed_stems(base), direct)
    order = list(Q.QUERIES)
    late = [(p, n) for p, n in enumerate(order)
            if p >= WINDOW and n in dirty_kind]
    if len(dirty_kind) <= WINDOW:
        assert not late, (
            f"queries changed since {base[:9]} but OUTSIDE the driver's "
            f"first-{WINDOW} window (move them to the registry front): "
            f"{late}")
    else:
        # saturated: more dirty queries than window slots — enforce the
        # strongest satisfiable form (see module docstring)
        late_direct = [(p, n) for p, n in late
                       if dirty_kind[n] == "direct"]
        assert not late_direct, (
            f"directly-edited queries OUTSIDE the first-{WINDOW} window "
            f"while the dirty set ({len(dirty_kind)}) overflows it — "
            f"direct edits take priority: {late_direct}")
        wasted = [(p, n) for p, n in enumerate(order[:WINDOW])
                  if n not in dirty_kind]
        assert not wasted, (
            f"dirty set ({len(dirty_kind)}) overflows the "
            f"first-{WINDOW} window, yet these window slots hold "
            f"unchanged (stale-green-safe) queries: {wasted}")


def test_registry_monotone_invariants():
    """Every registry entry has a callable; every oracle key exists in
    the registry (a dangling oracle row would silently never run)."""
    assert all(callable(f) for f in Q.QUERIES.values())
    missing = [k for k in Q.ORACLE_SQL if k not in Q.QUERIES]
    assert not missing, missing
