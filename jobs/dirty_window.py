"""Round-work helper: compute the rotation test's dirty set against the
latest ``round N:`` marker commit and report window pressure (see
tests/test_registry_rotation.py — same attribution rules). Run while
editing to keep the dirty set <= 50 minus the slots reserved for
non-dirty re-verifications."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.test_registry_rotation import (  # noqa: E402
    _RUNS_EXTRACTION,
    CORE_EXTRACTION,
    WINDOW,
    _attribute_lines_to_queries,
    _base_commit,
    _changed_stems,
    _queries_py_changed_lines,
)

import inspect  # noqa: E402
import re  # noqa: E402

from document_text_extraction_spark import queries as Q  # noqa: E402


def main() -> None:
    base = _base_commit()
    print(f"base commit: {base[:9]}")
    stems = _changed_stems(base)
    stems.discard("queries")
    direct = _attribute_lines_to_queries(_queries_py_changed_lines(base))
    core_changed = bool(stems & CORE_EXTRACTION)
    print(f"changed stems: {sorted(stems)}  core_changed={core_changed}")
    dirty: dict[str, str] = {}
    for name, fn in Q.QUERIES.items():
        src = inspect.getsource(fn)
        if name in direct:
            dirty[name] = "direct"
        elif any(
            re.search(rf"(?m)^\s*(?:from|import)\b[^\n]*"
                      rf"\b{re.escape(s)}\b|\b{re.escape(s)}\s*\.", src)
            for s in stems
        ):
            dirty[name] = "transitive"
        elif core_changed and _RUNS_EXTRACTION.search(src):
            dirty[name] = "transitive-core"
    order = list(Q.QUERIES)
    print(f"dirty: {len(dirty)} / window {WINDOW}")
    for kind in ("direct", "transitive", "transitive-core"):
        ks = [n for n, k in dirty.items() if k == kind]
        print(f"  {kind} ({len(ks)}): {ks}")
    late = [(p, n) for p, n in enumerate(order) if p >= WINDOW and n in dirty]
    print(f"dirty outside window: {late}")
    free = [n for n in order[:WINDOW] if n not in dirty]
    print(f"non-dirty window slots ({len(free)}): {free}")


if __name__ == "__main__":
    main()
