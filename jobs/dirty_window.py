"""Round-work helper: compute the rotation test's dirty set against the
latest ``round N:`` marker commit and report window pressure (see
tests/test_registry_rotation.py — it owns the attribution rules, this
script only prints them). Run while editing to keep the dirty set <= 50
minus the slots reserved for non-dirty re-verifications."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.test_registry_rotation import (  # noqa: E402
    CORE_EXTRACTION,
    WINDOW,
    _attribute_lines_to_queries,
    _base_commit,
    _changed_stems,
    _queries_py_changed_lines,
    classify_dirty,
)

from document_text_extraction_spark import queries as Q  # noqa: E402


def main() -> None:
    base = _base_commit()
    print(f"base commit: {base[:9]}")
    stems = _changed_stems(base) - {"queries"}
    direct = _attribute_lines_to_queries(_queries_py_changed_lines(base))
    print(f"changed stems: {sorted(stems)}  "
          f"core_changed={bool(stems & CORE_EXTRACTION)}")
    dirty = classify_dirty(stems, direct)
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
