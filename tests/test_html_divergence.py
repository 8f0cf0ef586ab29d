"""Pin the measured tokenizer-vs-tree-parser divergence at zero
(VERDICT r4 #6; harness = jobs/html_divergence.py, numbers recorded in
LIMITS.md §2). If an extractor change re-introduces divergence on any
pathological-markup class, this fails with the class name."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobs.html_divergence import CLASSES, measure  # noqa: E402


def test_zero_divergence_on_all_pathological_classes():
    results = measure(n_per_class=60, seed=7, verbose=False)
    assert set(results) == set(CLASSES)
    bad = {cls: f"{d}/{n}" for cls, (d, n, _) in results.items() if d}
    assert not bad, bad
