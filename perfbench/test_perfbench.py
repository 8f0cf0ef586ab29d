"""Self-test of the benchmark: ``python3 -m pytest perfbench -q``.

The small-input mode (sf0.001 tables) drives every workload through its
checks and its traced run; the failure test proves the benchmark refuses
a directory that holds only the benchmark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent
CHECKOUT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import checks  # noqa: E402
import probes  # noqa: E402
import run as bench  # noqa: E402


def _bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_golden_is_ten_word_lines():
    text = " ".join(f"w{i}" for i in range(23))
    lines = checks.golden(text).split("\n")
    assert [len(ln.split(" ")) for ln in lines] == [10, 10, 3]


def test_self_time_subtracts_union_of_children():
    tr = probes.Tracer()
    root = probes.Span(0, "job", None, 0.0, 10.0)
    tr.spans = [root,
                probes.Span(1, "a", 0, 1.0, 4.0),
                probes.Span(2, "b", 0, 3.0, 6.0),   # overlaps a
                probes.Span(3, "c", 0, 8.0, 9.0)]
    assert tr.self_time(root) == pytest.approx(10.0 - 5.0 - 1.0)


def test_canonical_digest_ignores_row_order_and_float_noise():
    a = checks.canonical_digest([(1, 0.5000001), (2, 0.25)], ["id", "x"])
    b = checks.canonical_digest([(2, 0.2500000001), (1, 0.5000001)],
                                ["id", "x"])
    assert a == b


@pytest.mark.parametrize("workload,trace", [
    ("crawl_resumable", 0), ("crawl_resumable", 1),
    ("pdf_onepass", 0), ("pdf_onepass", 1), ("dedup_suite", 0),
    ("dedup_suite", 1),
])
def test_small_run_is_correct_and_complete(workload, trace):
    p = _bench(CHECKOUT, "--workload", workload, "--seed", "7",
               "--seconds", "1", "--trace", str(trace), "--small")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    units = bench.PER_LAYER_UNITS if trace else bench.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    listed = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in listed} == units


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(CHECKOUT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(tmp_path, "--workload", "crawl_resumable", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
