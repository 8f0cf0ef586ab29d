#!/usr/bin/env python3
"""The repository benchmark: three workloads at ``local[<cores>]``.

    python3 perfbench/run.py --workload crawl_resumable --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds the run's details (input identity, every job time, the
check results). With ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones (see ``perfbench/README.md``).
``--small`` swaps in the sf0.001 tables for a quick self-test.

Warm-up policy, identical for every commit: none. After set-up, each run
times whole jobs back to back until ``--seconds`` have passed and
reports the median; every job here outlasts the seconds a run measures,
so the timed job is the first extraction job (or query pass) of its
session, as a submitted job's is. Its query compilation, JIT warm-up
and Python worker start (first jobs run up to 3x slower than repeats)
are part of what is measured. Set-up runs the program's input
preparation once, cold, and times it whole.

Everything the run writes goes under ``.perfbench/`` in the checkout
(the page cache and results persist; the per-run work directory,
Spark's scratch, warehouse and outputs are deleted at exit).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
CHECKOUT = BENCH_DIR.parent
WORK_ROOT = CHECKOUT / ".perfbench"

N_BUCKETS = 256
SLICE_BUCKETS = 64
DRIVER_MEMORY = "3g"
DEDUP_QUERIES = ("minhash_neardup", "ngram_jaccard", "exact_substring_spans",
                 "simhash_neardup", "winnow_overlap", "semdedup",
                 "curate_corpus")
# in-process kernel sample per route (docs)
KERNEL_SAMPLE = {"html": 1500, "pdf": 1000, "docx": 250, "junk": 250}
KERNEL_REPEATS = 3

WORKLOADS = {
    # name: (replica blocks at full size, replica blocks with --small)
    "crawl_resumable": (5, 1),
    "pdf_onepass": (12, 1),
    "dedup_suite": (0, 0),
}

END_TO_END_UNITS = {"setup_s": "s", "docs_per_s": "docs/s",
                    "ok_share": "share"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "pipeline.salt_plan_s": "s",
    "pipeline.salted_buckets": "count",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.shuffle_read_bytes": "bytes",
    "pipeline.shuffle_fetch_wait_s": "s",
    "pipeline.spill_bytes": "bytes",
    "pipeline.map_tasks": "count",
    "pipeline.map_run_s": "s",
    "pipeline.map_task_skew": "ratio",
    "pipeline.boundary_s": "s",
    "pipeline.core_efficiency": "ratio",
    "kernels.html_docs_per_core_s": "docs/s",
    "kernels.pdf_docs_per_core_s": "docs/s",
    "kernels.docx_docs_per_core_s": "docs/s",
    "kernels.doc_p50_ms": "ms",
    "kernels.doc_p99_ms": "ms",
    "kernels.parse_failures": "count",
    "pipeline.sink_s": "s",
    "pipeline.output_bytes": "bytes",
    "pipeline.output_files": "count",
    "pipeline.slices_committed": "count",
    **{f"operators.{q}_s": "s" for q in DEDUP_QUERIES},
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_skew": "ratio",
    "trace.job_s": "s",
    "trace.unattributed_s": "s",
    "trace.docs_per_s": "docs/s",
}


def import_package() -> None:
    """Import the package of THIS checkout and refuse any other copy."""
    sys.path.insert(0, str(CHECKOUT))
    import document_text_extraction_spark as pkg
    where = Path(pkg.__file__).resolve()
    if CHECKOUT not in where.parents:
        raise SystemExit(f"package imported from {where}, outside the "
                         f"checkout under test {CHECKOUT}")


def isolate(work: Path) -> dict:
    """Point every scratch location of Python, the JVM and Spark into
    the run's work directory; returns the Spark conf that does it."""
    for d in ("tmp", "local", "warehouse", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # JVMs write hsperfdata under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = None
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work / 'derby'}",
    }


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    import subprocess

    from pyspark import SparkContext

    import probes
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while probes.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def timed_loop(job, seconds: float) -> list[float]:
    """Run ``job(i)`` back to back until ``seconds`` have passed (at
    least once); returns each job's wall time."""
    times: list[float] = []
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        job(len(times))
        times.append(time.perf_counter() - t0)
        if time.perf_counter() - start >= seconds:
            return times


class Run:
    """State of one benchmark run: arguments, session, tracer."""

    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.cache = WORK_ROOT / "cache"
        self.sf = "sf0.001" if args.small else "sf0.1"
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = None
        self.spark = None
        self.session_s = 0.0
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "small": args.small,
                             "cores": self.cores}

    def span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name)

    def start(self, conf: dict) -> None:
        from document_text_extraction_spark import session, shipping
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = session.get_spark(
                master=f"local[{self.cores}]", extra_conf=conf)
        with self.span("shipping.ensure_package_shipped"):
            shipping.ensure_package_shipped(self.spark)
        self.session_s = time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Extraction workloads
# ---------------------------------------------------------------------------

def _kernel_rates(tbl) -> dict[str, float]:
    """Single-core ``kernels.extract_batch`` docs/s per planted route,
    in this process, on a fixed sample of the workload's own pages."""
    import pandas as pd

    import inputs
    from document_text_extraction_spark import kernels
    ids = tbl["doc_id"].to_pylist()
    urls = tbl["url"].to_pylist()
    html = tbl["html"].to_pylist()
    by_route: dict[str, list[int]] = {}
    for i in sorted(range(len(ids)), key=ids.__getitem__):
        by_route.setdefault(inputs.route_of(ids[i]), []).append(i)
    rates = {}
    for route, idx in by_route.items():
        idx = idx[:KERNEL_SAMPLE[route]]
        u = pd.Series([urls[i] for i in idx])
        p = pd.Series([html[i] for i in idx])
        times = []
        for _ in range(KERNEL_REPEATS):
            t0 = time.perf_counter()
            for s in range(0, len(idx), 2048):
                kernels.extract_batch(u[s:s + 2048].reset_index(drop=True),
                                      p[s:s + 2048].reset_index(drop=True))
            times.append(time.perf_counter() - t0)
        rates[route] = len(idx) / statistics.median(times)
    return rates


def _output_files(path: Path) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _quantile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


@dataclass
class Extraction:
    """An extraction workload once its input exists: ``job(out_dir)``
    runs the program's job once (returning the manifest when the job
    writes one); ``noop_df()`` plans the same extraction for a noop sink;
    ``scan_df`` is the job's input scan alone; ``pages`` the input pages
    the reported salting plan is made from; ``prep_s`` the program's
    input preparation in set-up."""
    tbl: object
    stats: object
    pages: object
    job: Callable[[Path], dict | None]
    noop_df: Callable[[], object]
    scan_df: object
    prep_s: float = 0.0


def _stage_pages(run: Run, columns: list[str], row_filter=None):
    """Before Spark starts: render (or reuse) the seed's page blocks and
    read the workload's rows; returns (block paths, table, PageStats)."""
    import inputs
    n_blocks = WORKLOADS[run.args.workload][1 if run.args.small else 0]
    blocks = inputs.blocks_for_seed(run.args.seed, n_blocks)
    run.detail["gen_s"] = inputs.ensure_blocks(run.cache, run.sf, blocks)
    paths = inputs.block_paths(run.cache, run.sf, blocks)
    tbl = inputs.read_pages(paths, columns, row_filter)
    stats = inputs.page_stats(tbl)
    run.detail["blocks"] = blocks
    run.detail["block_offsets"] = [b * inputs.BLOCK_STRIDE for b in blocks]
    run.detail["input"] = stats.as_dict()
    return paths, tbl, stats


def stage_crawl_resumable(run: Run):
    return _stage_pages(run, ["doc_id", "url", "html", "text"])


def build_crawl_resumable(run: Run, staged) -> Extraction:
    """Set-up: the program's per-run input preparation (the bucketed
    layout), once and cold; the job is the resumable sliced runner."""
    from document_text_extraction_spark import pipeline

    paths, tbl, stats = staged
    spark = run.spark
    pages = spark.read.parquet(*paths)
    dest = run.work / "bucketed"
    t0 = time.perf_counter()
    pipeline.prepare_bucketed_input(pages, str(dest), n_buckets=N_BUCKETS)
    prep_s = time.perf_counter() - t0
    bucketed = spark.read.parquet(str(dest))

    def job(out: Path) -> dict:
        return pipeline.run_extraction(
            spark, bucketed, str(out), n_buckets=N_BUCKETS,
            slice_buckets=SLICE_BUCKETS)

    def noop_df():
        plan = pipeline.plan_salting(bucketed, N_BUCKETS)
        return pipeline.extract_df(bucketed, n_buckets=N_BUCKETS,
                                   salt_plan=plan)

    return Extraction(tbl, stats, pages, job, noop_df,
                      bucketed.select("url", "html"), prep_s)


def stage_pdf_onepass(run: Run):
    """The workload's input table is its pages alone, written as a
    benchmark input (outside set-up time)."""
    import pyarrow.parquet as pq

    import inputs
    _paths, tbl, stats = _stage_pages(
        run, ["doc_id", "url", "warc_ts", "html", "text", "lang"],
        inputs.pdf_filter)
    src = run.work / "pdf_pages"
    src.mkdir()
    pq.write_table(tbl, src / "part-0.parquet", row_group_size=2048)
    return [str(src)], tbl, stats


def build_pdf_onepass(run: Run, staged) -> Extraction:
    """No program input preparation; the job is salting pre-pass +
    ``extract_df`` + one partitioned parquet write."""
    from document_text_extraction_spark import pipeline

    paths, tbl, stats = staged
    pages = run.spark.read.parquet(*paths)

    def noop_df():
        plan = pipeline.plan_salting(pages, N_BUCKETS)
        return pipeline.extract_df(pages, n_buckets=N_BUCKETS,
                                   salt_plan=plan)

    def job(out: Path) -> None:
        (noop_df().write.mode("overwrite").partitionBy("part_bucket")
         .parquet(str(out)))

    return Extraction(tbl, stats, pages, job, noop_df,
                      pages.select("url", "html"))


def _layer_metrics(run: Run, w: Extraction, job) -> tuple[dict, Path]:
    """The traced run of an extraction workload: the session's first job,
    traced (spans, stage metrics, the checked output); then a repeat of
    the job, the same extraction into a noop sink (map stage; sink share
    = repeat − noop), a scan-only job and the in-process kernel sample.
    Returns (per-layer metrics, traced job output)."""
    from pyspark.sql import DataFrameWriter

    import probes
    from document_text_extraction_spark import pipeline

    spark, tracer = run.spark, run.tracer
    # the session's concrete DataFrame class overrides the public base's
    # actions, so the wrappers go on it
    DataFrame = type(spark.range(0))
    for attr in ("bucket_byte_stats", "plan_salting", "slice_extract_df",
                 "extract_df"):
        tracer.wrap(pipeline, attr, f"pipeline.{attr}")
    # the job's pre-pass (layout probe, salting stats) ends before its
    # first write starts: the stages after that are the extraction's
    first_write: list[int] = []

    def mark_first_write() -> None:
        if not first_write:
            first_write.append(probes.last_stage_id(spark))

    tracer.wrap(DataFrameWriter, "parquet", "spark.write.parquet",
                before=mark_first_write)
    tracer.wrap(DataFrame, "collect", "spark.collect")
    tracer.wrap(DataFrame, "count", "spark.count")
    try:
        with tracer.span("job") as root:
            out_dir = job(0)
    finally:
        tracer.unwrap_all()
    traced_s = root.duration
    extraction = probes.stage_metrics(spark, after=first_write[0])
    run.detail["traced_job_stages"] = [vars(s) for s in extraction]
    ex = probes.sum_stages(extraction)

    # the sink share compares warm repeats: the job again, then the same
    # extraction into a noop sink
    t0 = time.perf_counter()
    job(1)
    repeat_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    noop_df = w.noop_df()
    hwm = probes.last_stage_id(spark)
    noop_df.write.format("noop").mode("overwrite").save()
    noop_s = time.perf_counter() - t0
    map_stages = [s for s in probes.stage_metrics(spark, after=hwm)
                  if s.shuffle_read > 0]
    mp = probes.sum_stages(map_stages)

    t0 = time.perf_counter()
    with tracer.span("sources.scan"):
        w.scan_df.write.format("noop").mode("overwrite").save()
    scan_s = time.perf_counter() - t0

    with tracer.span("kernels.extract_batch"):
        rates = _kernel_rates(w.tbl)
    kernel_s = sum(n / rates[r] for r, n in w.stats.routes.items())
    salt_names = ("pipeline.bucket_byte_stats", "pipeline.plan_salting")
    salt_s = sum(s.duration for s in tracer.spans if s.name in salt_names
                 and tracer.spans[s.parent].name not in salt_names)
    n_files, n_bytes = _output_files(out_dir)
    run.detail["trace_jobs_s"] = {"traced": traced_s, "repeat": repeat_s,
                                  "noop_sink": noop_s, "scan": scan_s,
                                  "kernel_estimate": kernel_s}
    run.detail["kernel_docs_per_core_s"] = rates
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    m.update({
        "sources.scan_s": scan_s,
        "pipeline.salt_plan_s": salt_s,
        "pipeline.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "pipeline.shuffle_read_bytes": ex["shuffle_read_bytes"],
        "pipeline.shuffle_fetch_wait_s": ex["fetch_wait_s"],
        "pipeline.spill_bytes": ex["spill_bytes"],
        "pipeline.map_tasks": mp["tasks"],
        "pipeline.map_run_s": mp["run_s"],
        "pipeline.map_task_skew": probes.task_skew(spark, map_stages),
        "pipeline.boundary_s": mp["run_s"] - kernel_s,
        "pipeline.core_efficiency": kernel_s / (run.cores * traced_s),
        "kernels.html_docs_per_core_s": rates.get("html", 0.0),
        "kernels.pdf_docs_per_core_s": rates.get("pdf", 0.0),
        "kernels.docx_docs_per_core_s": rates.get("docx", 0.0),
        "pipeline.sink_s": repeat_s - noop_s,
        "pipeline.output_bytes": n_bytes,
        "pipeline.output_files": n_files,
        "trace.job_s": traced_s,
        "trace.unattributed_s": tracer.self_time(root),
        "trace.docs_per_s": w.stats.docs / traced_s,
    })
    return m, out_dir


def _check_extraction(run: Run, w: Extraction, out_dir: Path,
                      manifests: list[dict]) -> dict:
    """Check one job's output and the given manifests against the input;
    returns the check fields and records them in the detail."""
    import pyarrow.parquet as pq

    import checks
    junk = {d for d in w.tbl["doc_id"].to_pylist() if d % 20 == 19}
    data = out_dir / "data" if (out_dir / "data").is_dir() else out_dir
    out = pq.read_table(data, columns=["url", "extracted_text", "lineage"])
    res = checks.check_extraction(w.tbl.select(["doc_id", "url", "text"]),
                                  out, junk)
    problems = []
    for m in manifests:
        problems += checks.check_manifest(m, w.stats.docs, w.stats.bytes,
                                          len(junk))
    run.detail["check"] = {"attempted": res.attempted,
                           "failed": res.failed,
                           "problems": res.problems,
                           "manifest_problems": problems,
                           "parse_failures": res.parse_failures}
    return {"attempted": res.attempted, "failed": res.failed,
            "correct": res.failed == 0 and not problems,
            "parse_failures": res.parse_failures,
            "elapsed_ms": res.elapsed_ms}


def run_extraction_workload(run: Run, w: Extraction) -> tuple[dict, dict]:
    from document_text_extraction_spark import pipeline

    run.detail["prep_s"] = w.prep_s
    manifests: list[dict] = []

    def salted_buckets() -> int:
        """The program's salting plan for the input: a Spark job, so it
        runs after the timed jobs."""
        plan = pipeline.plan_salting(w.pages, N_BUCKETS)
        run.detail["salt_plan"] = {str(k): v for k, v in plan.items()}
        run.detail["salted_buckets"] = len(plan)
        return len(plan)

    def job(i: int) -> Path:
        out = run.work / f"out{i}"
        shutil.rmtree(out, ignore_errors=True)
        m = w.job(out)
        if m is not None:
            manifests.append(m)
        return out

    if run.args.trace:
        layer, out_dir = _layer_metrics(run, w, job)
        # the traced job is the first: check its output and manifest
        chk = _check_extraction(run, w, out_dir, manifests[:1])
        layer["pipeline.salted_buckets"] = salted_buckets()
        layer["pipeline.slices_committed"] = sum(
            s["committed"] for s in manifests[0]["slices"].values()
        ) if manifests else 0
        layer["kernels.doc_p50_ms"] = _quantile(chk["elapsed_ms"], 50)
        layer["kernels.doc_p99_ms"] = _quantile(chk["elapsed_ms"], 99)
        layer["kernels.parse_failures"] = chk["parse_failures"]
        return chk, layer

    def timed_job(i: int) -> None:
        job(i)
        shutil.rmtree(run.work / f"out{i - 1}", ignore_errors=True)

    times = timed_loop(timed_job, run.args.seconds)
    run.detail["job_s"] = times
    salted_buckets()
    chk = _check_extraction(run, w, run.work / f"out{len(times) - 1}",
                            manifests)
    return chk, {
        "setup_s": run.session_s + w.prep_s,
        "docs_per_s": w.stats.docs / statistics.median(times),
        "ok_share": 1.0 - chk["failed"] / chk["attempted"],
    }


# ---------------------------------------------------------------------------
# Dedup workload
# ---------------------------------------------------------------------------

def stage_dedup_suite(run: Run):
    """Before Spark starts: the seeded tables and their DuckDB oracle
    digests (cached per input digest and oracle SQL, which alone decide
    them)."""
    import checks
    import inputs
    from document_text_extraction_spark.queries import ORACLE_SQL

    shift = inputs.dedup_shift_for_seed(run.args.seed)
    sf_dir = inputs.write_dedup_tables(run.sf, shift, run.work / "sf")
    ident = inputs.dedup_stats(sf_dir)
    run.detail["doc_id_shift"] = shift
    run.detail["input"] = ident
    sql = [ORACLE_SQL[q] for q in DEDUP_QUERIES]
    key = hashlib.sha256(json.dumps([ident["digest"], sql]).encode())
    path = run.cache / f"oracle-{run.sf}-{key.hexdigest()[:16]}.json"
    t0 = time.perf_counter()
    if path.exists():
        oracle = json.loads(path.read_text())
    else:
        oracle = checks.oracle_digests(sf_dir, ORACLE_SQL,
                                       list(DEDUP_QUERIES), run.cores)
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}")
        tmp.write_text(json.dumps(oracle, sort_keys=True))
        os.replace(tmp, path)
    run.detail["oracle_s"] = time.perf_counter() - t0
    return sf_dir, ident, oracle


def run_dedup_suite(run: Run, staged) -> tuple[dict, dict]:
    import checks
    import probes
    from document_text_extraction_spark.queries import QUERIES

    sf_dir, ident, oracle = staged
    spark = run.spark

    def suite(tables: str, rows_out: dict | None = None,
              per_query: dict | None = None) -> None:
        for name in DEDUP_QUERIES:
            t0 = time.perf_counter()
            with run.span(f"queries.{name}"):
                with run.span("build"):
                    df = QUERIES[name](spark, tables)
                with run.span("collect"):
                    rows = [tuple(r) for r in df.collect()]
            if per_query is not None:
                per_query[name] = time.perf_counter() - t0
            if rows_out is not None:
                rows_out[name] = checks.canonical_digest(rows, df.columns)

    got: dict = {}
    per_query: dict = {}
    hwm = probes.last_stage_id(spark)
    if run.tracer is None:
        times = timed_loop(lambda _i: suite(sf_dir, got, per_query),
                           run.args.seconds)
    else:
        with run.tracer.span("job") as root:
            suite(sf_dir, got, per_query)
        times = [root.duration]
    run.detail["job_s"] = times
    run.detail["query_s"] = per_query
    bad = sorted(q for q in DEDUP_QUERIES if got.get(q) != oracle.get(q))
    if run.tracer is None:
        metrics = {
            "setup_s": run.session_s,
            "docs_per_s": ident["docs"] / statistics.median(times),
            "ok_share": 1.0 - len(bad) / len(DEDUP_QUERIES),
        }
    else:
        stages = probes.stage_metrics(spark, after=hwm)
        ops = probes.sum_stages(stages)
        metrics = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        metrics.update({
            **{f"operators.{q}_s": per_query[q] for q in DEDUP_QUERIES},
            "operators.shuffle_write_bytes": ops["shuffle_write_bytes"],
            "operators.spill_bytes": ops["spill_bytes"],
            "operators.task_skew": probes.task_skew(spark, stages),
            "trace.job_s": root.duration,
            "trace.unattributed_s": run.tracer.self_time(root),
            "trace.docs_per_s": ident["docs"] / root.duration,
        })
    run.detail["check"] = {"attempted": len(DEDUP_QUERIES),
                           "failed": len(bad), "mismatched": bad,
                           "spark": got, "oracle": oracle}
    return {"attempted": len(DEDUP_QUERIES), "failed": len(bad),
            "correct": not bad}, metrics


# workload → (input staging before Spark starts, run with a session)
RUNNERS = {
    "crawl_resumable": (
        stage_crawl_resumable,
        lambda run, staged: run_extraction_workload(
            run, build_crawl_resumable(run, staged))),
    "pdf_onepass": (
        stage_pdf_onepass,
        lambda run, staged: run_extraction_workload(
            run, build_pdf_onepass(run, staged))),
    "dedup_suite": (stage_dedup_suite, run_dedup_suite),
}


def _result_line(chk: dict, metrics: dict, trace: bool) -> dict:
    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": bool(chk["correct"]),
        "attempted": int(chk["attempted"]),
        "failed": int(chk["failed"]),
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="sf0.001 inputs (self-test)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import_package()
    work = WORK_ROOT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = isolate(work)
    run = Run(args, work)
    if args.trace:
        import probes
        run.tracer = probes.Tracer()
    t_start = time.perf_counter()
    stage, execute = RUNNERS[args.workload]
    try:
        staged = stage(run)
        run.start(conf)
        chk, metrics = execute(run, staged)
        if args.trace:
            metrics["session.start_s"] = run.session_s
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    run.detail["session_s"] = run.session_s
    run.detail["wall_s"] = time.perf_counter() - t_start
    result = _result_line(chk, metrics, bool(args.trace))
    if run.tracer is not None:
        results = WORK_ROOT / "results"
        results.mkdir(parents=True, exist_ok=True)
        (results / f"{args.workload}-seed{args.seed}-trace.json").write_text(
            json.dumps({"detail": run.detail,
                        "spans": run.tracer.dump(t_start)}, indent=1,
                       default=str))
    print(json.dumps(run.detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
