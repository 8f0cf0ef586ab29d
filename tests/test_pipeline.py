"""End-to-end Spark pipeline tests (FIXTURES.md §5: partition_invariance,
resume, metrics reconciliation) on local[8]."""

import itertools
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from document_text_extraction_spark import corpus, oracle, pipeline
from document_text_extraction_spark.sources import (
    synth_web_pages,
    web_pages_from_documents,
)

N_DOCS = 500


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_web_pages(spark, N_DOCS, partitions=8)
    df.cache().count()
    return df


def golden(text: str) -> str:
    return "\n".join(corpus.chunk_text(text))


def test_output_schema_columns():
    """The stored table is the paper's (url, extracted_text, spans,
    lineage) plus typed fields and the bucket column; sections are
    derived from spans (``operators.sections.sections_df``), not
    stored."""
    assert pipeline.OUTPUT_SCHEMA.fieldNames() == [
        "url", "extracted_text", "spans", "fields", "lineage",
        "part_bucket"]


def test_extract_matches_oracle_all_rows(spark, pages):
    out = pipeline.extract_df(pages, n_buckets=16).select(
        "url", "extracted_text", "lineage.status", "lineage.route"
    ).toPandas().set_index("url").sort_index()
    src = pages.select("doc_id", "url", "text").toPandas()
    assert len(out) == N_DOCS
    for _, r in src.iterrows():
        got = out.loc[r["url"]]
        route = corpus.route_for(int(r["doc_id"]))
        if route == "junk":
            assert got["status"] == "parse_failure"
        else:
            assert got["status"] == "ok"
            assert got["extracted_text"] == golden(r["text"]), r["doc_id"]


def test_partition_invariance(spark, pages):
    """Same rows at different bucket/partition counts → identical output."""
    outs = []
    for n_buckets, parts in [(4, 2), (16, 8), (64, 8)]:
        df = pipeline.extract_df(pages, n_buckets=n_buckets,
                                 shuffle_partitions=parts)
        p = (df.select("url", "extracted_text", "lineage.status")
             .toPandas().sort_values("url").reset_index(drop=True))
        outs.append(p)
    for other in outs[1:]:
        pd.testing.assert_frame_equal(outs[0], other)


def test_salting_preserves_values(spark, pages):
    plan = {b: 4 for b in range(16)}  # force-salt every bucket
    a = (pipeline.extract_df(pages, 16, salt_plan=None)
         .select("url", "extracted_text").toPandas()
         .sort_values("url").reset_index(drop=True))
    b = (pipeline.extract_df(pages, 16, salt_plan=plan)
         .select("url", "extracted_text").toPandas()
         .sort_values("url").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_run_extraction_resume_identical(spark, pages, tmp_path):
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "partial")
    m1 = pipeline.run_extraction(spark, pages, full_dir, n_buckets=8,
                                 slice_buckets=2)
    assert all(s["committed"] for s in m1["slices"].values())

    # simulate a kill after 2 of 4 slices, then resume
    m2a = pipeline.run_extraction(spark, pages, part_dir, n_buckets=8,
                                  slice_buckets=2, max_slices=2)
    assert sum(s.get("committed", False)
               for s in m2a["slices"].values()) == 2
    m2b = pipeline.run_extraction(spark, pages, part_dir, n_buckets=8,
                                  slice_buckets=2)
    assert all(s["committed"] for s in m2b["slices"].values())

    a = (spark.read.parquet(full_dir + "/data")
         .select("url", "extracted_text", "part_bucket")
         .toPandas().sort_values("url").reset_index(drop=True))
    b = (spark.read.parquet(part_dir + "/data")
         .select("url", "extracted_text", "part_bucket")
         .toPandas().sort_values("url").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == N_DOCS  # no duplicates, no losses


def test_run_extraction_bucketed_input_resume_identical(spark, pages,
                                                        tmp_path):
    """The partition-pruned path end to end: run_extraction over a
    prepare_bucketed_input table — killed after 2 slices and resumed —
    must equal run_extraction over the flat table, row for row."""
    bucketed = pipeline.prepare_bucketed_input(
        pages, str(tmp_path / "bucketed"), n_buckets=8)
    bpages = spark.read.parquet(bucketed)
    flat_dir = str(tmp_path / "flat_out")
    bkt_dir = str(tmp_path / "bkt_out")
    pipeline.run_extraction(spark, pages, flat_dir, n_buckets=8,
                            slice_buckets=2)
    ma = pipeline.run_extraction(spark, bpages, bkt_dir, n_buckets=8,
                                 slice_buckets=2,
                                 max_slices=2)
    assert sum(s.get("committed", False)
               for s in ma["slices"].values()) == 2
    mb = pipeline.run_extraction(spark, bpages, bkt_dir, n_buckets=8,
                                 slice_buckets=2)
    assert all(s["committed"] for s in mb["slices"].values())
    a = (spark.read.parquet(flat_dir + "/data")
         .select("url", "extracted_text", "part_bucket")
         .toPandas().sort_values("url").reset_index(drop=True))
    b = (spark.read.parquet(bkt_dir + "/data")
         .select("url", "extracted_text", "part_bucket")
         .toPandas().sort_values("url").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert len(b) == N_DOCS


def test_snapshot_time_travel(spark, pages, tmp_path):
    """Iceberg-snapshot emulation: a reader pinned to snapshot k sees
    exactly the first k commits' buckets; the latest snapshot equals
    the full table; earlier snapshots stay stable as commits land."""
    out = str(tmp_path / "snap")
    pipeline.run_extraction(spark, pages, out, n_buckets=8,
                            slice_buckets=2, max_slices=2)
    snaps = pipeline.snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    seen_at_2 = pipeline.read_snapshot(spark, out, snapshot_id=2).count()
    assert seen_at_2 == snaps[-1]["docs"]
    # finish the run: old snapshot is unchanged, latest sees everything
    pipeline.run_extraction(spark, pages, out, n_buckets=8,
                            slice_buckets=2)
    assert (pipeline.read_snapshot(spark, out, snapshot_id=2).count()
            == seen_at_2)
    assert pipeline.read_snapshot(spark, out).count() == N_DOCS
    assert pipeline.read_snapshot(spark, out, snapshot_id=0).count() == 0
    with pytest.raises(ValueError, match="out of range"):
        pipeline.read_snapshot(spark, out, snapshot_id=99)


def test_run_extraction_rejects_mismatched_bucket_layout(spark, pages,
                                                         tmp_path):
    """A bucketed input whose layout N differs from the run's n_buckets
    would silently drop/misfile rows via the partition-pruned slice
    filters — run_extraction must refuse it up front."""
    bucketed = pipeline.prepare_bucketed_input(
        pages, str(tmp_path / "b16"), n_buckets=16)
    bpages = spark.read.parquet(bucketed)
    with pytest.raises(ValueError, match="part_bucket"):
        pipeline.run_extraction(spark, bpages,
                                str(tmp_path / "o"), n_buckets=8,
                                slice_buckets=4)
    # the adversarial direction: stored modulus a DIVISOR of the run's
    # (8 vs 16) keeps every stored value in range, so only the
    # max-partition row probe can catch it
    bucketed8 = pipeline.prepare_bucketed_input(
        pages, str(tmp_path / "b8"), n_buckets=8)
    with pytest.raises(ValueError, match="part_bucket"):
        pipeline.run_extraction(spark, spark.read.parquet(bucketed8),
                                str(tmp_path / "o2"), n_buckets=16,
                                slice_buckets=8)


def test_run_extraction_rejects_misfiled_rows(spark, pages, tmp_path):
    """A bucketed input with the right modulus but a few rows of a LOW
    partition filed under another slice's bucket: a probe of the highest
    partition sees nothing wrong, and the slices would then lose those
    rows or crash renaming their output over a committed bucket.
    run_extraction checks every row, so it refuses the input."""
    stored = spark.read.parquet(pipeline.prepare_bucketed_input(
        pages, str(tmp_path / "b8"), n_buckets=8))
    parts = sorted(r[0] for r in
                   stored.select("part_bucket").distinct().collect())
    low, other = parts[0], parts[-2]
    assert low // 2 != other // 2  # different slices at slice_buckets=2
    urls = [r[0] for r in stored.filter(F.col("part_bucket") == low)
            .select("url").orderBy("url").limit(3).collect()]
    assert len(urls) == 3
    misfiled = str(tmp_path / "misfiled")
    (stored.withColumn("part_bucket", F.when(
        F.col("url").isin(urls), F.lit(other)).otherwise(
        F.col("part_bucket")))
     .write.partitionBy("part_bucket").parquet(misfiled))
    with pytest.raises(ValueError, match="part_bucket"):
        pipeline.run_extraction(spark, spark.read.parquet(misfiled),
                                str(tmp_path / "o"), n_buckets=8,
                                slice_buckets=2)


def test_metrics_reconcile(spark, pages, tmp_path):
    """The manifest's per-partition counters (FIXTURES.md §3) of the
    committed slices reconcile with the input and the written data."""
    out_dir = str(tmp_path / "m")
    pipeline.run_extraction(spark, pages, out_dir, n_buckets=8,
                            slice_buckets=4)
    manifest = pipeline._load_manifest(out_dir, "run1")
    parts = [p for s in manifest["slices"].values() if s["committed"]
             for p in s["partitions"]]
    assert parts
    assert sum(p["docs"] for p in parts) == N_DOCS
    data = spark.read.parquet(out_dir + "/data")
    failures = data.filter(F.col("lineage.status") == "parse_failure").count()
    assert sum(p["parse_failures"] for p in parts) == failures
    src_bytes = pages.select(F.sum(F.length("html"))).collect()[0][0]
    assert sum(p["bytes_in"] for p in parts) == src_bytes


def test_web_pages_from_documents_roundtrip(spark):
    pages = web_pages_from_documents(spark, "/root/testdata/sf0.001")
    out = pipeline.extract_df(pages, n_buckets=8)
    joined = (
        pages.select("doc_id", "url", "text")
        .join(out.select("url", "extracted_text", "lineage.status"), "url")
        .toPandas()
    )
    assert len(joined) == pages.count()
    ok = joined[joined["doc_id"] % 20 < 19]
    for _, r in ok.iterrows():
        assert r["extracted_text"] == golden(r["text"]), r["doc_id"]


def test_plan_salting_detects_hot_buckets(spark):
    # one giant doc → its bucket crosses the 4x-mean threshold
    rows = [corpus.make_page(i, corpus.synth_text(i, 10, 20))
            for i in range(40)]
    rows.append(corpus.make_page(1000, corpus.synth_text(1000, 5000, 5001)))
    pdf = pd.DataFrame([{"url": r["url"], "html": r["html"]} for r in rows])
    df = spark.createDataFrame(pdf)
    plan = pipeline.plan_salting(df, n_buckets=8, threshold_bytes=10_000)
    assert plan, "expected at least one salted bucket"
    assert all(1 < f <= pipeline.MAX_SALT for f in plan.values())


def test_salt_grain_derives_from_bytes_and_cores(spark):
    """The default salt grain comes from the corpus bytes and the
    session's cores, so on local[8] a 3 MB hot bucket of a 5 MB corpus
    is split, where a fixed 8 MB grain would leave it whole."""
    assert spark.sparkContext.defaultParallelism == 8
    rows = ([{"url": f"http://hot.example/{i}", "html": "x" * 100_000}
             for i in range(30)]
            + [{"url": f"http://site{i}.example/", "html": "y" * 10_000}
               for i in range(200)])
    df = spark.createDataFrame(pd.DataFrame(rows))
    stats = pipeline.bucket_byte_stats(df, 8)
    total = sum(stats.values())
    grain = pipeline.salt_grain_bytes(spark, total)
    assert grain == total // (8 * 2) > pipeline.MIN_SALT_GRAIN_BYTES
    hot = max(stats, key=stats.get)
    assert grain < stats[hot] < 8 << 20
    plan = pipeline.plan_salting(df, n_buckets=8)
    assert plan[hot] == -(-stats[hot] // grain) > 1
    assert all(stats[b] > grain for b in plan)


def test_slices_run_heaviest_first(spark, pages, tmp_path):
    """Pending slices start in descending byte order, so the heaviest
    slice's tail never ends the run alone; with one slice in flight the
    commit log shows that order."""
    m = pipeline.run_extraction(spark, pages, str(tmp_path / "order"),
                                n_buckets=8, slice_buckets=2,
                                parallel_slices=1)
    stats = pipeline.bucket_byte_stats(pages, 8)
    weight = {str(si): stats.get(2 * si, 0) + stats.get(2 * si + 1, 0)
              for si in range(4)}
    by_bytes = sorted(weight, key=lambda si: -weight[si])
    assert by_bytes != sorted(weight), "fixture slices already in order"
    assert m["commit_log"] == by_bytes


def test_failed_slice_commits_the_slices_that_finished(
        spark, pages, tmp_path, monkeypatch):
    """When one slice fails, the slices already running finish and are
    committed before the error surfaces: no bucket dir lands in data/
    without a manifest entry, and a resume redoes only the rest."""
    real = pipeline.slice_extract_df
    order = itertools.count()
    calls = {}
    other_started = threading.Event()

    def first_call_fails(*args, **kwargs):
        n = next(order)
        calls[n] = args[3]
        if n == 0:
            # fail while another slice is running, not before it starts
            other_started.wait(60)
            raise RuntimeError("planted slice failure")
        other_started.set()
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "slice_extract_df", first_call_fails)
    out = str(tmp_path / "fail")
    with pytest.raises(RuntimeError, match="planted"):
        pipeline.run_extraction(spark, pages, out, n_buckets=8,
                                slice_buckets=2,
                                parallel_slices=2)
    m = pipeline._load_manifest(out, "run1")
    committed = {b for s in m["slices"].values() if s.get("committed")
                 for b in s["buckets"]}
    import os as _os
    landed = {int(d.split("=")[1])
              for d in _os.listdir(_os.path.join(out, "data"))}
    assert committed and landed <= committed
    assert not committed & set(calls[0])
    monkeypatch.setattr(pipeline, "slice_extract_df", real)
    m2 = pipeline.run_extraction(spark, pages, out, n_buckets=8,
                                 slice_buckets=2)
    assert sum(s["docs"] for s in m2["slices"].values()) == N_DOCS
    assert spark.read.parquet(out + "/data").count() == N_DOCS


def test_resume_wipes_partial_slice_garbage(spark, pages, tmp_path):
    """A crash mid-slice leaves partial files with no manifest entry;
    the rerun must wipe and redo them, never double-count."""
    import os
    out_dir = str(tmp_path / "partial2")
    pipeline.run_extraction(spark, pages, out_dir, n_buckets=8,
                            slice_buckets=4, max_slices=1)
    # simulate a crash mid-slice-2: drop garbage files into its buckets
    for b in (4, 5):
        d = os.path.join(out_dir, "data", f"part_bucket={b}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-corrupt.parquet"), "wb") as f:
            f.write(b"not a parquet file")
    pipeline.run_extraction(spark, pages, out_dir, n_buckets=8,
                            slice_buckets=4)
    data = spark.read.parquet(out_dir + "/data")
    assert data.count() == N_DOCS
    assert data.select("url").distinct().count() == N_DOCS


def test_parallel_slices_match_sequential(spark, pages, tmp_path):
    """parallel_slices overlaps slice execution (the production wave
    double-buffering) but must keep identical output data, identical
    per-partition counter totals, and resumability: a run killed after
    2 of 4 commits finishes idempotently in parallel mode."""
    seq_dir = str(tmp_path / "seq")
    par_dir = str(tmp_path / "par")
    pipeline.run_extraction(spark, pages, seq_dir, n_buckets=8,
                            slice_buckets=2, parallel_slices=1)
    m1 = pipeline.run_extraction(spark, pages, par_dir, n_buckets=8,
                                 slice_buckets=2,
                                 max_slices=2, parallel_slices=4)
    assert sum(s.get("committed", False)
               for s in m1["slices"].values()) == 2
    m2 = pipeline.run_extraction(spark, pages, par_dir, n_buckets=8,
                                 slice_buckets=2,
                                 parallel_slices=4)
    a = (spark.read.parquet(seq_dir + "/data")
         .select("url", "extracted_text", "part_bucket")
         .toPandas().sort_values("url").reset_index(drop=True))
    b = (spark.read.parquet(par_dir + "/data")
         .select("url", "extracted_text", "part_bucket")
         .toPandas().sort_values("url").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert sum(s["docs"] for s in m2["slices"].values()) == N_DOCS
    # no staging litter left behind
    import os as _os
    assert not [f for f in _os.listdir(par_dir)
                if f.startswith("_stage_")]


def test_resume_of_complete_run_is_metadata_noop(spark, pages, tmp_path):
    """Re-running a fully-committed run must not rescan the corpus: the
    fast path returns straight from the manifest (asserted by the total
    absence of new Spark jobs via the statusTracker)."""
    out = str(tmp_path / "noop")
    pipeline.run_extraction(spark, pages, out, n_buckets=8,
                            slice_buckets=4)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    m = pipeline.run_extraction(spark, pages, out, n_buckets=8,
                                slice_buckets=4)
    after = len(tracker.getJobIdsForGroup() or [])
    assert all(s["committed"] for s in m["slices"].values())
    assert after == before, "resume of a complete run launched Spark jobs"


def test_expire_snapshots_and_vacuum(spark, pages, tmp_path):
    """expire_snapshots gates time travel (metadata only — the table
    is append-only, so no data is deleted and the latest read still
    sees everything); vacuum removes crash litter: stale staging dirs
    and bucket dirs no committed slice references."""
    import os as _os
    out = str(tmp_path / "exp")
    pipeline.run_extraction(spark, pages, out, n_buckets=8,
                            slice_buckets=2)
    n_snaps = len(pipeline.snapshots(out))
    assert n_snaps == 4
    full = pipeline.read_snapshot(spark, out).count()
    info = pipeline.expire_snapshots(out, keep_last=2)
    assert info["expired_before"] == 2 and info["kept"] == 2
    with pytest.raises(ValueError, match="expired"):
        pipeline.read_snapshot(spark, out, snapshot_id=1)
    # unexpired ids and the latest still read; data untouched
    assert pipeline.read_snapshot(spark, out, snapshot_id=3).count() > 0
    assert pipeline.read_snapshot(spark, out).count() == full == N_DOCS
    # crash litter: a stale staging dir + an orphan bucket dir
    _os.makedirs(_os.path.join(out, "_stage_run1_99", "part_bucket=3"))
    orphan = _os.path.join(out, "data", "part_bucket=99")
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "part-000.parquet"), "wb") as f:
        f.write(b"junk")
    removed = pipeline.vacuum(out)
    assert removed == {"staging_dirs": 1, "orphan_buckets": 1,
                       "restored_buckets": 0}
    assert not _os.path.isdir(orphan)
    assert pipeline.read_snapshot(spark, out).count() == N_DOCS


def test_read_incremental_change_feed(spark, pages, tmp_path):
    """Incremental reads tile the table: consecutive (from, to] ranges
    are disjoint, their union is the full table, and an empty range is
    an empty frame — the exactly-once hand-off a downstream consumer
    relies on."""
    out = str(tmp_path / "inc")
    pipeline.run_extraction(spark, pages, out, n_buckets=8,
                            slice_buckets=2)
    n = len(pipeline.snapshots(out))
    full = pipeline.read_snapshot(spark, out).count()
    parts = [pipeline.read_incremental(spark, out, from_snapshot=k,
                                       to_snapshot=k + 1)
             for k in range(n)]
    counts = [p.count() for p in parts]
    assert sum(counts) == full == N_DOCS
    urls = [set(r["url"] for r in p.select("url").collect())
            for p in parts]
    for i in range(n):
        for j in range(i + 1, n):
            assert not urls[i] & urls[j]
    assert pipeline.read_incremental(spark, out, 2, 2).count() == 0
    with pytest.raises(ValueError, match="out of"):
        pipeline.read_incremental(spark, out, 3, 99)


def _bucket_files(out: str) -> dict[int, int]:
    import os as _os
    data = _os.path.join(out, "data")
    return {
        int(d.split("=")[1]): sum(
            1 for f in _os.listdir(_os.path.join(data, d))
            if f.endswith(".parquet"))
        for d in _os.listdir(data) if d.startswith("part_bucket=")
    }


def test_compact_table_binpacks_without_changing_rows(spark, pages,
                                                      tmp_path,
                                                      monkeypatch):
    """compact_table rewrites multi-file bucket dirs down to their
    bin-packed target while every read surface — full table, pinned
    snapshots, incremental ranges, counters — returns identical rows;
    a second call is a no-op (idempotent maintenance)."""
    out = str(tmp_path / "cmp")
    # a fine salt grain splits hot buckets across many write tasks —
    # the production mechanism that accumulates small files per bucket
    monkeypatch.setattr(pipeline, "salt_grain_bytes",
                        lambda *a, **k: 16 << 10)
    pipeline.run_extraction(spark, pages, out, n_buckets=4,
                            slice_buckets=4)
    before_files = _bucket_files(out)
    before_rows = sorted(
        (r["url"], r["extracted_text"]) for r in
        pipeline.read_snapshot(spark, out)
        .select("url", "extracted_text").collect())
    snap1_rows = sorted(
        r["url"] for r in
        pipeline.read_snapshot(spark, out, snapshot_id=1)
        .select("url").collect())
    assert any(n >= 2 for n in before_files.values()), \
        "fixture must produce multi-file buckets"
    info = pipeline.compact_table(spark, out, target_file_mb=1024)
    assert info["buckets_compacted"] >= 1
    assert info["files_after"] < info["files_before"]
    after_files = _bucket_files(out)
    # 500 docs << 1 GiB: every compacted bucket bin-packs to one file
    assert all(after_files[b] == 1 for b in before_files
               if before_files[b] >= 2)
    after_rows = sorted(
        (r["url"], r["extracted_text"]) for r in
        pipeline.read_snapshot(spark, out)
        .select("url", "extracted_text").collect())
    assert after_rows == before_rows
    assert sorted(
        r["url"] for r in
        pipeline.read_snapshot(spark, out, snapshot_id=1)
        .select("url").collect()) == snap1_rows
    inc = pipeline.read_incremental(spark, out, 0, 1).count()
    assert inc == len(snap1_rows)
    assert any(s["partitions"] for s in
               pipeline._load_manifest(out, "run1")["slices"].values())
    again = pipeline.compact_table(spark, out, target_file_mb=1024)
    assert again["buckets_compacted"] == 0
    audit = pipeline._load_manifest(out, "run1")["compactions"]
    assert len(audit) == 1 and audit[0]["files_after"] < \
        audit[0]["files_before"]


def test_compact_crash_recovery_restores_bucket(spark, pages, tmp_path):
    """A crash between the two swap renames leaves a bucket only in
    the compaction trash dir; both recover paths (explicit recovery on
    the next compact, and vacuum) must restore it rather than sweep
    it."""
    import os as _os
    import shutil as _sh
    out = str(tmp_path / "crash")
    pipeline.run_extraction(spark, pages, out, n_buckets=4,
                            slice_buckets=4)
    full = pipeline.read_snapshot(spark, out).count()
    data = _os.path.join(out, "data")
    victim = next(b for b, n in _bucket_files(out).items() if n >= 1)
    trash = _os.path.join(out, "_stage_compact_old_run1")
    _os.makedirs(trash)
    _sh.move(_os.path.join(data, f"part_bucket={victim}"),
             _os.path.join(trash, f"part_bucket={victim}"))
    assert pipeline.read_snapshot(spark, out).count() < full
    removed = pipeline.vacuum(out)
    assert removed["restored_buckets"] == 1
    assert not _os.path.isdir(trash)
    assert pipeline.read_snapshot(spark, out).count() == full == N_DOCS


def test_out_dir_is_exclusive_to_one_run_id(spark, pages, tmp_path):
    """out_dir/data is shared storage: a second run_id in the same
    out_dir would wipe buckets the first run's manifest marks committed
    — must be refused."""
    out = str(tmp_path / "excl")
    pipeline.run_extraction(spark, pages, out, n_buckets=8,
                            slice_buckets=4, run_id="runA")
    with pytest.raises(ValueError, match="one output directory"):
        pipeline.run_extraction(spark, pages, out, n_buckets=8,
                                slice_buckets=4,
                                run_id="runB")


def test_read_snapshot_zero_and_empty(spark, pages, tmp_path):
    out = str(tmp_path / "snap0")
    pipeline.run_extraction(spark, pages, out, n_buckets=8,
                            slice_buckets=4)
    assert pipeline.read_snapshot(spark, out, snapshot_id=0).count() == 0
    # an out_dir with no data at all
    empty = str(tmp_path / "nothing")
    import os
    os.makedirs(empty, exist_ok=True)
    assert pipeline.read_snapshot(spark, empty).count() == 0
