"""Physical-plan regression tests: the plans we designed for are the
plans Catalyst produces (column pruning, single shuffle, no cartesians).
"""

import re

import pytest
from pyspark.sql import functions as F

from document_text_extraction_spark import pipeline, queries
from document_text_extraction_spark.plans import assert_pushdown, plan_report
from document_text_extraction_spark.queries import (
    q_curate_corpus,
    q_cv_entities_planted,
    q_line_dedup,
    q_positions_zip,
    q_sections_planted,
    q_sessions_per_user,
    q_span_merge_planted,
    q_token_stats,
    q_topk_longest,
)


def test_extraction_plan_pruned_and_single_shuffle(spark, tmp_path):
    """The extraction scan must read only url+html and shuffle exactly
    once (SURVEY.md §4: shuffle volume = input bytes, once)."""
    p = str(tmp_path / "pages")
    from document_text_extraction_spark.sources import synth_web_pages
    synth_web_pages(spark, 50, partitions=2).write.parquet(p)
    pages = spark.read.parquet(p)
    out = pipeline.extract_df(pages, n_buckets=16)
    rep = assert_pushdown(out, max_exchanges=1,
                          require_pruned_to=["url", "html"])
    joined = " ".join(rep["read_schemas"])
    for col in ("warc_ts", "text", "lang"):
        assert col not in joined, f"scan reads unused column {col}"


def test_slice_filter_below_python_map(spark, tmp_path):
    """The resumable runner's per-slice plan must filter buckets BELOW
    the Python map — a filter above MapInPandas would re-run the full
    extraction once per slice (the round-1 scale-killer)."""
    from document_text_extraction_spark.plans import plan_string
    from document_text_extraction_spark.sources import synth_web_pages
    p = str(tmp_path / "pages")
    synth_web_pages(spark, 50, partitions=2).write.parquet(p)
    pages = spark.read.parquet(p)
    sub = pipeline.slice_extract_df(pages, 16, {}, [0, 1, 2, 3])
    s = plan_string(sub, "simple")
    i_map = s.index("MapInPandas")
    # tree printing is parent-first: any Filter before MapInPandas would
    # sit ABOVE the Python map
    assert "Filter" not in s[:i_map], (
        "bucket filter sits above the Python map:\n" + s)
    assert "Filter" in s[i_map:], (
        "expected the slice's bucket predicate below the map:\n" + s)


def test_slice_scan_partition_pruned(spark, tmp_path):
    """With a bucketed input table (prepare_bucketed_input — the
    production Iceberg bucket(url_host) layout), a slice's scan must
    prune at the PARTITION level: PartitionFilters on part_bucket, so
    the whole resumable run reads the corpus once instead of once per
    slice (the round-2 read-amplification scale-killer)."""
    from document_text_extraction_spark.sources import synth_web_pages
    p = str(tmp_path / "pages_bucketed")
    pipeline.prepare_bucketed_input(
        synth_web_pages(spark, 60, partitions=2), p, n_buckets=16)
    pages = spark.read.parquet(p)
    # host-bucketing leaves most of 16 buckets empty on a tiny corpus —
    # pick a slice that actually holds data
    present = sorted(
        r["part_bucket"]
        for r in pages.select("part_bucket").distinct().collect()
    )
    buckets = present[: max(1, len(present) // 2)]
    sub = pipeline.slice_extract_df(pages, 16, {}, buckets)
    rep = plan_report(sub)
    m = re.search(r"PartitionFilters: \[(.*?)\]", rep["plan"])
    assert m and "part_bucket" in m.group(1), rep["plan"]
    # and the values are right: pruned slice == recompute-from-url slice
    flat = str(tmp_path / "pages_flat")
    synth_web_pages(spark, 60, partitions=2).write.parquet(flat)
    ref = pipeline.slice_extract_df(
        spark.read.parquet(flat), 16, {}, buckets)
    got = {r["url"]: r["extracted_text"] for r in sub.collect()}
    want = {r["url"]: r["extracted_text"] for r in ref.collect()}
    assert got == want and len(got) > 0


def test_filter_pushdown_reaches_parquet(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.filter(F.col("n_chars") > 300).select("doc_id", "n_chars")
    rep = plan_report(df)
    assert rep["pushed_filters"], "expected PushedFilters on parquet scan"
    assert rep["n_exchanges"] == 0


def test_analytics_queries_no_cartesian(spark):
    from document_text_extraction_spark.queries import (
        q_gopher_quality,
        q_repetition_stats,
    )
    for q in (q_token_stats, q_topk_longest, q_sessions_per_user,
              q_sections_planted, q_span_merge_planted, q_positions_zip,
              q_cv_entities_planted, q_gopher_quality, q_repetition_stats):
        assert_pushdown(q(spark, "/root/testdata/sf0.001"),
                        forbid_cartesian=True)


def test_ivf_partitioned_layout_prunes_scan(spark, tmp_path):
    """The IVF scale path: writing the index partitioned by list_id
    makes a probe read only the probed lists — PartitionFilters on the
    scan, not a post-scan filter (at 10^12 rows this is the difference
    between reading n_probe/n_lists of the data and all of it)."""
    from document_text_extraction_spark.operators.similarity import (
        ivf_assign_col,
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = (emb.filter(F.col("vec_id") < 16)
          .orderBy("vec_id").collect())
    centroids = [[float(x) for x in r["embedding"]] for r in cb]
    p = str(tmp_path / "ivf")
    (emb.withColumn("list_id", ivf_assign_col(centroids,
                                              F.col("embedding")))
     .write.partitionBy("list_id").parquet(p))
    probe = spark.read.parquet(p).filter(F.col("list_id").isin(0, 3, 7))
    rep = plan_report(probe)
    m = re.search(r"PartitionFilters: \[(.*?)\]", rep["plan"])
    assert m and "list_id" in m.group(1), rep["plan"]
    assert rep["pushed_filters"] == [], (
        "probe predicate should be a partition filter, not a data filter")


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join via bucketBy: two tables bucketed+sorted on the
    join key merge-join with ZERO exchanges — the pre-shuffle layout a
    100 TB pipeline uses for repeated doc_id joins (extraction output ⋈
    quality scores ⋈ dedup verdicts)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    left = docs.select("doc_id", "n_chars")
    right = docs.select("doc_id", "lang")
    for name, df in (("bkt_left", left), ("bkt_right", right)):
        (df.write.mode("overwrite").format("parquet")
         .bucketBy(8, "doc_id").sortBy("doc_id")
         .option("path", str(tmp_path / name)).saveAsTable(name))
    # hint("merge") pins SortMergeJoin (the tiny test table would
    # otherwise broadcast — at real scale SMJ is the only option and
    # the bucket layout is what removes its exchanges AND its sorts)
    j = (spark.table("bkt_left").hint("merge")
         .join(spark.table("bkt_right"), "doc_id"))
    rep = plan_report(j)
    assert rep["n_exchanges"] == 0, rep["plan"]
    assert "SortMergeJoin" in rep["plan"], rep["plan"]
    assert j.count() == docs.count()
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_topk_is_take_ordered(spark):
    s = plan_report(q_topk_longest(spark, "/root/testdata/sf0.001"))["plan"]
    assert "TakeOrderedAndProject" in s, (
        "top-k should compile to TakeOrderedAndProject, not global sort")


def test_line_dedup_broadcasts_dup_set(spark):
    """line_dedup must not shuffle the exploded corpus side for the
    join-back: the nd>=2 dup set is the broadcast side, and there is
    no cartesian anywhere."""
    rep = plan_report(q_line_dedup(spark, "/root/testdata/sf0.001"))
    assert not rep["has_cartesian"], rep["plan"]
    assert "BroadcastHashJoin" in rep["plan"], rep["plan"]
    # the exploded (Generate) side must feed the join directly — no
    # Exchange between the page-side Generate and the join
    plan = rep["plan"]
    gen = plan.index("Generate")
    join = plan.index("BroadcastHashJoin")
    assert join < gen or "Exchange" not in plan[gen:join], plan


def test_curate_corpus_plan_shape(spark):
    """The curation dataflow: no cartesian, the near-dup drop set joins
    via broadcast LEFT ANTI, and exact dedup uses WindowGroupLimit
    (rank pushdown — rows beyond rank 1 are pruned map-side)."""
    rep = plan_report(q_curate_corpus(spark, "/root/testdata/sf0.001"))
    assert not rep["has_cartesian"], rep["plan"]
    assert "LeftAnti" in rep["plan"], rep["plan"]
    assert "WindowGroupLimit" in rep["plan"], rep["plan"]


def test_perplexity_model_join_is_broadcast(spark):
    """The per-doc surprisal join against the vocab-sized model must be
    a broadcast (no shuffle of the (doc, word) side by word — the
    stopword keys would skew it), and bucketed counting stays
    cartesian-free."""
    from document_text_extraction_spark.queries import (
        q_perplexity_buckets,
    )
    rep = plan_report(q_perplexity_buckets(spark, "/root/testdata/sf0.001"))
    assert not rep["has_cartesian"], rep["plan"]
    assert "BroadcastHashJoin" in rep["plan"], rep["plan"]
    # the documents scan feeds word counts: only lang+text+doc_id read
    joined = " ".join(rep["read_schemas"])
    for col in ("source", "n_chars"):
        assert col not in joined, f"scan reads unused column {col}"


def test_dsir_select_is_take_ordered(spark):
    """DSIR's top-k resample must compile to TakeOrderedAndProject
    (per-partition top-k + driver merge), never a global Sort
    exchange; both model joins broadcast."""
    from document_text_extraction_spark.queries import q_dsir_select
    rep = plan_report(q_dsir_select(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in rep["plan"], rep["plan"]
    assert not rep["has_cartesian"], rep["plan"]
    assert "BroadcastHashJoin" in rep["plan"], rep["plan"]


def test_domain_quota_no_window_over_bare_hot_key(spark):
    """The banded quota plan must not contain a window partitioned by
    the bare host (that serializes the hot host into one task): every
    Window node over host alone belongs to the tiny per-band offset
    table, whose input is ≤ n_bands rows per key (fed by a groupBy of
    (host, band) — HashAggregate upstream), not the raw rowset."""
    from document_text_extraction_spark.queries import q_domain_quota
    rep = plan_report(q_domain_quota(spark, "/root/testdata/sf0.001"))
    assert not rep["has_cartesian"], rep["plan"]
    plan = rep["plan"]
    # hot-path structure exists: a band column and a broadcast of the
    # offsets table back onto the hot rows
    assert "__band" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_session_caps_codegen_at_hotspot_jit_limit(spark):
    """r6: generated whole-stage methods between 8000 and 65535
    bytecode bytes can never be JIT-compiled (HotSpot
    DontCompileHugeMethods), so the session must cap
    spark.sql.codegen.hugeMethodLimit at the HotSpot threshold —
    measured 153s -> 7.6s first-run on the minhash signature stage."""
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


# ---------------------------------------------------------------------------
# Round-6 plan claims (OPTIMIZATION_r06.md). Each row is the operator fact
# a round-6 restructure produced, checked on today's plan. Facts only: a
# node count that moves with scale (exchanges, broadcasts, the input
# spread) is no claim. line_dedup and curate_corpus have their own tests.
# ---------------------------------------------------------------------------

SF = "/root/testdata/sf0.001"


def _count(plan: str, op: str) -> int:
    """Nodes of ``op`` in a formatted plan (detail headers only: the
    tree prints every node a second time)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, re.M))


def _generators(plan: str) -> list[tuple[str, bool]]:
    """(arguments, outer) of every Generate node, from its Arguments
    ``gen(expr), [child output], outer, [generator output]``. The
    arguments can span lines (a split pattern holding a newline), so
    they run to the blank line that ends the node's detail block."""
    out = []
    for args in re.findall(r"^\(\d+\) Generate\b.*?\nArguments: (.*?)\n\n",
                           plan, re.M | re.S):
        outer = re.search(r", (true|false), \[[^\]]*\]$", args)
        out.append((args, outer.group(1) == "true"))
    return out


def _outer_explodes(plan: str, call: str = "explode(") -> bool:
    """At least one Generate whose arguments start with ``call``, and
    every one is the outer form (no inferred ``size(arr) > 0`` filter
    re-evaluating the generated array)."""
    outers = [o for a, o in _generators(plan) if a.startswith(call)]
    return bool(outers) and all(outers)


R06_PLAN_CLAIMS = {
    "ann_ivf_trained": (
        "the probe's top-k is TakeOrderedAndProject, not a global sort",
        lambda p: _count(p, "TakeOrderedAndProject") == 1),
    "bm25_topk": (
        "the top-k is TakeOrderedAndProject, not a global sort",
        lambda p: _count(p, "TakeOrderedAndProject") == 1),
    "cdx_index": (
        "the page generator runs as a MapInPandas kernel",
        lambda p: _count(p, "MapInPandas") >= 1),
    "exact_substring_spans": (
        "grams explode with posexplode_outer, keyed by binary md5",
        lambda p: (_outer_explodes(p, "posexplode(")
                   and "unhex(md5(" in p)),
    "kmv_distinct": (
        "only the k minimum hashes per sketch pass the window "
        "(WindowGroupLimit rank pushdown)",
        lambda p: _count(p, "WindowGroupLimit") >= 1),
    "media_phash": (
        "decode and hash run as MapInPandas; the range-partitioned "
        "spread stays reverted",
        lambda p: (_count(p, "MapInPandas") >= 1
                   and "RangePartitioning" not in p)),
    "minhash_neardup": (
        "the shingle explodes (signature and verify sides) use the "
        "outer form",
        lambda p: _outer_explodes(p, "explode(shingles")),
    "ngram_jaccard": (
        "at most 2 Generate nodes, both outer: the window-frequency "
        "explode is shared by both candidate sides, and the sizes "
        "groupBy and the two full-explode verify joins are gone",
        lambda p: (_count(p, "Generate") <= 2 and _outer_explodes(p))),
    "running_value": (
        "one Window node: the running sum is a single window pass",
        lambda p: _count(p, "Window") == 1),
    "semdedup": (
        "one FlatMapGroupsInPandas per cluster scores the pairs; the "
        "only joins are the LEFT ANTI drops",
        lambda p: (_count(p, "FlatMapGroupsInPandas") >= 1
                   and set(re.findall(r"Join type: (\w+)", p))
                   <= {"LeftAnti"})),
    "semdedup_scaled": (
        "clusters are assigned by a MapInPandas kernel (no codebook "
        "literal) and scored by FlatMapGroupsInPandas",
        lambda p: (_count(p, "FlatMapGroupsInPandas") >= 1
                   and _count(p, "MapInPandas") >= 1
                   and "zip_with" not in p)),
    "simhash_neardup": (
        "SimHash is one MapInPandas pass: no md5 token explode, no "
        "60-column aggregate, at most 2 Generate nodes (the bands)",
        lambda p: (_count(p, "MapInPandas") >= 1 and "md5(" not in p
                   and _count(p, "Generate") <= 2)),
    "template_scrub": (
        "template lines join back by an equi LEFT OUTER join",
        lambda p: re.search(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) "
            r"LeftOuter", p) is not None),
    "winnow_overlap": (
        "fingerprints come from a MapInPandas md5 kernel: no md5 "
        "expression tree in the plan",
        lambda p: _count(p, "MapInPandas") >= 1 and "md5(" not in p),
}


@pytest.mark.parametrize("name", sorted(R06_PLAN_CLAIMS))
def test_r06_plan_claims(spark, name):
    """Each round-6 claim holds on today's plan, and so does the round's
    registry audit: no CartesianProduct, no row-at-a-time Python
    (BatchEvalPython) and no nested-loop join."""
    claim, holds = R06_PLAN_CLAIMS[name]
    plan = plan_report(getattr(queries, f"q_{name}")(spark, SF))["plan"]
    for op in ("CartesianProduct", "BatchEvalPython",
               "BroadcastNestedLoopJoin"):
        assert op not in plan, f"{name}: plan has {op}\n{plan}"
    assert holds(plan), f"{name}: {claim}\n{plan}"
