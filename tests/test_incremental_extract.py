"""Crawl-over-crawl incremental extraction
(pipeline.incremental_extract_df): unchanged pages reuse the previous
run's output without touching the Python kernel; changed/new pages
re-extract; the union is bit-identical to a full extraction (modulo
the documented non-identity lineage fields, LIMITS.md §7)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from document_text_extraction_spark import corpus as C
from document_text_extraction_spark import pipeline


def _pages(spark, rows):
    pdf = pd.DataFrame(rows, columns=["url", "html"])
    return spark.createDataFrame(pdf)


def _comparable(df):
    """Project away the documented non-identity fields (elapsed_ms,
    partition_id) and the reuse marker."""
    return {
        r["url"]: (r["extracted_text"], str(r["spans"]),
                   str(r["fields"]), r["lineage"]["status"],
                   r["lineage"]["route"], r["lineage"]["reason"],
                   r["lineage"]["n_pages"],
                   r["lineage"]["n_blocks"], r["lineage"]["bytes_in"],
                   r["part_bucket"])
        for r in df.collect()
    }


def _crawl(n):
    return [(r["url"], r["html"]) for r in C.synth_rows(n)]


def test_incremental_equals_full_extraction(spark):
    crawl1 = _crawl(40)
    pages1 = _pages(spark, crawl1)
    prev = (pipeline.extract_df(pages1, n_buckets=8)
            .join(pages1.select(
                "url", pipeline.html_digest_col().alias("html_digest")),
                "url"))
    # crawl 2: 3 docs change content, 2 are new, rest identical
    crawl2 = []
    for i, (url, html) in enumerate(crawl1):
        if i in (3, 7, 11):
            html = html + b"<p>appended revision</p>"
        crawl2.append((url, html))
    for j in (90_001, 90_002):
        r = C.make_html(j, "brand new page words " * 30)
        crawl2.append((C.url_for(j, "new"), r))
    pages2 = _pages(spark, crawl2)

    inc = pipeline.incremental_extract_df(pages2, prev, n_buckets=8)
    full = pipeline.extract_df(pages2, n_buckets=8)
    assert _comparable(inc) == _comparable(full)
    # reuse accounting: exactly the unchanged urls come from cache
    cached = {r["url"] for r in
              inc.filter("from_cache").select("url").collect()}
    changed_urls = {crawl1[i][0] for i in (3, 7, 11)} | {
        C.url_for(j, "new") for j in (90_001, 90_002)}
    assert cached == {u for u, _ in crawl2} - changed_urls


def test_unchanged_rows_never_reach_the_python_kernel(spark):
    """Behavioral proof of the reuse path: poison the previous run's
    outputs with a marker — unchanged urls must surface the marker
    verbatim (reused rows are never re-extracted)."""
    crawl = _crawl(12)
    pages = _pages(spark, crawl)
    prev = (pipeline.extract_df(pages, n_buckets=8)
            .join(pages.select(
                "url", pipeline.html_digest_col().alias("html_digest")),
                "url")
            .withColumn("extracted_text",
                        F.concat(F.lit("CACHED:"), F.col("url"))))
    out = pipeline.incremental_extract_df(pages, prev, n_buckets=8)
    texts = {r["url"]: r["extracted_text"] for r in out.collect()}
    assert all(t == f"CACHED:{u}" for u, t in texts.items())
    assert out.filter("NOT from_cache").count() == 0


def test_changed_side_filter_sits_below_the_python_map(spark):
    """Plan shape: the digest-inequality join/filter feeds the
    mapInPandas input — Python cost scales with the change rate, not
    the crawl (the same below-the-map principle as the resumable
    slice filter)."""
    crawl = _crawl(10)
    pages = _pages(spark, crawl)
    prev = (pipeline.extract_df(pages, n_buckets=8)
            .join(pages.select(
                "url", pipeline.html_digest_col().alias("html_digest")),
                "url"))
    plan = (pipeline.incremental_extract_df(pages, prev, n_buckets=8)
            ._jdf.queryExecution().executedPlan().toString())
    map_i = plan.index("MapInPandas")
    # the map's subtree (below it) must contain the digest join —
    # i.e. a Join node appears AFTER the MapInPandas line in the
    # printed tree (children print below parents)
    assert "Join" in plan[map_i:], plan
