"""Bucketed band-store layout for streaming near-dup dedup (VERDICT
r4 #3): the store never shuffles — per-batch candidate joins either
broadcast the (small) arrival side, or SMJ against the store scan read
pre-partitioned on its bucket key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_text_extraction_spark.operators.dedup import (
    minhash_signature_df,
)
from document_text_extraction_spark.streaming.neardup import (
    NUM_HASHES,
    band_rows_df,
    seed_band_store_table,
    store_candidate_rejections,
    _with_bkey,
)


@pytest.fixture()
def docs(spark):
    rows = [(i, " ".join(f"w{(i * 31 + j) % 97}" for j in range(40)))
            for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_store_scan_carries_no_exchange(spark, docs):
    """The load-bearing plan property: with broadcast disabled (forcing
    the worst case), the candidate join reads the bucketed store with
    NO Exchange above its scan — only the arrival side shuffles."""
    seed_band_store_table(docs, "nd_store_plan_t", n_buckets=8)
    try:
        arrivals = docs.limit(10)
        bands = band_rows_df(
            minhash_signature_df(arrivals, num_hashes=NUM_HASHES))
        store = (spark.table("nd_store_plan_t")
                 .select("bkey", F.col("sig").alias("sig_store")))
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = store_candidate_rejections(bands, store, 0.7)
            plan = (j._jdf.queryExecution().executedPlan().toString())
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # the store scan is read pre-partitioned...
        assert "Bucketed: true" in plan, plan
        # ...and the join subtree holds exactly ONE shuffle: the
        # arrival side moving into the store's bucket layout. (The
        # trailing distinct's aggregate exchange sits ABOVE the join
        # and hashes doc_id, not bkey.)
        lines = plan.splitlines()
        scan_i = next(i for i, l in enumerate(lines)
                      if "FileScan" in l and "nd_store_plan_t" in l)
        join_i = max(i for i, l in enumerate(lines)
                     if "Join" in l and i < scan_i)
        shuffles = [l for l in lines[join_i:scan_i + 1]
                    if "Exchange hashpartitioning" in l]
        assert len(shuffles) == 1 and "bkey" in shuffles[0], plan
    finally:
        spark.sql("DROP TABLE IF EXISTS nd_store_plan_t")


def test_bkey_is_write_read_consistent(spark, docs):
    """The bucket key computed at arrival time equals the stored one
    for identical (band, bval) — same expression, same hash seed."""
    rows = band_rows_df(
        minhash_signature_df(docs.limit(5), num_hashes=NUM_HASHES))
    a = _with_bkey(rows).select("band", "bval", "bkey")
    b = _with_bkey(rows.select("band", "bval", "sig")).select(
        "band", "bval", "bkey")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple,
                                                         b.collect()))
