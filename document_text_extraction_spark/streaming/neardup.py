"""Streaming NEAR-duplicate dedup: MinHash/LSH state across micro-batches.

``stream.run_incremental_dedup_stream`` drops exact re-captures via a
fingerprint store; real crawl increments also carry near-copies
(boilerplate re-renders, timestamp edits) that only near-dup banding
catches. This module keeps the admitted corpus's MinHash state in a
BAND STORE — one row per (band, band-signature-slice) of every
admitted doc — and each micro-batch:

1. computes batch signatures with
   ``operators.dedup.minhash_signature_df`` (explode + per-seed min —
   one map-side-combined shuffle);
2. equi-joins its band rows against the store (shuffle keyed on the
   band value, never on text) and estimates Jaccard as the
   signature-agreement fraction;
3. rejects arrivals similar to an ADMITTED earlier doc, or to a
   lower-id arrival of the same batch (deterministic greedy — the
   streaming form of keep-first);
4. appends the ADMITTED arrivals' band rows as the batch's own store
   partition.

Replay safety is the ``stream.py`` contract verbatim: output and store
partitions are keyed ``<run-token>_<batch_id>`` and overwritten, and
the store read excludes the current batch's partition, so an
at-least-once replay recomputes identical survivors instead of
rejecting against itself.

Semantics note: the store holds admitted docs only, so a batch-2
arrival near-dup ONLY to a batch-1 REJECTED doc is admitted (its
content's earliest representative is already in the corpus only if
similarity happened to be transitive). For exact copies the two
formulations coincide (equality is transitive) — that is the case the
registry oracle pins; the near-pair behavior is property-tested.

Store-side scale note: the band store is a Spark BUCKETED table keyed
on ``bkey = xxhash64(band, bval)`` (``seed_band_store_table``), so the
per-batch candidate join never moves the store — the planner either
broadcasts the (small) arrival side against the store scan, or, above
the broadcast threshold, sort-merge-joins with the store scan read
PRE-PARTITIONED (``Bucketed: true``, zero store-side Exchange;
plan-asserted in tests/test_streaming_neardup_store.py). Only the
arrival side shuffles, into the store's bucket count. Joining on the
single ``bkey`` column (instead of raw (band, bval)) is what lets the
bucket spec satisfy the join's distribution requirement; a 64-bit
collision can only ADD candidate pairs, which the signature-agreement
threshold then filters — it cannot drop a true candidate. Store
appends are per-batch partitions ``batch_id=<run-token>_<n>``; an
at-least-once replay re-reads the store WITHOUT its own partition
(identical admit/reject decisions) and appends a duplicate copy of its
band rows, which downstream batches see only as candidate multiplicity
— never a changed decision (rejection is set membership).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_signature_df
from .stream import _dedup_run_token

NUM_HASHES = 16
BANDS = 4  # rows per band = NUM_HASHES // BANDS


def band_rows_df(sig_df: DataFrame, id_col: str = "doc_id",
                 num_hashes: int = NUM_HASHES,
                 bands: int = BANDS) -> DataFrame:
    """(id, band, bval array<long>, sig): one row per band; the band
    VALUE is the signature slice itself (array equality joins clean in
    any engine — no second-level hash to keep in sync)."""
    rows = num_hashes // bands
    return (sig_df.select(
        F.col(id_col), F.col("sig"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.slice("sig", b * rows + 1, rows).alias("bval"))
            for b in range(bands)
        ])).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"),
                F.col("bb.bval").alias("bval"), "sig"))


def _agreement(a, b):
    """Signature-agreement fraction — divides by the ACTUAL signature
    length (``F.size``), not the module default, so signatures of a
    non-default ``num_hashes`` get correctly scaled Jaccard
    estimates."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v,
    ) / F.size(a).cast("double")


def _with_bkey(rows: DataFrame) -> DataFrame:
    """The store's bucket/join key: one 64-bit hash of (band, bval).
    Computed identically at store write and arrival time."""
    return rows.withColumn("bkey", F.xxhash64("band", "bval"))


def _write_band_rows(docs: DataFrame, table: str, batch_id: str,
                     mode: str, n_buckets: int, path: str | None,
                     id_col: str, text_col: str) -> None:
    """Write the band rows of ``docs`` (keyed ``src_id``) as the store
    table's partition ``batch_id``, bucketed on ``bkey``."""
    sig = minhash_signature_df(docs, id_col, text_col,
                               num_hashes=NUM_HASHES)
    w = (_with_bkey(band_rows_df(sig, id_col))
         .withColumnRenamed(id_col, "src_id")
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode(mode).partitionBy("batch_id")
         .bucketBy(n_buckets, "bkey").sortBy("bkey"))
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def seed_band_store_table(docs: DataFrame, table: str,
                          n_buckets: int = 32,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          path: str | None = None) -> None:
    """Materialize the seed state as a BUCKETED store table: hive
    partition ``batch_id`` (per-batch append/exclude unit) × bucket
    ``bkey`` (the join key) — the layout under which per-batch
    candidate joins never shuffle the store (module docstring).
    ``path`` makes the table EXTERNAL at that location (bucketing
    metadata is unchanged) — callers owning a scratch/lake directory
    pass it so the store does not depend on the session's
    warehouse dir."""
    _write_band_rows(docs, table, "seed0", "overwrite", n_buckets, path,
                     id_col, text_col)


def store_candidate_rejections(bands: DataFrame, store: DataFrame,
                               threshold: float,
                               id_col: str = "doc_id") -> DataFrame:
    """Arrival ids near-dup to an admitted doc: candidates via the
    single-key ``bkey`` equi-join (store side pre-bucketed on bkey →
    no store exchange), verified by signature agreement. ``store``
    must carry (bkey, sig_store)."""
    return (_with_bkey(bands).join(store, "bkey")
            .filter(_agreement(F.col("sig"), F.col("sig_store"))
                    >= threshold)
            .select(id_col).distinct())


def run_neardup_dedup_stream(spark: SparkSession, input_path: str,
                             store_table: str, output_path: str,
                             checkpoint_path: str,
                             threshold: float = 0.7,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             store_buckets: int = 32,
                             store_path: str | None = None):
    """availableNow near-dup dedup over a parquet increment directory
    against the bucketed band store ``store_table`` (seeded by
    :func:`seed_band_store_table`; ``store_buckets`` and ``store_path``
    must match the seed's); see module docstring for semantics and
    replay safety."""
    schema = spark.read.parquet(input_path).schema
    inc = (spark.readStream.schema(schema).format("parquet")
           .load(input_path))
    run_token = _dedup_run_token(checkpoint_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        part = f"{run_token}_{batch_id}"
        sig = minhash_signature_df(batch_df, id_col, text_col,
                                   num_hashes=NUM_HASHES)
        bands = band_rows_df(sig, id_col)
        store = (sess.table(store_table)
                 .filter(F.col("batch_id") != part)
                 .select("bkey", F.col("sig").alias("sig_store")))
        vs_store = store_candidate_rejections(
            bands, store, threshold, id_col)
        l, r = bands.alias("l"), bands.alias("r")
        vs_batch = (l.join(r, (F.col("l.band") == F.col("r.band"))
                           & (F.col("l.bval") == F.col("r.bval"))
                           & (F.col(f"l.{id_col}")
                              < F.col(f"r.{id_col}")))
                    .filter(_agreement(F.col("l.sig"), F.col("r.sig"))
                            >= threshold)
                    .select(F.col(f"r.{id_col}").alias(id_col))
                    .distinct())
        rejected = vs_store.unionByName(vs_batch).distinct()
        admitted = batch_df.join(rejected, id_col, "left_anti")
        admitted.persist()
        try:
            (admitted.write.mode("overwrite")
             .parquet(os.path.join(output_path, f"batch_id={part}")))
            _write_band_rows(admitted, store_table, part, "append",
                             store_buckets, store_path, id_col, text_col)
        finally:
            admitted.unpersist()

    q = (inc.writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", checkpoint_path)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
