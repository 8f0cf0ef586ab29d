"""Mergeable distinct-count sketches (KMV / k-minimum-values).

The 100-TB problem: ``COUNT(DISTINCT x)`` per group re-shuffles every
occurrence of every value each time it is asked, and cannot be
pre-aggregated into a cube — yesterday's per-day result is useless for
this week's total. A KMV sketch (Bar-Yossef et al. 2002; the bottom-k
form of the theta sketch) fixes both: per group keep only the ``k``
smallest hash values of the distinct items; the k-th minimum estimates
the cardinality (``(k-1) / h_k`` on the unit interval), and the union
of two sketches is just the k smallest of their concatenation — so
per-slice / per-day sketch rows pre-aggregate exactly like sums.

Spark shape:

* the value hash is the engine's 60-bit md5 convention
  (``dedup.md5_token_hash``) — cross-engine reproducible, so the
  DuckDB oracle replicates the sketch bit-for-bit, minima and all;
* duplicate occurrences collapse in a map-side-combined
  ``groupBy(key, hash)`` BEFORE any ranking — the shuffle carries
  distinct (key, hash) pairs only;
* the k minima come from :func:`..operators.frontier.ranked_in_key`
  with its ``max_rank`` band-prune: on a skewed key the value bands
  past the k-th minimum drop before the rank join-back, so no task
  ever sorts a hot key's full distinct set;
* estimates use integer-exact double arithmetic: ``(k-1) * 2^60`` is
  exactly representable for any practical ``k``, and a single division
  is deterministic IEEE-754 in both engines.

This generalizes per-run success/failure tallies to the
pre-aggregable form a 1000-executor metrics cube needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_token_hash
from .frontier import ranked_in_key

HASH_SPACE = float(2 ** 60)  # md5_token_hash range is [0, 2^60)


def _estimate(n_hashes: Column, kth: Column, k: int) -> Column:
    """KMV estimator: exact when the sketch is not full (fewer than
    ``k`` distinct values seen — the minima ARE the value set)."""
    return F.when(
        n_hashes < k, n_hashes.cast("long")
    ).otherwise(
        F.round(F.lit((k - 1) * HASH_SPACE) / kth).cast("long")
    )


def kmv_sketch(df: DataFrame, key_cols: list[str], value_col: str,
               k: int = 64,
               skew_threshold: int | None = None) -> DataFrame:
    """Per-key KMV sketch: (keys..., kmv_hashes array<long> ascending,
    kmv_k, n_distinct_est). One distinct-collapse groupBy + one
    skew-safe top-k ranking; the output is one bounded row per key —
    the cube-friendly shape. ``kmv_k`` is the build width, which
    :func:`kmv_merge` checks."""
    dist = (df.select(*key_cols,
                      md5_token_hash(F.col(value_col)).alias("__h"))
            .groupBy(*key_cols, "__h").agg(F.lit(1).alias("__one"))
            .drop("__one"))
    ranked = ranked_in_key(dist, key_cols, "__h",
                           skew_threshold=skew_threshold, max_rank=k)
    return (ranked.filter(F.col("rank_in_key") <= k)
            .groupBy(*key_cols)
            .agg(F.array_sort(F.collect_list("__h"))
                 .alias("kmv_hashes"))
            .select(*key_cols, "kmv_hashes",
                    F.lit(k).alias("kmv_k"),
                    _estimate(F.size("kmv_hashes"),
                              F.element_at("kmv_hashes", k), k)
                    .alias("n_distinct_est")))


def kmv_merge(sketches: DataFrame, key_cols: list[str],
              k: int = 64,
              hashes_col: str = "kmv_hashes") -> DataFrame:
    """Merge sketch rows down to coarser keys (drop the sub-key — e.g.
    per-day sketches → per-source totals): union the minima, dedup,
    keep the k smallest, re-estimate. Never touches raw data — this is
    the re-aggregation a continuous metrics cube runs, same contract as
    ``rollup.hypertable_rollup`` (coarse levels derive from fine).

    Per input row the explode emits <= k hashes, and per output key at
    most (input sketches x k) — bounded, shuffle-light.

    ``k`` may not exceed any input row's ``kmv_k``: the bottom-64 sets
    of the parts do not hold the bottom-128 of their union, and a merged
    sketch short of ``k`` hashes would take the exact-count branch. Such
    a row fails the query when it is read."""
    too_wide = F.raise_error(F.concat(
        F.lit(f"kmv_merge at k={k} is wider than a sketch built with "
              "kmv_k="), F.col("kmv_k").cast("string")))
    hashes = F.when(F.col("kmv_k") >= k, F.col(hashes_col)).otherwise(
        too_wide)
    exploded = (sketches.select(*key_cols,
                                F.explode(hashes).alias("__h"))
                .groupBy(*key_cols, "__h").agg(F.lit(1).alias("__one"))
                .drop("__one"))
    ranked = ranked_in_key(exploded, key_cols, "__h", max_rank=k)
    return (ranked.filter(F.col("rank_in_key") <= k)
            .groupBy(*key_cols)
            .agg(F.array_sort(F.collect_list("__h"))
                 .alias(hashes_col))
            .select(*key_cols, hashes_col,
                    F.lit(k).alias("kmv_k"),
                    _estimate(F.size(hashes_col),
                              F.element_at(hashes_col, k), k)
                    .alias("n_distinct_est")))


def digit_histogram_sketch(df: DataFrame, key_cols: list[str],
                           value_col: str) -> DataFrame:
    """Mergeable quantile sketch over POSITIVE INTEGER values: HDR-
    histogram-style bins keyed by (decimal digit count, leading digit)
    — ~9 bins per decade, relative error bounded by one leading-digit
    step (<= ~2x). The win over ``percentile_approx``: rows are plain
    (keys, bin, n) counts, so per-slice sketches merge by SUM — a
    metrics cube can roll them up forever without re-scanning raw data
    — and the binning is string/integer arithmetic, bit-identical in
    any engine (no ``log10`` ULP flips at powers of ten).

    Returns (keys..., bin_digits, bin_lead, n)."""
    v = F.col(value_col).cast("long")
    s = v.cast("string")
    return (df.filter(v > 0)
            .groupBy(*key_cols,
                     F.length(s).cast("int").alias("bin_digits"),
                     F.substring(s, 1, 1).cast("int").alias("bin_lead"))
            .agg(F.count("*").cast("long").alias("n")))


def digit_histogram_merge(sketches: DataFrame,
                          key_cols: list[str]) -> DataFrame:
    """Roll sketch rows up to coarser keys: counts just add."""
    return (sketches.groupBy(*key_cols, "bin_digits", "bin_lead")
            .agg(F.sum("n").cast("long").alias("n")))


def digit_histogram_quantiles(sketch: DataFrame, key_cols: list[str],
                              qs: list[float]) -> DataFrame:
    """Quantile estimates from a digit-histogram sketch: for each q,
    the UPPER EDGE of the first bin whose cumulative count reaches
    ``ceil(q * total)`` — (bin_lead + 1) * 10^(bin_digits - 1), exact
    integer arithmetic. One window per key over <= bins-per-key rows
    (never the raw data), so no skew exposure. Returns
    (keys..., q, quantile_est) with q in per-mille to keep the output
    integer-typed."""
    from pyspark.sql import Window as W
    w = (W.partitionBy(*key_cols)
         .orderBy("bin_digits", "bin_lead")
         .rowsBetween(W.unboundedPreceding, 0))
    cum = sketch.withColumn("__cum", F.sum("n").over(w)).withColumn(
        "__tot", F.sum("n").over(W.partitionBy(*key_cols)))
    out = None
    for q in qs:
        ppm = int(round(q * 1000))
        need = F.ceil(F.col("__tot") * F.lit(ppm) / 1000.0)
        hit = (cum.filter(F.col("__cum") >= need)
               .groupBy(*key_cols)
               .agg(F.min(F.struct("bin_digits", "bin_lead"))
                    .alias("__b"))
               .select(*key_cols,
                       F.lit(ppm).cast("int").alias("q_permille"),
                       ((F.col("__b.bin_lead") + 1)
                        * F.pow(F.lit(10.0),
                                F.col("__b.bin_digits") - 1))
                       .cast("long").alias("quantile_est")))
        out = hit if out is None else out.unionByName(hit)
    return out
