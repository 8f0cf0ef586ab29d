"""Crawl-frontier politeness planning — per-host fetch sequencing.

A polite crawler fetches one URL per host per politeness interval
(RFC 9309 ``Crawl-delay``, default courtesy delay otherwise), so the
frontier's job is: within each host, order candidates by priority and
assign each its fetch slot; slot × delay = the earliest time the fetch
may start.  This is the scheduling operator the robots.txt protocol
layer (:mod:`.robots`, Crawl-delay parsing) feeds at web scale.

Scale shape: ONE hash shuffle on the host.  ``row_number`` over a host
window is the textbook plan, but a window's partition runs in a single
task — and frontier hosts are exactly where Zipf skew lives (the same
measured 27%-of-bytes hot host the extraction path salts for).  So the
ranking has a banded path for hot keys, the census-then-band pattern
shared with :func:`.asof.asof_join`:

* a cheap partial-aggregated census finds keys above
  ``skew_threshold`` and their sort-value range;
* hot rows band by VALUE RANGE on the sort key — ``floor`` of an
  affine map is monotone, so band order == sort order and every tie
  lands in one band; no quantile sketch, no boundary-straddle bugs;
* phase A ranks within (key, band) in parallel; phase B offsets each
  band by the row counts of all prior bands — a window over ≤
  ``n_bands`` tiny rows per hot key.

Identical output to the plain window whenever ``sort_col`` is unique
per key (pass a composed tiebreak column otherwise — with duplicate
sort values BOTH paths are valid-but-arbitrary rankings, per SQL
``row_number`` semantics).  Value-range bands can be unbalanced when
the sort values themselves bunch (same documented trade as the as-of
band plan); they bound the per-task row count by the hot key's densest
value stripe rather than its total.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def ranked_in_key(df: DataFrame, key_cols: list[str], sort_col: str,
                  out_col: str = "rank_in_key",
                  skew_threshold: int | None = None,
                  n_bands: int = 32,
                  max_rank: int | None = None) -> DataFrame:
    """1-based dense fetch order of each row within its key, ordered by
    ``sort_col`` ascending — ``row_number() OVER (PARTITION BY keys
    ORDER BY sort_col)`` with an optional banded anti-skew plan.

    ``max_rank`` is a top-k hint for quota-style callers that will
    filter ``out_col <= max_rank`` anyway: on the banded (hot-key)
    path, whole bands whose exclusive prefix count already reaches
    ``max_rank`` are dropped BEFORE the rank join-back — a hot key
    capped at 1k keeps only the value bands holding its first 1k rows
    instead of ranking all of them. Rows with rank > ``max_rank`` MAY
    therefore be absent from the result (band granularity: some such
    rows survive to the caller's filter); ranks <= ``max_rank`` are
    complete and identical to the un-hinted output."""
    if skew_threshold is None:
        w = W.partitionBy(*key_cols).orderBy(F.col(sort_col).asc())
        return df.withColumn(out_col, F.row_number().over(w)
                             .cast("long"))

    stats = (df.groupBy(*key_cols)
             .agg(F.count("*").alias("__n"),
                  F.min(sort_col).alias("__smin"),
                  F.max(sort_col).alias("__smax"))
             .filter((F.col("__n") > skew_threshold)
                     # strictly-wider-than-one-ULP in DOUBLE too: the
                     # band math below runs in double, so a range that
                     # collapses under double rounding stays cold
                     & (F.col("__smax").cast("double")
                        > F.col("__smin").cast("double")))
             .select(*key_cols, "__smin", "__smax"))
    tagged = df.join(F.broadcast(stats), key_cols, "left")
    is_hot = F.col("__smin").isNotNull()
    # band math in DOUBLE: 64-bit sort keys (e.g. the 60-bit KMV
    # hashes) overflow a long under `* n_bands`, and banding only
    # needs a MONOTONE bucketing — floor of the affine map stays
    # monotone under double rounding, and ranks are band-invariant
    s_d = F.col(sort_col).cast("double")
    lo_d, hi_d = F.col("__smin").cast("double"), F.col("__smax").cast("double")
    band: Column = F.least(
        F.lit(n_bands - 1),
        F.floor((s_d - lo_d) * float(n_bands) / (hi_d - lo_d)),
    ).cast("int")

    cold = (tagged.filter(~is_hot).drop("__smin", "__smax")
            .withColumn(out_col, F.row_number().over(
                W.partitionBy(*key_cols).orderBy(F.col(sort_col).asc()))
                .cast("long")))

    hot = (tagged.filter(is_hot).withColumn("__band", band)
           .drop("__smin", "__smax"))
    # phase A: rank inside each (key, band) — parallel across bands
    in_band = F.row_number().over(
        W.partitionBy(*key_cols, "__band").orderBy(F.col(sort_col).asc()))
    hot = hot.withColumn("__ib", in_band)
    # phase B: per-band row counts → exclusive prefix sum = band offset
    # (≤ n_bands rows per hot key: the window can never skew)
    counts = hot.groupBy(*key_cols, "__band").agg(
        F.count("*").alias("__bn"))
    woff = (W.partitionBy(*key_cols).orderBy(F.col("__band").asc())
            .rowsBetween(W.unboundedPreceding, -1))
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__bn").over(woff), F.lit(0)))
    if max_rank is not None:
        # quota hint: a band whose exclusive prefix already holds
        # max_rank rows cannot contribute any rank <= max_rank — the
        # inner join-back below then drops its rows wholesale
        offsets = offsets.filter(F.col("__off") < max_rank)
    hot = (hot.join(F.broadcast(offsets.select(*key_cols, "__band",
                                               "__off")),
                    [*key_cols, "__band"])
           .withColumn(out_col,
                       (F.col("__off") + F.col("__ib")).cast("long"))
           .drop("__band", "__ib", "__off"))
    return cold.unionByName(hot)


def frontier_plan(candidates: DataFrame, host_col: str = "host",
                  sort_col: str = "priority",
                  delay_col: str | None = None,
                  default_delay_s: float = 1.0,
                  skew_threshold: int | None = None,
                  n_bands: int = 32) -> DataFrame:
    """Politeness schedule: adds ``fetch_seq`` (0-based slot within the
    host, priority order) and ``eta_s`` (earliest start offset =
    ``fetch_seq × crawl delay``).  ``delay_col`` carries a per-host
    Crawl-delay (seconds; null → ``default_delay_s``) as produced by
    :func:`.robots.parse_robots_rules`' Crawl-delay extraction."""
    ranked = ranked_in_key(candidates, [host_col], sort_col,
                           out_col="__rk",
                           skew_threshold=skew_threshold,
                           n_bands=n_bands)
    seq = (F.col("__rk") - 1).cast("long")
    delay = (F.coalesce(F.col(delay_col), F.lit(default_delay_s))
             if delay_col is not None else F.lit(default_delay_s))
    return (ranked
            .withColumn("fetch_seq", seq)
            .withColumn("eta_s",
                        (F.col("fetch_seq") * delay).cast("double"))
            .drop("__rk"))
