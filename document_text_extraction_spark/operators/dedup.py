"""Dataset-level deduplication operators for training-data pipelines.

Shuffle-conscious, one implementation per algorithm:

* exact: one groupBy on an md5 fingerprint (map-side partial agg);
* MinHash+LSH: shingle explode → per-seed min aggregates → band hashes
  → **one** exploded band join finds candidates → exact-Jaccard
  verification joins only the candidates;
* SimHash: per-document token bit votes in an Arrow-batch kernel (no
  shuffle) → band buckets on bit ranges (Hamming-adjacent candidates
  without a cross join);
* winnowing: char k-gram hashes and window minima in an Arrow-batch
  kernel (map-only) → fingerprint equi-join for overlap pairs;
* n-gram Jaccard: exploded-shingle equi-join restricted to candidate
  pairs (a < b) with group counts — the classic
  inter/union formulation.

Scale notes (100 TB): every operator here is a hash-shuffle on a bounded
key (fingerprint, band hash, shingle) — no cross joins anywhere; AQE skew
handling applies to the band join; shingle explosion is the dominant
cost and is O(tokens) per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def shingles_col(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles as an array column (JVM-side)."""
    toks = F.split(text, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))


def content_fingerprint_col(text: Column) -> Column:
    """THE content fingerprint of this engine (md5 over UTF-8 bytes).

    Single definition shared by exact dedup, keep-first, incremental
    dedup and the STREAMING fingerprint store — the store must stay
    bit-compatible with the batch operators, so any change to the
    fingerprint (e.g. canonicalization) must happen here, once."""
    return F.md5(F.encode(text, "UTF-8"))


def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Exact dedup by md5 fingerprint → groups with >1 member."""
    return (
        df.select(F.col(id_col),
                  content_fingerprint_col(F.col(text_col))
                  .alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"),
             F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def incremental_dedup(new_docs: DataFrame, existing: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      prune_prefix_len: int | None = None) -> DataFrame:
    """Dedup a NEW crawl increment against the already-ingested corpus:
    drop any new document whose content fingerprint already exists,
    then keep one copy per fingerprint within the increment itself
    (lowest id). The per-crawl production pattern — the existing corpus
    is never rescanned beyond its fingerprint column (at scale that
    column lives pre-computed in the table; here it is derived, and
    Catalyst prunes the scan to exactly ``text``).

    Shuffle profile: one equi-join on the md5 fingerprint (increment ×
    fingerprint set, hash-partitioned) + the increment-local window —
    both keyed on the fingerprint, so AQE can reuse one exchange.

    ``prune_prefix_len``: bloom-style join pruning for the daily-crawl
    asymmetry (increment of ~10^6 docs vs an ingested set of ~10^10
    fingerprints, where shuffling the big side dominates the job). The
    DISTINCT set of ``k``-hex-char fingerprint prefixes present in the
    increment (≤ min(\\|increment\\|, 16^k) rows — a few MB) is
    broadcast, and the ingested set is semi-joined against it MAP-SIDE
    before the anti-join — only fingerprints whose prefix collides
    with some increment row are ever shuffled, pruning the big side by
    ≈ \\|increment prefixes\\| / 16^k (k=6 on a 10^6-row increment:
    ~94% pruned). Exactly a broadcast bloom filter with the identity
    prefix as its hash; false positives (prefix collisions) are
    removed by the exact anti-join, so the result is IDENTICAL for
    every ``k`` — pick k so 16^k ≫ the expected increment size.
    (Spark's runtime bloom pruning targets selective-filter equi-joins
    and does not fire on this anti-join; the prefix set is the
    declarative form of the same optimization.)"""
    fp_new = content_fingerprint_col(F.col(text_col))
    seen = existing.select(
        content_fingerprint_col(F.col(text_col)).alias("__fp"))
    inc = new_docs.withColumn("__fp", fp_new)
    if prune_prefix_len is not None:
        pfx = F.substring("__fp", 1, prune_prefix_len)
        inc_pfx = inc.select(pfx.alias("__pfx")).distinct()
        seen = seen.join(F.broadcast(inc_pfx),
                         pfx == F.col("__pfx"), "left_semi")
    fresh = inc.join(seen.dropDuplicates(["__fp"]), "__fp", "left_anti")
    from pyspark.sql import Window as W
    w = W.partitionBy("__fp").orderBy(F.col(id_col))
    return (fresh.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__fp", "__rn"))


def deduplicate_keep_first(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """The dedup *transform* (not the report): keep exactly one row per
    exact-duplicate group — the lowest id ("first capture wins", the
    crawl-dedup policy). One window over the fingerprint hash; no join.
    """
    from pyspark.sql import Window as W
    fp = content_fingerprint_col(F.col(text_col))
    w = W.partitionBy(fp).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def canonical_text_col(text: Column) -> Column:
    """Dedup canonicalization: casefold, strip punctuation, collapse
    whitespace — the standard pre-fingerprint normalization so trivial
    formatting variants hash identically."""
    low = F.lower(text)
    stripped = F.regexp_replace(low, r"[^\w\s]", "")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def _explode_nonnull(df: DataFrame, arr_col: str, out_col: str,
                     keep: list[str]) -> DataFrame:
    """``explode`` an expensive generated array WITHOUT the
    InferFiltersFromGenerate tax: a plain ``explode`` makes Catalyst
    synthesize a ``size(arr) > 0`` predicate and push it below the
    projection, which re-evaluates the entire (interpreted,
    higher-order) array expression once more per row inside a
    non-codegen Filter — measured at sf1.0 on the shingle array:
    0.9 s (outer form) vs 12.9 s (plain explode) for the identical
    result. The outer form infers nothing; fingerprint-less rows yield
    one null that a cheap attribute filter drops. Every explode of a
    generated array in this module takes this form."""
    return (df.select(*keep, F.explode_outer(arr_col).alias(out_col))
            .filter(F.col(out_col).isNotNull()))


def _shingle_mins(df: DataFrame, id_col: str, text_col: str, k: int,
                  num_hashes: int) -> tuple[DataFrame, DataFrame]:
    """``(base, mins)``: ``base`` is ``(id, shingles)`` (distinct word
    k-grams) and ``mins`` is ``(id, h0 … h{num_hashes-1})``, the
    per-seed MinHash values — the one signature computation behind
    :func:`minhash_signature_df` and :func:`minhash_near_duplicates`.

    Two formulations were measured: (a) array expressions
    ``array_min(transform(shingles, s -> xxhash64(s, seed)))`` x32 —
    zero shuffle but the nested-lambda tree takes ~50s of Janino
    codegen compilation on first run; (b) explode once, 32 plain
    ``min(xxhash64(shingle, seed))`` aggregates — one map-side-combined
    shuffle of (id, 32 longs) and trivial codegen. (b) wins end-to-end.

    NOTE (historical bug): building per-seed lambdas as
    ``lambda s, h=h`` makes pyspark treat them as (element, index)
    callables, silently replacing the seed with the array index —
    caught by the planted-pair recall test (jaccard-0.92 pairs had
    0/32 signature agreement). Seeds are now plain column args."""
    sh_arr = F.array_distinct(shingles_col(F.col(text_col), k))
    base = df.select(F.col(id_col), sh_arr.alias("shingles"))
    exploded = _explode_nonnull(base, "shingles", "s", [id_col])
    mins = exploded.groupBy(id_col).agg(*[
        F.min(F.xxhash64("s", F.lit(h))).alias(f"h{h}")
        for h in range(num_hashes)
    ])
    return base, mins


def minhash_signature_df(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 3,
                         num_hashes: int = 32) -> DataFrame:
    """MinHash signatures ``(id, sig array<long>)``; a document without
    shingles (NULL text) has no row."""
    _, mins = _shingle_mins(df, id_col, text_col, k, num_hashes)
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"h{h}") for h in range(num_hashes)]).alias("sig"),
    )


def minhash_near_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, num_hashes: int = 32, bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    rows = num_hashes // bands
    base, sig = _shingle_mins(df, id_col, text_col, k, num_hashes)
    # band join carries ONLY (id, band, bh): candidate pairs are deduped
    # as bare id pairs before the (heavy) shingle arrays are joined back
    # once — shuffling shingles through the 8x band multiplicity was the
    # dominant cost of the naive formulation
    banded = sig.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{b * rows + r}")
                             for r in range(rows)]).alias("bh"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")
    # self-join: both sides are the identical subplan, so Spark reuses
    # the signature stage's shuffle exchange (ReusedExchange in the
    # physical plan — asserted by test_dedup_similarity); no explicit
    # persist needed, hence no cache leak in long-lived sessions
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # shingle arrays re-derived from the input (map-only, no shuffle) —
    # joined back only for the candidate ids
    cand = (
        cand.join(base.select(F.col(id_col).alias("id_a"),
                              F.col("shingles").alias("sh_a")), "id_a")
        .join(base.select(F.col(id_col).alias("id_b"),
                          F.col("shingles").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = (
        cand.select("id_a", "id_b", (inter / union).alias("jac_raw"))
        .filter(F.col("jac_raw") >= threshold)
        .select(
            "id_a", "id_b",
            (F.floor(F.col("jac_raw") * 1e6) / 1e6).alias("jaccard"),
        )
    )
    return out


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        threshold: float = 0.5,
                        max_shingle_doc_freq: int | None = None
                        ) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing >=1 shingle.

    Shuffle profile: explode (map-side) → equi-join on shingle →
    groupBy pair. No LSH approximation — the oracle-checkable exact
    variant; at 100 TB use minhash_near_duplicates instead, OR pass
    ``max_shingle_doc_freq``: shingles appearing in more than that many
    documents are excluded from *candidate generation* (the classic hot-
    shingle cap — a shingle in F docs contributes F² join rows, so one
    boilerplate phrase can dominate the shuffle). The reported jaccard
    stays EXACT (recomputed from full shingle sets per candidate pair);
    only pairs whose entire overlap is hot shingles can be missed —
    such pairs are boilerplate-similar, not content-similar.
    """
    sh_arr = F.array_distinct(shingles_col(F.col(text_col), k))
    base = df.select(F.col(id_col), sh_arr.alias("shingles"))
    sh = _explode_nonnull(base, "shingles", "shingle", [id_col])
    if max_shingle_doc_freq is None:
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        a = sh.alias("a")
        b = sh.alias("b")
        pair_inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
        sa = sizes.select(F.col(id_col).alias("id_a"),
                          F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col(id_col).alias("id_b"),
                          F.col("n_sh").alias("n_b"))
        # floor-scaling (not round) so the value is bit-stable vs the
        # DuckDB oracle: both engines divide the same exact integers.
        # No broadcast hints: sizes is one row per DOCUMENT (huge at
        # corpus scale) while pair_inter is the small side — AQE's
        # runtime join selection broadcasts the right side
        jac_raw = (F.col("inter")
                   / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        return (
            pair_inter.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(jac_raw >= threshold)
            .select(
                "id_a", "id_b",
                (F.floor(jac_raw * 1e6) / 1e6).alias("jaccard"),
            )
        )
    # hot-shingle-capped candidate generation + exact verification.
    # Shape (r6): the shingle map is the expensive half (the explode
    # subtree costs ~1 s fully parallel at sf1.0 and used to be
    # re-evaluated up to 5x), so
    # * the doc-frequency cap stays a WINDOW over the exploded shingles
    #   — its exchange is reused by BOTH sides of the candidate
    #   self-join, so the explode runs once for the whole candidate
    #   stage (a groupBy-freq + join-back restructure was tried and
    #   re-ran the explode per join side: slower);
    # * verification recomputes inter/union from the full DISTINCT
    #   shingle ARRAYS of just the candidate pairs (two map-only
    #   re-derives joined against the tiny candidate set) instead of
    #   the old two full-explode joins + per-doc sizes groupBy — both
    #   arrays are distinct, so size(array_intersect) equals the
    #   count-based inter and size(shingles) equals n_sh.
    # Result set is identical (same candidates, same exact jaccard);
    # measured at sf1.0: 2.85 M exploded rows, 2 874 candidates,
    # 29.3 s (r5 form, single-task scan) -> ~3.5 s.
    from pyspark.sql import Window as W
    freq = F.count("*").over(W.partitionBy("shingle"))
    cold = (sh.withColumn("df", freq)
            .filter(F.col("df") <= max_shingle_doc_freq)
            .select(id_col, "shingle"))
    a = cold.alias("a")
    b = cold.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = (
        cand.join(base.select(F.col(id_col).alias("id_a"),
                              F.col("shingles").alias("sh_a")), "id_a")
        .join(base.select(F.col(id_col).alias("id_b"),
                          F.col("shingles").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac_raw = (inter
               / (F.size("sh_a") + F.size("sh_b") - inter))
    return (
        cand.filter(jac_raw >= threshold)
        .select("id_a", "id_b",
                (F.floor(jac_raw * 1e6) / 1e6).alias("jaccard"))
    )


def winnow_fingerprints_df(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 8,
                           w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every char k-gram, slide a
    window of ``w`` consecutive hashes, keep each window's minimum,
    dedup. Guarantees any shared substring of length >= k + w - 1
    yields a shared fingerprint, at ~2/(w+1) sampling density —
    the overlap/containment detector that set-resemblance MinHash
    does not give you (a 5% verbatim inclusion barely moves Jaccard
    but shares its fingerprints). Returns ``(id, fps: array<long>)``,
    sorted distinct; map-only at any scale (no shuffle).

    An Arrow-batch kernel: the grams hash through C-level
    ``hashlib.md5`` (the 60-bit :func:`md5_token_hash`, so DuckDB can
    recompute every fingerprint) and the window minima are one
    vectorized ``sliding_window_view().min`` per document (guide §4.2:
    hand whole batches to native code). An interpreted
    ``conv(substring(md5(...)))`` tree per CHARACTER position was the
    dominant winnow cost (~16 M evaluations at sf1.0). Semantics: grams
    are code-point slices, as Spark's ``substring`` counts them; a text
    shorter than ``k`` contributes its single truncated gram; a window
    count below 1 clamps to one window over all grams; a NULL text
    yields ``[NULL]`` (one null gram hash), not a NULL array."""
    import hashlib

    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    schema = T.StructType([
        T.StructField(id_col, id_field.dataType),
        T.StructField("fps", T.ArrayType(T.LongType())),
    ])

    def gen(batches):
        md5 = hashlib.md5
        for b in batches:
            out = []
            for t in b[text_col]:
                if t is None:
                    out.append([None])
                    continue
                n = len(t)
                ng = n - (k - 1) if n - (k - 1) > 1 else 1
                hs = np.fromiter(
                    (int(md5(t[i:i + k].encode("utf-8"))
                         .hexdigest()[:15], 16)
                     for i in range(ng)),
                    dtype=np.int64, count=ng)
                if ng >= w:
                    mins = sliding_window_view(hs, w).min(axis=1)
                else:
                    mins = hs.min(keepdims=True)
                out.append(np.unique(mins).tolist())
            yield pd.DataFrame({id_col: b[id_col], "fps": out})

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 8, w: int = 4,
                         min_shared: int = 2,
                         max_fp_doc_freq: int | None = None
                         ) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    — partial-overlap / containment candidates (quote farms, mirrored
    boilerplate, spliced documents).

    Shuffle shape mirrors the capped n-gram join: explode fingerprints,
    optional hot-fingerprint cap via one frequency window (a
    fingerprint in F docs contributes F² pair rows), equi-self-join,
    pair count. Returns (id_a, id_b, shared_fps)."""
    fpd = winnow_fingerprints_df(df, id_col, text_col, k, w)
    fps = _explode_nonnull(fpd, "fps", "fp", [id_col])
    if max_fp_doc_freq is not None:
        # frequency cap via ONE window over the exploded fingerprints,
        # NOT a groupBy + join-back: the fingerprint map above is the
        # expensive part (3.0-3.2 s at sf1.0 even fully parallel), and
        # the window's exchange is REUSED by both sides of the pair
        # self-join below, so the map runs exactly once. A groupBy-freq
        # + join restructure was tried this round and re-evaluated the
        # map on both self-join sides: 7.2 s vs 3.8 s for the window
        # form (r6 probe). The window's shuffle of every (id, fp) row
        # is the cheaper currency here.
        from pyspark.sql import Window as W
        freq = F.count("*").over(W.partitionBy("fp"))
        fps = (fps.withColumn("df", freq)
               .filter(F.col("df") <= max_fp_doc_freq)
               .select(id_col, "fp"))
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


SIMHASH_BITS = 60  # multiple of the band count; < 63 keeps longs positive


def md5_token_hash(tok: Column) -> Column:
    """60-bit token hash from md5's first 15 hex digits.

    Cross-engine reproducible (DuckDB: ``('0x' || substr(md5(t),1,15))
    ::BIGINT``). The column form of the hash the SimHash and winnowing
    kernels compute per token in Python
    (``int(md5(tok).hexdigest()[:15], 16)``) — always positive, always
    fits a long."""
    return F.conv(F.substring(F.md5(F.encode(tok, "UTF-8")), 1, 15),
                  16, 10).cast("long")


def simhash_df(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash ``(id, simhash)``: every space-split token
    votes +1/-1 on each of ``bits`` bits of its :func:`md5_token_hash`
    value; a bit is set where the vote is positive.

    An Arrow-batch kernel with NO shuffle: per document the whole
    computation is a closed function of its token list, so it runs as
    one numpy pass (C-level hashlib per token, vectorized bit votes)
    instead of a token explode through a ``bits``-column aggregate.
    Semantics (pinned by the DuckDB oracle of ``simhash_neardup``):
    tokens are ``str.split(' ')``, Spark's ``split(text, ' ')`` —
    trailing empty strings kept, ``''`` splits to ``['']`` — and empty
    tokens vote like any other; a tie leaves the bit clear; a NULL text
    has no row."""
    import hashlib

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    schema = T.StructType([
        T.StructField(id_col, id_field.dataType),
        T.StructField("simhash", T.LongType()),
    ])
    shifts = np.arange(bits, dtype=np.int64)

    def gen(batches):
        md5 = hashlib.md5
        for b in batches:
            ids = []
            out = []
            for i, t in zip(b[id_col], b[text_col]):
                if t is None:
                    continue
                toks = t.split(" ")
                hs = np.fromiter(
                    (int(md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                     for tok in toks),
                    dtype=np.int64, count=len(toks))
                votes = (((hs[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                sh = int(((votes > 0).astype(np.int64) << shifts).sum())
                ids.append(i)
                out.append(sh)
            yield pd.DataFrame({id_col: ids, "simhash": out})

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def simhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            bands: int = 4,
                            max_hamming: int = 3) -> DataFrame:
    """Candidate pairs whose SimHashes agree on >=1 of ``bands`` bit-bands
    (catches all pairs with Hamming distance < bands), verified by exact
    Hamming distance <= max_hamming. With max_hamming < bands the band
    pre-filter is *complete* (pigeonhole), so the output is exactly
    every pair at Hamming <= max_hamming — an oracle-checkable set."""
    bits_per_band = SIMHASH_BITS // bands
    mask = (1 << bits_per_band) - 1
    sh = simhash_df(df, id_col, text_col)
    banded = sh.select(
        F.col(id_col), "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * bits_per_band)
                .bitwiseAND(F.lit(mask)).alias("bv"),
            ) for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bv")
    l, r = banded.alias("l"), banded.alias("r")
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # Hamming filter BEFORE the pair dedup (r6): band values are weakly
    # selective on a monolingual corpus (per-bit majority votes
    # correlate across documents — measured at sf1.0: 33 M candidate
    # rows out of the band join for ~54 k docs), and the old shape
    # shuffled all of them through dropDuplicates before filtering.
    # The filter is a map-side codegen'd bit_count on the join output,
    # so only true Hamming<=max pairs reach the dedup shuffle.
    # Identical output: hamming is a pure function of the pair, and
    # filter∘distinct ≡ distinct∘filter for a deterministic predicate.
    return (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bv") == F.col("r.bv"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.simhash").alias("ha"),
                F.col("r.simhash").alias("hb"))
        .filter(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _gram_occurrences(df: DataFrame, id_col: str, text_col: str,
                      k: int) -> DataFrame:
    """One row per token-k-gram occurrence: ``(id, pos, g)`` with
    1-based token position and the md5 of the space-joined gram.

    Map-only: the gram array is built with ``transform`` over a
    ``sequence`` of start positions (guarded — Spark's ``sequence``
    counts DOWN when stop < start, so docs shorter than ``k`` tokens
    must yield an EMPTY array, not ``[1, 0, ...]``), then one
    ``posexplode``. Hashing to md5 keeps shuffle rows at 32 bytes + id
    instead of carrying k tokens of text."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    # unhex(md5) → 16-byte binary key: same equality semantics as the
    # 32-char hex string but half the shuffle/groupBy width (guide §2.3
    # "narrower types"); the hash never reaches any output column.
    grams = F.transform(
        starts,
        lambda i: F.unhex(
            F.md5(F.encode(F.array_join(F.slice(toks, i, k), " "),
                           "UTF-8"))),
    )
    # posexplode_outer + null filter, NOT posexplode: see
    # _explode_nonnull — the inferred size() predicate would re-run the
    # whole gram-hash transform per row in an interpreted Filter.
    return (df.select(F.col(id_col), F.posexplode_outer(grams)
                      .alias("p0", "g"))
            .filter(F.col("g").isNotNull())
            .select(F.col(id_col), (F.col("p0") + 1).alias("pos"), "g"))


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 20) -> DataFrame:
    """Maximal duplicated token spans per document — the ExactSubstr
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), token-granularity Spark form.

    A token is *duplicated* iff it is covered by at least one k-gram
    that occurs >= 2 times in the corpus (across documents or within
    one — same rule as google-research/deduplicate-text-datasets, which
    marks every occurrence, not all-but-one). Output is the maximal
    runs of duplicated tokens: ``(id, span_start, span_end,
    span_tokens)``, 1-based inclusive token positions.

    Shape at scale: one gram explode (O(total tokens)), one groupBy on
    the 128-bit gram hash (map-side combined counts) whose >=2 survivors
    equi-join back against the same exploded occurrences — AQE reuses
    the occurrence exchange for both sides, and a boilerplate gram that
    appears in 10^9 docs is a *join* hot key, which AQE's skew-join
    splits (unlike a window over the bare gram). Span assembly is one
    window per document (gaps-and-islands on the running max end —
    merges overlapping AND adjacent gram intervals).
    """
    occ = _gram_occurrences(df, id_col, text_col, k)
    dup = (occ.groupBy("g").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= 2).select("g"))
    hits = (occ.join(dup, "g")
            .select(F.col(id_col), "pos",
                    (F.col("pos") + (k - 1)).alias("e")))
    w = Window.partitionBy(id_col).orderBy("pos")
    run_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = (run_end.isNull()
                  | (F.col("pos") > run_end + 1)).cast("int")
    island = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (hits.withColumn("island", island)
            .groupBy(id_col, "island")
            .agg(F.min("pos").alias("span_start"),
                 F.max("e").alias("span_end"))
            .select(F.col(id_col), "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .alias("span_tokens")))


def remove_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            k: int = 20) -> DataFrame:
    """Scrub every duplicated span (:func:`duplicated_spans`) out of the
    text. Returns ONLY the documents that changed: ``(id, dedup_text,
    removed_tokens)`` — at corpus scale the unchanged majority should
    not be rewritten, callers left-anti-join or coalesce against this
    delta (the same delta-output contract as ``incremental_dedup``).

    The cut itself is per-document JVM array work: spans collected to
    an array (tiny — spans per doc, not tokens), tokens zipped with
    their 1-based index, ``filter`` drops indices covered by any span.
    O(tokens x spans) per document, no second corpus shuffle beyond the
    span join (spans are grouped on the same ``id`` key)."""
    spans = (duplicated_spans(df, id_col, text_col, k)
             .groupBy(id_col)
             .agg(F.collect_list(
                 F.struct("span_start", "span_end")).alias("__spans")))
    joined = df.join(spans, id_col)
    toks = F.split(F.col(text_col), " ")
    indexed = F.zip_with(
        toks, F.sequence(F.lit(1), F.size(toks)),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    kept = F.filter(
        indexed,
        lambda p: ~F.exists(
            F.col("__spans"),
            lambda s: (p["i"] >= s["span_start"])
            & (p["i"] <= s["span_end"])))
    return joined.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda p: p["t"]), " ")
        .alias("dedup_text"),
        (F.size(toks) - F.size(kept)).alias("removed_tokens"))
