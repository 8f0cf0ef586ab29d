"""Corpus-level term statistics: document frequency + TF-IDF
distinctive terms per document.

The keyword-extraction pass of a corpus pipeline (topic tagging, index
building, quality heuristics). Shuffle profile at 100 TB:

* term explode is map-side; the document-frequency aggregation is one
  map-side-combined ``groupBy(term)`` whose key cardinality is the
  vocabulary (bounded, ≪ corpus);
* the DF table is vocabulary-sized → joined back with an explicit
  ``broadcast`` — per-doc scoring never shuffles the corpus;
* top-k per doc is one window over the doc's own terms.

Ranking is by the INTEGER key (tf desc, df asc, term asc) — tf-primary
with rarity then lexicographic tie-breaks — so cross-engine float
(``ln``) differences cannot reorder results; the smoothed TF-IDF score
``tf * (ln((N+1)/(df+1)) + 1)`` is emitted as a rounded column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def term_frequencies(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, term, tf) — whitespace terms with per-doc counts."""
    return (
        docs.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), " "))
                    .alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-k distinctive terms per document:
    (id, term, rank, tf, df, score)."""
    n_docs = docs.count()
    tf = term_frequencies(docs, id_col, text_col)
    df = tf.groupBy("term").agg(
        F.countDistinct(id_col).cast("long").alias("df"))
    scored = tf.join(F.broadcast(df), "term")
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term", F.col("rank").cast("long").alias("rank"),
            "tf", "df",
            F.round(
                F.col("tf")
                * (F.log((F.lit(float(n_docs + 1)))
                         / (F.col("df") + 1)) + 1.0),
                6,
            ).alias("score"),
        )
    )


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """BM25 ranked retrieval for a LITERAL query term set — the
    classic probabilistic ranking (Robertson & Walker 1994; the Lucene
    ``1 + ln`` idf form, always positive).

    Scale shape: the posting list is ``term IN (query)`` — a pushed-down
    filter on the exploded terms, never a join against the corpus; the
    per-term document frequencies are a query-sized aggregate joined
    back with an explicit broadcast; document lengths join the
    postings on the doc key (postings << corpus after the filter).
    Corpus-level constants (N, avgdl) are two bounded driver scalars —
    the "index statistics" a real engine stores in its segment header.
    Top-k is TakeOrderedAndProject, no global sort.

    Ordering is on the 1e-4-FLOORED score (then id) in both this plan
    and the DuckDB oracle, so libm-vs-DuckDB ``ln`` ULP differences
    cannot reorder the cutoff."""
    n_docs = docs.count()
    avgdl = docs.select(
        F.avg(F.size(F.split(F.col(text_col), " ")))).first()[0]
    tf = term_frequencies(docs, id_col, text_col)
    post = tf.filter(F.col("term").isin([str(t) for t in query_terms]))
    dft = post.groupBy("term").agg(
        F.countDistinct(id_col).cast("long").alias("df"))
    dl = docs.select(F.col(id_col),
                     F.size(F.split(F.col(text_col), " "))
                     .cast("double").alias("dl"))
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl))))
    scored = (post.join(F.broadcast(dft), "term")
              .join(dl, id_col)
              .groupBy(id_col)
              .agg(F.sum(idf * tf_part).alias("__s"),
                   F.count("*").cast("long").alias("n_terms_hit")))
    floored = (F.floor(F.col("__s") * 1e4) / 1e4).alias("bm25")
    return (scored.select(id_col, floored, "n_terms_hit")
            .orderBy(F.col("bm25").desc(), F.col(id_col))
            .limit(k))


def cooccurrence_pmi(docs: DataFrame, window: int = 2, k: int = 30,
                     min_pair_count: int = 2,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Top-k word pairs by co-occurrence count with pointwise mutual
    information — the association statistic behind collocation mining
    and embedding-training diagnostics (Church & Hanks 1990).

    A pair is one (w_i, w_j) occurrence with j - i in [1, window],
    ordered alphabetically so (a,b) and (b,a) pool. Scale shape:

    * pair generation is MAP-ONLY — a ``flatten(transform(...))`` over
      each document's token array enumerates the window offsets
      in-place (a ``transform`` over a ``sequence`` of start offsets,
      as ``dedup.shingles_col`` builds word k-grams);
      no positions self-join ever touches the corpus;
    * pair counts and unigram counts are two map-side-combined
      groupBys whose key spaces are vocab-bounded; the unigram table
      joins back with explicit broadcasts;
    * ranking is by the INTEGER key (pair count desc, w1, w2) with the
      float PMI emitted rounded — cross-engine ``ln`` ULPs cannot
      reorder (the ``tfidf_top_terms`` convention).

    PMI here uses token-occurrence probabilities: p(w) = c_w / N_tok,
    p(a,b) = c_ab / N_pairs. Returns (w1, w2, pair_count, pmi)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    pair_arrays = F.flatten(F.transform(
        F.sequence(F.lit(1), F.lit(window)),
        lambda d: F.zip_with(
            F.slice(toks, 1, F.greatest(n - d, F.lit(0))),
            F.slice(toks, d + 1, F.greatest(n - d, F.lit(0))),
            lambda a, b: F.struct(
                F.least(a, b).alias("w1"), F.greatest(a, b).alias("w2")),
        ),
    ))
    pairs = (docs.select(F.explode(pair_arrays).alias("p"))
             .select("p.w1", "p.w2")
             .groupBy("w1", "w2")
             .agg(F.count("*").cast("long").alias("pair_count")))
    uni = (docs.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count("*").cast("long").alias("cw")))
    n_tok = docs.select(F.sum(F.size(toks))).first()[0]
    # the actual emitted pair count (NOT a closed form, which under-
    # counts docs shorter than the window) — a bounded driver scalar,
    # same "index statistics" role as N/avgdl in bm25_topk
    n_pairs = pairs.select(F.sum("pair_count")).first()[0]
    j = (pairs.filter(F.col("pair_count") >= min_pair_count)
         .join(F.broadcast(uni.withColumnRenamed("w", "w1")
                           .withColumnRenamed("cw", "c1")), "w1")
         .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                           .withColumnRenamed("cw", "c2")), "w2"))
    pmi = F.log((F.col("pair_count") / F.lit(float(n_pairs)))
                / ((F.col("c1") / F.lit(float(n_tok)))
                   * (F.col("c2") / F.lit(float(n_tok)))))
    return (j.select("w1", "w2", "pair_count",
                     F.round(pmi, 6).alias("pmi"))
            .orderBy(F.col("pair_count").desc(), "w1", "w2")
            .limit(k))


def vocab_coverage(docs: DataFrame, vocab_size: int = 64,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Tokenizer-prep vocabulary + per-document coverage: build the
    top-``vocab_size`` word vocabulary (count desc, word asc — integer
    ranking, no float) and report each document's in-vocab token
    fraction and OOV type count — the coverage audit run before
    committing a tokenizer vocab.

    Scale shape: corpus word counts are one map-side-combined groupBy
    (vocab-bounded keys); the top-V cut is TakeOrderedAndProject; the
    per-doc pass joins exploded tokens against the BROADCAST vocab —
    the corpus never shuffles. Returns (doc_id, n_tokens,
    n_oov_tokens, n_oov_types, coverage_pct)."""
    toks = docs.select(F.col(id_col),
                       F.explode(F.split(F.col(text_col), " "))
                       .alias("w"))
    vocab = (toks.groupBy("w").agg(F.count("*").alias("c"))
             .orderBy(F.col("c").desc(), F.col("w"))
             .limit(vocab_size)
             .select("w", F.lit(True).alias("__in_vocab")))
    j = toks.join(F.broadcast(vocab), "w", "left")
    oov = F.col("__in_vocab").isNull()
    return j.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(oov.cast("int")).cast("long").alias("n_oov_tokens"),
        F.countDistinct(F.when(oov, F.col("w"))).cast("long")
        .alias("n_oov_types"),
        # integer percent (floor) — no float rounding to drift on
        (F.floor(F.sum((~oov).cast("int")) * 100 / F.count("*")))
        .cast("int").alias("coverage_pct"),
    )
