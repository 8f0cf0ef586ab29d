"""Dedup + similarity operator semantics: planted-duplicate recall,
LSH vs brute-force agreement, minhash candidates vs exact Jaccard."""

import pytest
from pyspark.sql import functions as F

from document_text_extraction_spark.operators import (
    ann_lsh_topk,
    cosine_topk,
    embedding_near_duplicates,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def near_docs(spark, docs):
    extra = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"\s\S+$", "").alias("text"),
    )
    return docs.select("doc_id", "text").unionAll(extra)


def test_exact_dedup_finds_planted(spark, docs):
    dup = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    groups = exact_duplicate_groups(dup).collect()
    planted = docs.filter(F.col("doc_id") % 7 == 0).count()
    assert len(groups) == planted
    assert all(g["n_docs"] == 2 for g in groups)


def test_minhash_recall_vs_exact_jaccard(spark, near_docs):
    """Every exact-Jaccard pair >= 0.9 must be caught by MinHash+LSH at
    threshold 0.7. Band recall at j with b=8 bands, r=4 rows is
    1-(1-j^4)^8: ~98.5% at j=0.8 (a miss among ~45 pairs is expected —
    observed: pair (352,100352)), ~99.98% at j=0.9; the fixed corpus
    and seeds make this deterministic."""
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(near_docs, threshold=0.9)
             .collect()}
    mh = {(r["id_a"], r["id_b"]) for r in
          minhash_near_duplicates(near_docs, threshold=0.7).collect()}
    assert exact, "expected planted near-dup pairs"
    missed = set(exact) - mh
    assert not missed, f"minhash missed high-jaccard pairs: {missed}"


def test_minhash_precision_is_exact(spark, near_docs):
    """minhash output jaccard is the *verified exact* value — every
    reported pair must match ngram_jaccard_pairs at the same threshold."""
    mh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
          minhash_near_duplicates(near_docs, threshold=0.7).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(near_docs, threshold=0.7).collect()}
    for pair, j in mh.items():
        assert pair in exact and abs(exact[pair] - j) < 1e-9


def test_ngram_hot_shingle_cap(spark, near_docs):
    """The hot-shingle cap must (a) be a no-op when no shingle exceeds
    the cap, and (b) still report EXACT jaccard for surviving pairs
    while dropping only pairs whose entire overlap is hot."""
    uncapped = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                ngram_jaccard_pairs(near_docs, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
              ngram_jaccard_pairs(near_docs, threshold=0.5,
                                  max_shingle_doc_freq=100).collect()}
    assert capped == uncapped  # nothing is hot in this corpus
    # craft a hot shingle: every doc shares one phrase; two docs also
    # share real content
    rows = [(i, f"hot hot hot unique{i} a{i} b{i} c{i}") for i in range(30)]
    rows.append((100, "hot hot hot shared real content words here"))
    rows.append((101, "hot hot hot shared real content words here extra"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           ngram_jaccard_pairs(df, threshold=0.3,
                               max_shingle_doc_freq=10).collect()}
    assert (100, 101) in got  # cold shingles still pair them
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(df, threshold=0.3).collect()}
    capped2 = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
               ngram_jaccard_pairs(df, threshold=0.3,
                                   max_shingle_doc_freq=10).collect()}
    for pair, j in capped2.items():
        assert abs(exact[pair] - j) < 1e-9  # jaccard stays exact


def test_simhash_finds_planted_neardups(spark, near_docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_near_duplicates(near_docs, max_hamming=6).collect()}
    planted = {(r["doc_id"], r["doc_id"] + 100000) for r in
               near_docs.filter(F.col("doc_id") % 11 == 0)
               .filter(F.col("doc_id") < 100000).collect()}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.7, f"simhash recall {recall}"


def test_embedding_neardup_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    extra = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001))
        .alias("embedding"),
    )
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(
        emb.unionAll(extra), threshold=0.95).collect()}
    planted = {(r["vec_id"], r["vec_id"] + 100000) for r in
               emb.filter(F.col("vec_id") % 13 == 0).collect()}
    # same-direction vectors share every sign bucket → recall must be 1.0
    assert planted <= pairs


def test_lsh_ann_recall_vs_brute(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(v) for v in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    brute = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in
              ann_lsh_topk(emb, q, k=10, n_planes=8,
                           hamming_probe=2).collect()]
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.5, f"LSH recall {recall} (brute={brute}, approx={approx})"
    assert approx[0] == 0  # the query vector itself is always found

def test_join_form_matches_literal_form(spark):
    """cosine_topk_join / ann_lsh_topk_join (no driver-side vector
    fetch) must produce exactly the literal-query-vector results."""
    from document_text_extraction_spark.operators.similarity import (
        ann_lsh_topk_join,
        cosine_topk_join,
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(v) for v in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    qdf = emb.filter(F.col("vec_id") == 0)
    lit_cos = [tuple(r) for r in cosine_topk(emb, q, k=10).collect()]
    join_cos = [tuple(r) for r in cosine_topk_join(emb, qdf, k=10).collect()]
    assert lit_cos == join_cos
    lit_lsh = [tuple(r) for r in
               ann_lsh_topk(emb, q, k=10, n_planes=8,
                            hamming_probe=2).collect()]
    join_lsh = [tuple(r) for r in
                ann_lsh_topk_join(emb, qdf, k=10, n_planes=8,
                                  hamming_probe=2, dim=64).collect()]
    assert lit_lsh == join_lsh


def test_ivf_fixed_topk_deterministic_and_finds_query(spark):
    from document_text_extraction_spark.operators.similarity import (
        ivf_fixed_topk,
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = [tuple(r) for r in ivf_fixed_topk(emb, k=10).collect()]
    b = [tuple(r) for r in
         ivf_fixed_topk(emb.repartition(7), k=10).collect()]
    assert a == b, "fixed-codebook IVF must be partitioning-invariant"
    assert a[0][0] == 0 and a[0][1] == 1.0  # query finds itself


def test_minhash_plan_reuses_signature_exchange(spark, near_docs):
    """Without a persist, the self-join must reuse the signature
    stage's shuffle at runtime (AQE ReusedExchange in the final plan) —
    signatures compute once and nothing leaks in long-lived sessions."""
    n_cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = minhash_near_duplicates(near_docs, threshold=0.7)
    df.collect()  # AQE finalizes the plan during execution
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in s, s
    assert "InMemoryTableScan" not in s  # no hidden cache
    n_cached_after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_cached_after == n_cached_before, (
        "operator leaked cached partitions")


def test_ivf_recall_vs_brute(spark):
    from document_text_extraction_spark.operators import ivf_index, ivf_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(v) for v in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    indexed, centroids = ivf_index(emb, n_lists=8)
    approx = [r["vec_id"] for r in
              ivf_topk(indexed, centroids, q, k=10, n_probe=3).collect()]
    brute = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    recall = len(set(brute) & set(approx)) / 10
    assert approx[0] == 0
    assert recall >= 0.6, f"IVF recall {recall}"


def test_incremental_dedup_planted(spark):
    """Re-captures of existing content drop; new content keeps exactly
    one copy per fingerprint (lowest id)."""
    from document_text_extraction_spark.operators.dedup import (
        incremental_dedup,
    )
    existing = spark.createDataFrame(
        [(1, "old one"), (2, "old two")], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (10, "old one"),      # re-capture -> drop
            (11, "brand new"),    # keep
            (12, "brand new"),    # in-increment dup -> drop
            (13, "also new"),     # keep
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in incremental_dedup(new, existing).collect()}
    assert kept == {11, 13}


def test_incremental_dedup_prefix_pruning_identical_and_pruned(spark):
    """The bloom-style prefix prune is RESULT-INVARIANT (false
    positives are killed by the exact anti-join) for every prefix
    length, and its plan broadcast-semi-joins the ingested fingerprint
    scan — the big side never fully shuffles."""
    from document_text_extraction_spark.operators.dedup import (
        incremental_dedup,
    )
    existing = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(200)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1000 + i, f"doc number {i}") for i in range(0, 40)]      # recaps
        + [(2000 + i, f"fresh {i}") for i in range(30)]            # keep
        + [(3000 + i, f"fresh {i}") for i in range(30)],           # in-dup
        "doc_id long, text string")
    base = {r.doc_id for r in incremental_dedup(new, existing).collect()}
    assert base == {2000 + i for i in range(30)}
    for k in (1, 4, 8):
        pruned = {r.doc_id for r in
                  incremental_dedup(new, existing,
                                    prune_prefix_len=k).collect()}
        assert pruned == base, f"prefix len {k} changed the result"
    plan = incremental_dedup(
        new, existing, prune_prefix_len=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "LeftSemi, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftSemi" in plan), plan


def test_winnow_guarantee_and_containment(spark):
    """Winnowing's core guarantee: any shared substring of length >=
    k + w - 1 yields >= 1 shared fingerprint — and containment (a
    verbatim slice inside fresh text) is detected even though Jaccard
    resemblance is tiny."""
    from document_text_extraction_spark.operators.dedup import (
        winnow_fingerprints_df,
        winnow_overlap_pairs,
    )
    base = ("the quick brown fox jumps over the lazy dog while the "
            "band plays on and the crowd cheers loudly tonight")
    spliced = "UNRELATED HEAD xx " + base[10:70] + " yy UNRELATED TAIL"
    other = "completely different content with no overlap at all here"
    df = spark.createDataFrame(
        [(1, base), (2, spliced), (3, other)], ["doc_id", "text"])
    fps = {r["doc_id"]: set(r["fps"]) for r in
           winnow_fingerprints_df(df).collect()}
    assert fps[1] & fps[2], "60-char shared run must share fingerprints"
    assert not (fps[1] & fps[3])
    pairs = {(r["id_a"], r["id_b"]) for r in
             winnow_overlap_pairs(df, min_shared=2).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_winnow_plan_has_no_inlined_filter(spark):
    """Regression guard for the InferFiltersFromGenerate trap: a plain
    explode over the fingerprint array makes Spark synthesize a
    size(fps)>0 filter and push it below the projections (over an
    expression-built array, that re-evaluates the whole array per row —
    measured 60x at sf0.001). The fingerprint explode keeps the outer
    form, so the plan carries no inferred size() Filter."""
    from document_text_extraction_spark.operators.dedup import (
        winnow_overlap_pairs,
    )
    from document_text_extraction_spark.plans import plan_report
    df = spark.createDataFrame(
        [(1, "abcdefghijklmnop"), (2, "qrstuvwxyz012345")],
        ["doc_id", "text"])
    plan = plan_report(winnow_overlap_pairs(df))["plan"]
    for line in plan.splitlines():
        if line.strip().startswith("Condition"):
            assert "size(" not in line, line


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(st.lists(st.text(min_size=0, max_size=120), min_size=1,
                max_size=12))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_winnow_matches_python_reference(spark, texts):
    """winnow_fingerprints_df == a direct pure-Python transcription of
    the winnowing definition, over arbitrary unicode text (codepoint
    indexing, md5-60bit hash, clamped windows, short/empty documents)."""
    import hashlib

    from document_text_extraction_spark.operators.dedup import (
        winnow_fingerprints_df,
    )

    def py_winnow(t, k=8, w=4):
        grams = [t[i:i + k] for i in range(max(len(t) - k + 1, 1))]
        hs = [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
              for g in grams]
        return sorted({min(hs[i:i + w])
                       for i in range(max(len(hs) - w + 1, 1))})

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: list(r["fps"]) for r in
           winnow_fingerprints_df(df).collect()}
    assert got == {i: py_winnow(t) for i, t in enumerate(texts)}


@given(st.lists(st.one_of(st.none(),
                          st.text(alphabet=st.sampled_from(" ab\u00e9\u4f60"),
                                  max_size=40),
                          st.text(max_size=60)),
                min_size=1, max_size=12))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_simhash_matches_python_reference(spark, texts):
    """simhash_df == a direct pure-Python transcription of SimHash over
    arbitrary unicode text: tokens split on ' ' (runs of spaces give
    empty tokens, which vote), md5-60bit token hash, a bit is set only
    on a strictly positive vote, and a NULL text emits no row."""
    import hashlib

    from document_text_extraction_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_df,
    )

    def py_simhash(t):
        hs = [int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
              for tok in t.split(" ")]
        out = 0
        for b in range(SIMHASH_BITS):
            if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0:
                out |= 1 << b
        return out

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_df(df).collect()}
    assert got == {i: py_simhash(t) for i, t in enumerate(texts)
                   if t is not None}


# ---------------------------------------------------------------------------
# SemDedup (operators/semdedup.py)
# ---------------------------------------------------------------------------

def test_semdedup_drops_planted_scaled_dups(spark):
    """Re-scaled copies (same direction, cosine 1.0) of every 13th
    vector must all be dropped; every original survives."""
    from document_text_extraction_spark.operators import semdedup as sd
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    extra = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001))
        .alias("embedding"))
    allv = emb.unionAll(extra)
    cb = sd.fixed_codebook(allv, n_clusters=16)
    kept = {r.vec_id for r in sd.semdedup(allv, cb, threshold=0.95)
            .collect()}
    n = emb.count()
    assert kept == set(range(n))  # originals kept, all plants dropped


def test_semdedup_matches_bruteforce_policy(spark):
    """Id-greedy keep policy vs a pure-python reference on a tiny set:
    drop x iff some lower-id y in the SAME cluster has cos >= tau."""
    import math

    from document_text_extraction_spark.operators import semdedup as sd
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding").filter(F.col("vec_id") < 60).collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    # plant guaranteed collisions: scaled copies of ids 0..4 (cosine
    # 1.0 with their originals, higher ids -> must be the dropped side)
    for j in range(5):
        vecs[200 + j] = [1.1 * x for x in vecs[j]]
    cb = [vecs[i] for i in range(8)]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def cluster(v):
        return min(range(8),
                   key=lambda i: (dot(cb[i], cb[i]) - 2 * dot(v, cb[i]), i))

    tau = 0.6  # low threshold so random vectors do collide
    by_cl = {}
    expect_drop = set()
    for vid in sorted(vecs):
        c = cluster(vecs[vid])
        for prev in by_cl.get(c, []):
            a, b = vecs[prev], vecs[vid]
            cos = dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
            if cos >= tau:
                expect_drop.add(vid)
                break
        by_cl.setdefault(c, []).append(vid)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>")
    kept = {r.vec_id for r in
            sd.semdedup(df, [list(map(float, c)) for c in cb],
                        threshold=tau).collect()}
    assert kept == set(vecs) - expect_drop
    assert expect_drop  # the threshold actually exercised drops


def test_semdedup_plan_is_cluster_equijoin(spark):
    """Scale shape: the pair comparison must key on cluster_id (hash
    join), never a cartesian/nested-loop over the corpus."""
    from document_text_extraction_spark.operators import semdedup as sd
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    cb = sd.fixed_codebook(emb, n_clusters=16)
    plan = (sd.semdedup(emb, cb)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_streaming_agreement_scales_with_signature_width(spark):
    """ADVICE r4: _agreement divides by the ACTUAL signature length,
    so non-default num_hashes signatures get correctly scaled Jaccard
    estimates (8/8 agreeing slots == 1.0, not 8/16 == 0.5)."""
    from document_text_extraction_spark.streaming.neardup import _agreement
    df = spark.createDataFrame(
        [([1] * 8, [1] * 8), ([1] * 8, [1] * 4 + [2] * 4)],
        "a array<long>, b array<long>")
    vals = [r.ag for r in
            df.select(_agreement(F.col("a"), F.col("b")).alias("ag"))
            .collect()]
    assert vals == [1.0, 0.5]


def test_assign_clusters_kernel_equals_literal(spark):
    """VERDICT r4 #2: above the literal-expression ceiling the
    assignment switches to the Arrow matmul kernel — differential test
    pins that BOTH mechanisms give identical (cluster_id, nrm) on the
    same data/codebook."""
    import numpy as np

    from document_text_extraction_spark.operators import semdedup as sd

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(400, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, embedding array<float>")
    cb = [[float(x) for x in vecs[i]] for i in range(300)]
    lit = {r.vec_id: (r.cluster_id, r.nrm)
           for r in sd.assign_clusters(df, cb, max_literal=1000)
           .collect()}
    ker = {r.vec_id: (r.cluster_id, r.nrm)
           for r in sd.assign_clusters(df, cb, max_literal=8)
           .collect()}
    assert lit == ker


def test_assign_clusters_kernel_is_map_only_no_megaliteral(spark):
    """The kernel path must stay shuffle-free (map-only quantizer) and
    must NOT inline the codebook into the plan (a 100k-centroid literal
    expression would not compile)."""
    import numpy as np

    from document_text_extraction_spark.operators import semdedup as sd

    rng = np.random.default_rng(3)
    cb = [[float(x) for x in rng.normal(size=8)] for _ in range(300)]
    df = spark.createDataFrame(
        [(i, [float(j) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>")
    plan = (sd.assign_clusters(df, cb, max_literal=256)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    # literal path for the same codebook would embed 2400 float
    # literals; the kernel plan stays small
    assert len(plan) < 20000


def test_fixed_codebook_rejects_sparse_ids(spark):
    """ADVICE r4: cluster_id is the centroid LIST INDEX — valid only
    when the codebook ids are exactly 0..n-1; sparse ids must raise
    instead of silently desyncing from the oracle."""
    import pytest as _pytest

    from document_text_extraction_spark.operators import semdedup as sd

    df = spark.createDataFrame(
        [(i * 2, [1.0, float(i)]) for i in range(10)],
        "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="expects ids 0..3"):
        sd.fixed_codebook(df, n_clusters=4)


def test_trained_codebook_deterministic_and_recalls(spark):
    """operators/kmeans.py: the sample-trained codebook is a pure
    function of the data (partitioning-independent), its IVF probe
    reaches useful recall vs brute force, and short samples raise."""
    import numpy as np

    from document_text_extraction_spark.operators import kmeans as km
    from document_text_extraction_spark.operators import similarity

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(300, 12)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb1 = km.train_codebook(df, k=4, iters=2, sample_max_id=128)
    cb2 = km.train_codebook(df.repartition(7), k=4, iters=2,
                            sample_max_id=128)
    assert cb1 == cb2
    assert all(abs(x * 1e6 - round(x * 1e6)) < 1e-6
               for c in cb1 for x in c)  # floor-quantized grid
    qvec = [float(x) for x in vecs[0]]
    indexed = df.withColumn(
        "list_id", similarity.ivf_assign_col(cb1, F.col("embedding")))
    ivf = {r.vec_id for r in
           similarity.ivf_topk(indexed, cb1, qvec, k=5, n_probe=2)
           .collect()}
    brute = {r.vec_id for r in cosine_topk(df, qvec, k=5).collect()}
    assert len(ivf & brute) >= 3  # probe recall, not exhaustive
    assert 0 in ivf  # the query vector itself always survives
    with pytest.raises(ValueError, match="sample has"):
        km.train_codebook(df.filter(F.col("vec_id") < 2), k=4)


def test_semdedup_kernel_matches_join_formulation(spark):
    """r6: semdedup's dropped-id set now comes from the per-cluster
    Arrow Gram kernel; it must equal the cluster-equi-join + JVM-fold
    formulation (semantic_duplicate_pairs) bit-for-bit on real data at
    a threshold low enough to exercise real drops."""
    from document_text_extraction_spark.operators import semdedup as sd
    base = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    extra = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01))
        .alias("embedding"))
    emb = base.unionAll(extra)
    cb = sd.fixed_codebook(emb, n_clusters=8)
    tau = 0.3
    assigned = sd.assign_clusters(emb, cb)
    join_dropped = {
        r.id_b for r in sd.semantic_duplicate_pairs(
            assigned, threshold=tau).collect()}
    kept = {r.vec_id for r in sd.semdedup(emb, cb, threshold=tau)
            .collect()}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert join_dropped, "threshold must exercise real drops"
    assert kept == all_ids - join_dropped


def test_explode_nonnull_equals_plain_explode(spark):
    """r6: _explode_nonnull (the outer-explode form that avoids the
    InferFiltersFromGenerate re-evaluation) must produce exactly the
    rows of a plain explode — including dropping empty/one-token
    edge-case arrays."""
    from document_text_extraction_spark.operators.dedup import (
        _explode_nonnull,
        shingles_col,
    )
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x"), (3, ""), (4, "p q")],
        "doc_id long, text string")
    arr = df.select(
        "doc_id",
        F.array_distinct(shingles_col(F.col("text"), 3)).alias("sh"))
    plain = sorted(map(tuple, arr.select(
        "doc_id", F.explode("sh")).collect()))
    outer = sorted(map(tuple, _explode_nonnull(
        arr, "sh", "s", ["doc_id"]).collect()))
    assert plain == outer and len(plain) >= 4
