"""KMV distinct-count sketches (operators/sketches.py)."""

import pytest
from pyspark.sql import functions as F

from document_text_extraction_spark.operators import sketches as sk


@pytest.fixture(scope="module")
def vals(spark):
    # 4000 rows, each value repeated twice -> 2000 distinct per group g0,
    # 40 distinct (with repeats) in the small group g1
    rows = [(f"v{i // 2}", "g0") for i in range(4000)]
    rows += [(f"s{i % 40}", "g1") for i in range(200)]
    return spark.createDataFrame(rows, "v string, g string")


def test_exact_below_k(spark, vals):
    """A group with fewer distinct values than k reports the EXACT
    count (the sketch holds the whole value set)."""
    out = {r.g: r.n_distinct_est
           for r in sk.kmv_sketch(vals, ["g"], "v", k=64).collect()}
    assert out["g1"] == 40


def test_estimate_accuracy(spark, vals):
    """KMV with k=256 on 2000 distinct values: relative standard error
    is ~1/sqrt(k-2) ~ 6%; assert a generous 4-sigma band."""
    out = {r.g: r.n_distinct_est
           for r in sk.kmv_sketch(vals, ["g"], "v", k=256).collect()}
    assert 1500 <= out["g0"] <= 2500
    # repeats must not inflate the estimate: same data unioned with
    # itself gives the identical sketch
    doubled = vals.unionAll(vals)
    out2 = {r.g: r.n_distinct_est
            for r in sk.kmv_sketch(doubled, ["g"], "v", k=256).collect()}
    assert out2 == out


def test_merge_equals_direct(spark):
    """Merging per-subkey sketches == sketching the union directly —
    the mergeability contract that makes the sketch cube-friendly."""
    rows = [(f"v{i}", "g", f"day{i % 5}") for i in range(3000)]
    df = spark.createDataFrame(rows, "v string, g string, d string")
    per_day = sk.kmv_sketch(df, ["g", "d"], "v", k=128)
    merged = sk.kmv_merge(per_day, ["g"], k=128).collect()[0]
    direct = sk.kmv_sketch(df, ["g"], "v", k=128).collect()[0]
    assert merged.kmv_hashes == direct.kmv_hashes
    assert merged.n_distinct_est == direct.n_distinct_est


def test_merge_wider_than_build_width_raises(spark):
    """Each sketch row carries its build width; a merge at a larger k
    would report a bottom-k it never saw, so it fails instead."""
    rows = [(f"v{i}", "g", f"day{i % 5}") for i in range(3000)]
    df = spark.createDataFrame(rows, "v string, g string, d string")
    per_day = sk.kmv_sketch(df, ["g", "d"], "v", k=64)
    assert {r.kmv_k for r in per_day.collect()} == {64}
    narrower = sk.kmv_merge(per_day, ["g"], k=32).collect()[0]
    assert narrower.kmv_k == 32 and len(narrower.kmv_hashes) == 32
    with pytest.raises(Exception, match="wider than a sketch built with "
                                        "kmv_k=64"):
        sk.kmv_merge(per_day, ["g"], k=128).collect()


def test_banded_skew_path_parity(spark, vals):
    """The skew-safe ranked_in_key path (hot keys banded by hash value)
    must produce the identical sketch."""
    plain = sk.kmv_sketch(vals, ["g"], "v", k=64).collect()
    banded = sk.kmv_sketch(vals, ["g"], "v", k=64,
                           skew_threshold=100).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, banded))


def test_sketch_rows_are_bounded(spark, vals):
    """Output arrays never exceed k and arrive sorted ascending."""
    for r in sk.kmv_sketch(vals, ["g"], "v", k=64).collect():
        assert len(r.kmv_hashes) <= 64
        assert r.kmv_hashes == sorted(r.kmv_hashes)


# ---------------------------------------------------------------------------
# digit-histogram quantile sketch
# ---------------------------------------------------------------------------

def _brute_quantile(values, q):
    vs = sorted(values)
    import math
    return vs[max(0, math.ceil(q * len(vs)) - 1)]


def test_digit_histogram_quantiles_bound_truth(spark):
    """The estimate is the upper edge of the true quantile's bin:
    est >= true value, and est < 2x the bin's lower edge scale
    (one leading-digit step)."""
    import random
    rnd = random.Random(7)
    values = [rnd.randrange(1, 100000) for _ in range(5000)]
    df = spark.createDataFrame([(v, "g") for v in values],
                               "v long, g string")
    sk_ = sk.digit_histogram_sketch(df, ["g"], "v")
    out = {r.q_permille: r.quantile_est for r in
           sk.digit_histogram_quantiles(sk_, ["g"],
                                        [0.5, 0.9, 0.99]).collect()}
    for ppm, q in ((500, 0.5), (900, 0.9), (990, 0.99)):
        true = _brute_quantile(values, q)
        est = out[ppm]
        assert est >= true
        # upper edge of the bin holding `true`: (lead+1)*10^(digits-1)
        s = str(true)
        assert est <= (int(s[0]) + 1) * 10 ** (len(s) - 1)


def test_digit_histogram_merge_equals_direct(spark):
    rows = [(i % 977 + 1, "g", f"s{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, "v long, g string, s string")
    per = sk.digit_histogram_sketch(df, ["g", "s"], "v")
    merged = sk.digit_histogram_merge(per, ["g"])
    direct = sk.digit_histogram_sketch(df, ["g"], "v")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))


def test_digit_histogram_nonpositive_excluded(spark):
    df = spark.createDataFrame([(0, "g"), (-5, "g"), (7, "g")],
                               "v long, g string")
    out = sk.digit_histogram_sketch(df, ["g"], "v").collect()
    assert [(r.bin_digits, r.bin_lead, r.n) for r in out] == [(1, 7, 1)]

