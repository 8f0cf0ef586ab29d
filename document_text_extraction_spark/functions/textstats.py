"""Text-analysis column expressions for training-data pipelines.

All JVM-side (``pyspark.sql.functions`` only — no UDFs): token counting,
quality scoring (length/stopword ratios), n-gram-heuristic language ID and
document fingerprinting. Each has an exact ANSI-SQL analogue used by the
DuckDB cross-check in ``__spark_entry__``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# stopword lists per language for the n-gram/stopword language heuristic;
# deterministic tie-break = list order below
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "est"],
}

STOPWORDS_EN = LANG_STOPWORDS["en"]


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def token_count_col(text: Column) -> Column:
    """Whitespace token count (BPE-ish subword counting is ~chars/4;
    exposed as bpe_token_estimate_col)."""
    return F.size(tokens_col(text))


def bpe_token_estimate_col(text: Column) -> Column:
    return F.ceil(F.length(text) / F.lit(4)).cast("long")


def avg_token_len_col(text: Column) -> Column:
    toks = token_count_col(text)
    chars = F.length(F.replace(text, F.lit(" "), F.lit("")))
    return chars / F.greatest(toks, F.lit(1))


def stopword_ratio_col(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS_EN)])
    toks = tokens_col(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score_col(text: Column) -> Column:
    """Composite [0,1] quality score: length saturation + token-length
    plausibility + stopword presence (family of the reference's
    substantial-block filters, O10/O12)."""
    toks = token_count_col(text).cast("double")
    length_part = F.least(toks / F.lit(100.0), F.lit(1.0))
    avg_len = avg_token_len_col(text)
    shape_part = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.abs(avg_len - F.lit(5.0)) / F.lit(5.0)
    )
    sw_part = F.least(stopword_ratio_col(text) * F.lit(5.0), F.lit(1.0))
    # raw double — callers floor-scale for cross-engine comparison
    return (F.lit(0.4) * length_part + F.lit(0.3) * shape_part
            + F.lit(0.3) * sw_part)


def lang_id_col(text: Column) -> Column:
    """Stopword-vote language ID; deterministic first-max tie-break in
    LANG_STOPWORDS order."""
    toks = tokens_col(F.lower(text))
    scores = []
    for lang, words in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(s) for s in words])
        scores.append(
            (lang, F.size(F.filter(toks, lambda t: F.array_contains(sw, t))))
        )
    best_lang = F.lit("und")
    best_score = F.lit(-1)
    for lang, score in reversed(scores):  # earlier entries win ties
        cond = score >= best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, score).otherwise(best_score)
    return F.when(best_score <= 0, F.lit("und")).otherwise(best_lang)


# Gopher-rule bounds (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A1.1) —
# the standard web-corpus quality gate a training pipeline applies
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1


def gopher_flags_cols(text: Column) -> dict[str, Column]:
    """Gopher-style quality gate as named boolean columns + the stats
    they derive from (all JVM expressions; exact SQL analogues exist).

    Rules: word count in [50, 100k]; mean word length in [3, 10];
    >=80% of words contain an alphabetic char; (# + ellipsis) symbol
    ratio < 0.1 of words. (Line-based bullet/ellipsis rules need
    multi-line text and live in the span/section layer.)"""
    toks = tokens_col(text)
    n_words = F.size(toks)
    mean_len = avg_token_len_col(text)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = alpha / F.greatest(n_words, F.lit(1))
    hashes = F.length(text) - F.length(F.replace(text, F.lit("#"),
                                                 F.lit("")))
    ellipses = (F.length(text)
                - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = (hashes + ellipses) / F.greatest(n_words, F.lit(1))
    word_ok = ((n_words >= GOPHER_MIN_WORDS)
               & (n_words <= GOPHER_MAX_WORDS))
    len_ok = ((mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
              & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN))
    alpha_ok = alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC
    symbol_ok = symbol_ratio < GOPHER_MAX_SYMBOL_RATIO
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": mean_len,
        "alpha_word_frac": alpha_frac,
        "symbol_ratio": symbol_ratio,
        "word_count_ok": word_ok,
        "mean_len_ok": len_ok,
        "alpha_ok": alpha_ok,
        "symbol_ok": symbol_ok,
        "gopher_pass": word_ok & len_ok & alpha_ok & symbol_ok,
    }


def bigrams_col(text: Column) -> Column:
    """Adjacent word 2-grams (non-distinct — repetition counting needs
    multiplicity, unlike the dedup shingles)."""
    toks = tokens_col(text)
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def contains_terms_col(text: Column, terms: list[str]) -> Column:
    """True iff any whitespace token of ``text`` matches the literal
    term list case-insensitively — the C4 "bad words" gate (Raffel et
    al. 2020 filter a document containing any blocklist term). One
    ``arrays_overlap`` against a broadcast-literal array: pure JVM,
    pushes down as a plain filter, no join, no regex backtracking.
    NULL text coalesces to '' (contains nothing), so a NOT-filter
    keeps null-text rows — matching SQL ``NOT EXISTS`` over
    ``unnest(NULL)`` instead of silently dropping them."""
    toks = F.split(F.lower(F.coalesce(text, F.lit(""))), " ")
    lit_terms = F.array(*[F.lit(t.lower()) for t in terms])
    return F.arrays_overlap(toks, lit_terms)
