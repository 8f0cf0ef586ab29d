"""JVM-side (codegen'd) column-expression form of the regex field library.

``oracle.extract_fields`` is the per-document form used inside
extraction; these expressions are the *dataset-level* form for SQL
analytics over already-extracted text — they never leave the JVM, so no
Python cost at all. Regex semantics follow the reference extractor's
field families.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# kept RE2/Java-compatible (no lookaround) so the same pattern strings run
# in Spark and in the DuckDB oracle SQL
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?\d{1,3}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}"
URL_PATTERN = r"https?://[^\s\"'<>]+"
IPV4_PATTERN = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

# the reference's fixed skills vocabulary family (final.py:225-265) —
# substring matched case-insensitively
DEFAULT_VOCAB = [
    "spark", "python", "sql", "java", "scala", "hash", "join", "sort",
    "merge", "stream", "batch", "window", "filter", "query",
]


def emails_col(text: Column) -> Column:
    # group 0 explicitly: these patterns have no capture groups and
    # regexp_extract_all defaults to group 1
    return F.array_sort(
        F.array_distinct(
            F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), F.lit(0))
        )
    )


def phones_col(text: Column) -> Column:
    """Extract candidates, strip non-digits (keep +), keep len>=10."""
    cleaned = F.transform(
        F.regexp_extract_all(text, F.lit(PHONE_PATTERN), F.lit(0)),
        lambda m: F.regexp_replace(m, r"[^\d+]", ""),
    )
    return F.array_sort(
        F.array_distinct(F.filter(cleaned, lambda c: F.length(c) >= 10))
    )


def links_col(text: Column) -> Column:
    return F.array_sort(
        F.array_distinct(
            F.regexp_extract_all(text, F.lit(URL_PATTERN), F.lit(0))
        )
    )


def pii_scrub_col(text: Column) -> Column:
    """Anonymize PII in training text: emails, then IPv4 addresses,
    then phone numbers, each replaced by a typed placeholder token —
    the CCNet/FineWeb-style anonymization pass. Fixed application
    order (email → ip → phone) is part of the contract: the IP pass
    must not see digits already consumed by emails, and the phone pass
    must not see the dotted quads. Pure JVM regexp_replace chain."""
    scrubbed = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, IPV4_PATTERN, "<IP>")
    return F.regexp_replace(scrubbed, PHONE_PATTERN, "<PHONE>")


def skills_col(text: Column, vocab: list[str] | None = None) -> Column:
    """Vocabulary keyword match (O49): JVM-side, no UDF."""
    v = F.array(*[F.lit(s) for s in (vocab or DEFAULT_VOCAB)])
    low = F.lower(text)
    return F.filter(v, lambda s: low.contains(s))


def skill_tokens_col(text: Column, min_len: int = 2,
                     max_len: int = 40) -> Column:
    """O50 skills token split: split on delimiters, length-guard,
    title-case (``parse_cv_docling.py:74-81`` semantics)."""
    toks = F.split(text, r"[,|/•;]+")
    # one-arg lambdas only: passing F.trim directly would be treated as
    # an (element, index) callable (trim has an optional 2nd parameter)
    trimmed = F.transform(toks, lambda t: F.trim(t))
    kept = F.filter(
        trimmed,
        lambda t: (F.length(t) >= min_len) & (F.length(t) <= max_len),
    )
    return F.transform(kept, lambda t: F.initcap(t))


GPA_PATTERN = r"(?:GPA|cGPA)[: ]*([0-4]\.[0-9]{1,2})"
DEGREE_PATTERN = (
    r"(?:Bachelor|Master|Doctor|B\.?Sc|M\.?Sc|Ph\.?D)[A-Za-z.]* of "
    r"[A-Z][a-z]+"
)
EXPERIENCE_YEARS_PATTERN = r"(\d{1,2})\+? years? of experience"


def gpa_col(text: Column) -> Column:
    """O51 GPA regex (``final.py:277-305`` family) — first match, group 1."""
    return F.regexp_extract(text, GPA_PATTERN, 1)


def degrees_col(text: Column) -> Column:
    """O51 degree phrases."""
    return F.array_sort(F.array_distinct(
        F.regexp_extract_all(text, F.lit(DEGREE_PATTERN), F.lit(0))
    ))


def experience_years_col(text: Column) -> Column:
    """O52 experience-years: max over matches, -1 when absent
    (``final.py:316-338`` family)."""
    nums = F.transform(
        F.regexp_extract_all(text, F.lit(EXPERIENCE_YEARS_PATTERN),
                             F.lit(1)),
        lambda m: m.cast("long"),
    )
    return F.coalesce(F.array_max(nums), F.lit(-1).cast("long"))


# O53/O51/O52 families — the same bounded patterns as oracle.py (kept
# RE2/Java-compatible so DuckDB oracles can replicate them)
NAME_LINE_PATTERN = r"[A-Za-z ]+"
INSTITUTION_PATTERN = (
    r"University of [A-Z][A-Za-z]+|[A-Z][A-Za-z]+ (?:University|College)"
)
JOB_TITLE_PATTERN = (
    r"([A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)* "
    r"(?:Engineer|Developer|Manager|Analyst|Consultant|Intern)) at "
    r"([A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)*)"
)


def name_col(text: Column) -> Column:
    """O53 name heuristic (``approach4_v2.py:27-37``): first plausible
    line among the first 5 — 5<len<50, no @/+, letters+spaces only."""
    lines = F.transform(
        F.slice(F.split(text, "\n"), 1, 5), lambda ln: F.trim(ln)
    )
    ok = F.filter(
        lines,
        lambda ln: (F.length(ln) > 5) & (F.length(ln) < 50)
        & ~ln.contains("@") & ~ln.contains("+")
        & ln.rlike(r"^[A-Za-z ]+$"),
    )
    return F.coalesce(F.get(ok, 0), F.lit(""))


def address_col(text: Column) -> Column:
    """O55 address heuristic (``approach4_v2.py:70-85``): first
    keyword line ('contact details:'/'address:') among the first 10
    lines, comma-split, email/phone/keyword parts dropped, rejoined.
    Pure array expressions — no UDF, same rule as
    ``oracle.extract_address``."""
    lines = F.slice(F.split(text, "\n"), 1, 10)
    hits = F.filter(
        lines,
        lambda ln: F.lower(ln).contains("contact details:")
        | F.lower(ln).contains("address:"),
    )
    first = F.get(hits, 0)
    parts = F.transform(F.split(first, ","), lambda p: F.trim(p))
    kept = F.filter(
        parts,
        lambda p: ~p.contains("@") & ~p.contains("+")
        & ~F.lower(p).contains("contact") & (F.length(p) > 3),
    )
    return F.coalesce(F.array_join(kept, ", "), F.lit(""))


def institutions_col(text: Column) -> Column:
    """O51 institution phrases (``final.py:290-299``), sorted distinct."""
    return F.array_sort(F.array_distinct(
        F.regexp_extract_all(text, F.lit(INSTITUTION_PATTERN), F.lit(0))
    ))


def positions_col(text: Column) -> Column:
    """O52 job titles in match order (``final.py:326-334``)."""
    return F.regexp_extract_all(text, F.lit(JOB_TITLE_PATTERN), F.lit(1))


def companies_col(text: Column) -> Column:
    """O52 companies in match order — index-paired with positions."""
    return F.regexp_extract_all(text, F.lit(JOB_TITLE_PATTERN), F.lit(2))


def paired_positions_col(positions: Column, companies: Column) -> Column:
    """O19 positional zip-join with 'Unknown' padding
    (``batch_multi_column.py:467-494``): returns an array of
    (position, company) structs, the shorter side padded."""
    return F.zip_with(
        positions, companies,
        lambda p, c: F.struct(
            F.coalesce(p, F.lit("Unknown")).alias("position"),
            F.coalesce(c, F.lit("Unknown")).alias("company"),
        ),
    )


def datelike_col(text: Column) -> Column:
    """O54 date-like predicate: a year or a month token
    (``parse_cv_docling.py:32, 68-72``)."""
    months = ("jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec")
    return (
        text.rlike(r"\b(19|20)\d{2}\b")
        | F.lower(text).rlike(rf"\b({months})\b")
    )
