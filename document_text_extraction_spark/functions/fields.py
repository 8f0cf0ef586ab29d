"""JVM-side (codegen'd) column expressions of the regex field library.

The extraction record stores only what a document's bytes alone can
tell (``pipeline.FIELDS_TYPE``: outlinks, anchors, meta_robots and the
PDF /Annots and DOCX-relationship ``link_uris``). Every text family —
emails, phones, links, headings, name, address, institutions,
positions/companies and skills — is derived from the stored text and
spans by :func:`fields_col`, in the JVM, so the extraction map runs no
regex field pass at all. Regex semantics follow the reference
extractor's field families.
"""

from __future__ import annotations

import functools
import re

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


@functools.cache
def _re_class(escape: str) -> str:
    """Java character-class body holding exactly the code points that
    Python's ``re`` matches with ``escape`` (``\\d``, ``\\s`` or
    ``\\w``). Java's own classes are ASCII by default, and its
    ``(?U)`` forms differ too (Python's ``\\w`` takes No numerals such
    as '²', Java's takes marks instead), so the ranges are read off
    Python's ``re`` itself. Non-ASCII bounds stay literal: a pattern
    holding a supplementary character makes Java's lookbehind step back
    by code point, not by UTF-16 unit.

    Java tests a class's ranges one by one, and ``\\w`` has about 700
    of them. So the ASCII ranges come first, and the rest form a binary
    tree of nested classes, each half behind an intersection with the
    span it covers: any code point is decided after a few dozen range
    tests, not hundreds (with one flat list, :func:`emails_col` ran
    one to two orders of magnitude slower)."""
    def lit(cp: int) -> str:
        return chr(cp) if cp > 0x7F else f"\\x{{{cp:x}}}"

    def tree(ranges: list[tuple[int, int]]) -> str:
        if len(ranges) <= 8:
            return "".join(f"{lit(a)}-{lit(b)}" for a, b in ranges)
        half = len(ranges) // 2
        return "".join(
            f"[{lit(part[0][0])}-{lit(part[-1][1])}&&[{tree(part)}]]"
            for part in (ranges[:half], ranges[half:]))
    every = "".join(map(chr, range(0x110000)))
    ranges = [(m.start(), m.end() - 1)
              for m in re.finditer(escape + "+", every)]
    low = [(a, min(b, 0x7F)) for a, b in ranges if a <= 0x7F]
    high = [(max(a, 0x80), b) for a, b in ranges if b >= 0x80]
    return tree(low) + f"[{lit(0x80)}-{lit(0x10FFFF)}&&[{tree(high)}]]"


def _word_bound() -> str:
    """Python's unicode ``\\b``: a word character on one side only."""
    w = _re_class(r"\w")
    return f"(?:(?<![{w}])(?=[{w}])|(?<=[{w}])(?![{w}]))"


def _py_strip(s: Column) -> Column:
    """``str.strip()``: Spark's ``trim`` drops only U+0020."""
    ws = _re_class(r"\s")
    return F.regexp_replace(s, rf"\A[{ws}]+|[{ws}]+\z", "")


def _findall(text: Column, pattern: str, group: int = 0) -> Column:
    return F.regexp_extract_all(text, F.lit(pattern), F.lit(group))


def emails_col(text: Column) -> Column:
    """O44 emails, sorted distinct (``final.py:199-200``; its TLD class
    ``[A-Z|a-z]`` is a typo admitting '|', so the TLD is ``[A-Za-z]``
    as in :data:`EMAIL_PATTERN`), bounded by Python's ``\\b``."""
    b = _word_bound()
    return F.array_sort(F.array_distinct(_findall(
        text, b + EMAIL_PATTERN + b)))


def phones_col(text: Column) -> Column:
    """O45 phones (``final.py:202-212``): the union of the international
    and the parenthesized-local pattern, each match stripped to its
    digits and '+', kept when 10 or more remain; sorted distinct."""
    d, s = _re_class(r"\d"), _re_class(r"\s")
    sep = f"[-.{s}]?"
    intl = (rf"\+?[{d}]{{1,3}}{sep}\(?[{d}]{{3}}\)?{sep}[{d}]{{3}}{sep}"
            rf"[{d}]{{4}}")
    local = rf"\([{d}]{{3}}\)[{s}]?[{d}]{{3}}{sep}[{d}]{{4}}"
    cleaned = F.transform(
        F.concat(_findall(text, intl), _findall(text, local)),
        lambda m: F.regexp_replace(m, f"[^{d}+]", ""),
    )
    return F.array_sort(
        F.array_distinct(F.filter(cleaned, lambda c: F.length(c) >= 10))
    )


def links_col(text: Column) -> Column:
    """O46 links (``final.py:214-222``): linkedin and github profile
    paths without a scheme, and http(s) URLs; sorted distinct."""
    w, s = _re_class(r"\w"), _re_class(r"\s")
    found = F.concat(
        _findall(text, rf"linkedin\.com/in/[{w}\-]+"),
        _findall(text, rf"github\.com/[{w}\-]+"),
        _findall(text, rf"https?://[^{s}\"'<>]+"),
    )
    return F.array_sort(F.array_distinct(found))


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


# O53/O51/O52 families, bounded re-expressions of the reference's greedy
# ``[\w\s]+`` shapes (kept RE2/Java-compatible so DuckDB oracles can
# replicate them)
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
        F.slice(F.split(text, "\n"), 1, 5), lambda ln: _py_strip(ln)
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
    The FIRST keyword line wins even if all its parts are dropped (the
    reference returns from inside the loop). Pure array expressions —
    no UDF."""
    lines = F.slice(F.split(text, "\n"), 1, 10)
    hits = F.filter(
        lines,
        lambda ln: F.lower(ln).contains("contact details:")
        | F.lower(ln).contains("address:"),
    )
    first = F.get(hits, 0)
    parts = F.transform(F.split(first, ","), lambda p: _py_strip(p))
    kept = F.filter(
        parts,
        lambda p: ~p.contains("@") & ~p.contains("+")
        & ~F.lower(p).contains("contact") & (F.length(p) > 3),
    )
    return F.coalesce(F.array_join(kept, ", "), F.lit(""))


def institutions_col(text: Column) -> Column:
    """O51 institution phrases (``final.py:290-299``), sorted distinct."""
    return F.array_sort(F.array_distinct(
        _findall(text, INSTITUTION_PATTERN)))


def positions_col(text: Column) -> Column:
    """O52 job titles in match order (``final.py:326-334``)."""
    return _findall(text, JOB_TITLE_PATTERN, 1)


def companies_col(text: Column) -> Column:
    """O52 companies in match order — index-paired with positions."""
    return _findall(text, JOB_TITLE_PATTERN, 2)


def fields_col() -> Column:
    """The typed field struct of an extraction table (the columns
    ``extracted_text``, ``spans`` and stored ``fields`` of
    ``pipeline.extract_df`` output), member for member: the text
    families from the column functions above, ``headings`` from the
    heading spans, ``links`` the text links unioned with the stored
    /Annots and DOCX-relationship ``link_uris``, and the stored
    ``outlinks``, ``anchors`` and ``meta_robots`` as they are."""
    text, stored = F.col("extracted_text"), F.col("fields")
    headings = F.filter("spans", lambda s: s["kind"] == "heading")
    return F.struct(
        emails_col(text).alias("emails"),
        phones_col(text).alias("phones"),
        F.array_sort(F.array_union(
            links_col(text), stored["link_uris"])).alias("links"),
        F.transform(headings, lambda s: s["text"]).alias("headings"),
        name_col(text).alias("name"),
        address_col(text).alias("address"),
        institutions_col(text).alias("institutions"),
        positions_col(text).alias("positions"),
        companies_col(text).alias("companies"),
        skills_col(text).alias("skills"),
        stored["outlinks"].alias("outlinks"),
        stored["anchors"].alias("anchors"),
        stored["meta_robots"].alias("meta_robots"),
    )


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
