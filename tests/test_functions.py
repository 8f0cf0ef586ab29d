"""JVM-side function expressions (fields + textstats) behave per the
reference semantics, and the spark-submit CLI job runs end-to-end."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_text_extraction_spark.functions import (
    datelike_col,
    emails_col,
    lang_id_col,
    phones_col,
    skill_tokens_col,
    skills_col,
    token_count_col,
)


def test_pii_scrub_order_contract(spark):
    """email → ip → phone application order: the dotted quad must not
    survive as a partial phone match, and an email's digits must not be
    consumed by the phone pass."""
    from document_text_extraction_spark.functions.fields import pii_scrub_col
    df = spark.createDataFrame(
        [("mail 5551234567a@b.co from 10.0.42.7 call +1 (555) 123-4567 end",)],
        ["text"])
    out = df.select(pii_scrub_col(F.col("text")).alias("s")).first().s
    assert out == "mail <EMAIL> from <IP> call <PHONE> end"


def test_field_expressions(spark):
    df = spark.createDataFrame(
        [("mail a@b.co and c@d.org call +1 (555) 123-4567 "
          "skills: spark, sql",)], ["text"])
    r = df.select(
        emails_col(F.col("text")).alias("emails"),
        phones_col(F.col("text")).alias("phones"),
        skills_col(F.col("text")).alias("skills"),
    ).first()
    assert r["emails"] == ["a@b.co", "c@d.org"]
    assert "+15551234567" in r["phones"]
    assert set(r["skills"]) >= {"spark", "sql"}


def test_address_heuristic(spark):
    """O55: keyword line wins, email/phone/keyword parts dropped, first
    keyword line wins even when empty, no keyword → ''."""
    from document_text_extraction_spark.functions.fields import address_col
    cases = [
        "Jo Doe\nContact details: a@b.co, +1 555 123, 12 Oak St, Springfield",
        "Address: 99 River Rd, Hilltown\nbody text",
        "Contact details: a@b.co, +1 555\nAddress: 5 Elm Ave, Dover",
        "no keyword anywhere\njust text",
        "line\n" * 10 + "Address: 1 Late St",  # keyword beyond line 10
        "ADDRESS: 7 Shout Ln, Yelltown",       # case-insensitive
    ]
    # note: the reference drops only 'contact'-keyword parts, so an
    # 'Address:' prefix stays glued to its street part — replicated
    # faithfully (approach4_v2.py:77-84)
    expected = ["12 Oak St, Springfield", "Address: 99 River Rd, Hilltown",
                "", "", "", "ADDRESS: 7 Shout Ln, Yelltown"]
    df = spark.createDataFrame([(t,) for t in cases], ["text"])
    got = [r["a"] for r in
           df.select(address_col(F.col("text")).alias("a")).collect()]
    assert got == expected


# strings on which Java's regex classes part from Python's ``re``:
# (text, its non-empty derived members); the values are the ones the
# per-document Python field library produced for the same text
_FIELDS_COL_CASES = [
    ("(555) 123-4567", {"phones": ["5551234567"]}),
    ("call +1 555\n123 4567 now", {"phones": ["+15551234567"]}),
    ("tel +１ (５５５) １２３-４５６７",
     {"phones": ["+１５５５１２３４５６７", "５５５１２３４５６７"]}),
    ("(٥٥٥) ١٢٣-٤٥٦٧", {"phones": ["٥٥٥١٢٣٤٥٦٧"]}),
    ("linkedin.com/in/jöhn and github.com/_x-y",
     {"links": ["github.com/_x-y", "linkedin.com/in/jöhn"]}),
    ("user@example.com1", {}),
    ("x²y@z.org ½a@b.org", {}),
    ("\U0001d7d8a@b.org \U0001d7d8.b@c.org", {"emails": [".b@c.org"]}),
    ("\tRiley Nguyen\r\nrest", {"name": "Riley Nguyen"}),
    ("Address:\xa05 Elm Ave ,\u2003Dover",
     {"address": "Address:\xa05 Elm Ave, Dover"}),
]


def test_fields_col_follows_python_re(spark):
    """``fields_col()`` derives the 13-member field struct with Python
    ``re`` semantics: unicode ``\\d``/``\\s``/``\\w``/``\\b``
    (No numerals such as '²' are word characters, supplementary digits
    included), ``str.strip`` whitespace, both phone patterns, scheme-less
    profile links, and text links unioned with a PDF's /Annots URIs."""
    from document_text_extraction_spark import corpus, oracle, pipeline
    from document_text_extraction_spark.functions.fields import fields_col
    stream = (b"BT 10 10 Td (see https://x.example/text and "
              b"https://x.example/shared) Tj ET")
    annot = (b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9] "
             b"/A << /S /URI /URI (https://x.example/%s) >> >>")
    pdf = oracle.extract_document(corpus._assemble_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [5 0 R 6 0 R] >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
        annot % b"shared", annot % b"annot",
    ]))
    rows = [(t, [], oracle.EMPTY_FIELDS) for t, _ in _FIELDS_COL_CASES]
    rows.append((pdf["extracted_text"], pdf["spans"], pdf["fields"]))
    want = [w for _, w in _FIELDS_COL_CASES] + [{"links": [
        "https://x.example/annot", "https://x.example/shared",
        "https://x.example/text"]}]
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", T.ArrayType(pipeline.SPAN_TYPE)),
        T.StructField("fields", pipeline.FIELDS_TYPE),
    ])).select(fields_col().alias("f"))
    arr, s = "array<string>", "string"
    assert [(m.name, m.dataType.simpleString())
            for m in df.schema["f"].dataType] == [
        ("emails", arr), ("phones", arr), ("links", arr),
        ("headings", arr), ("name", s), ("address", s),
        ("institutions", arr), ("positions", arr), ("companies", arr),
        ("skills", arr), ("outlinks", arr), ("anchors", arr),
        ("meta_robots", s)]
    for (text, *_), w, r in zip(rows, want, df.collect()):
        got = {k: v for k, v in r.f.asDict().items() if v}
        assert got == w, text


def test_re_class_matches_python_at_every_range_edge(spark):
    """The nested Java classes of ``\\d``, ``\\s`` and ``\\w`` take, as
    such and negated, exactly the code points Python's ``re`` does at
    both ends of each range and just outside it."""
    import re

    from document_text_extraction_spark.functions.fields import _re_class
    every = "".join(map(chr, range(0x110000)))
    for esc in (r"\d", r"\s", r"\w"):
        cps = sorted({cp for m in re.finditer(esc + "+", every)
                      for cp in (m.start() - 1, m.start(), m.end() - 1,
                                 m.end())
                      if 0 <= cp < 0x110000
                      and not 0xD800 <= cp <= 0xDFFF})
        cls = _re_class(esc)
        rows = spark.createDataFrame(
            [(cp, chr(cp)) for cp in cps], "cp int, ch string").select(
            "cp", F.col("ch").rlike(rf"\A[{cls}]\z").alias("pos"),
            F.col("ch").rlike(rf"\A[^{cls}]\z").alias("neg")).collect()
        bad = [r.cp for r in rows
               if r.pos != bool(re.fullmatch(esc, chr(r.cp)))
               or r.neg == r.pos]
        assert not bad, (esc, bad[:5])


def test_skill_tokens_and_datelike(spark):
    df = spark.createDataFrame(
        [("python, apache spark | k8s; a", "born 1990 in May",)],
        ["skills", "bio"])
    r = df.select(
        skill_tokens_col(F.col("skills")).alias("toks"),
        datelike_col(F.col("bio")).alias("datelike"),
        datelike_col(F.col("skills")).alias("not_datelike"),
    ).first()
    assert r["toks"] == ["Python", "Apache Spark", "K8s"]  # 'a' dropped
    assert r["datelike"] is True and r["not_datelike"] is False


def test_lang_id_on_real_phrases(spark):
    df = spark.createDataFrame(
        [(0, "the cat is in the house and it is warm"),
         (1, "el perro es de la casa y que es grande"),
         (2, "der hund ist nicht das problem und zu gross"),
         (3, "zzz qqq xxx")], ["i", "text"])
    got = {r["i"]: r["lang"] for r in df.select(
        "i", lang_id_col(F.col("text")).alias("lang")).collect()}
    assert got == {0: "en", 1: "es", 2: "de", 3: "und"}


def test_token_count(spark):
    df = spark.createDataFrame([("a b c",), ("one",)], ["text"])
    got = [r[0] for r in
           df.select(token_count_col(F.col("text"))).collect()]
    assert got == [3, 1]


def test_run_extract_cli(tmp_path):
    """Drive the production CLI end-to-end in a subprocess."""
    out_dir = str(tmp_path / "out")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    p = subprocess.run(
        [sys.executable, "jobs/run_extract.py", "--synth", "200",
         "--output", out_dir, "--buckets", "8", "--slice-buckets", "4"],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert p.returncode == 0, p.stderr[-2000:]
    summary = json.loads(p.stdout.strip().splitlines()[-1])
    assert summary["docs"] == 200
    assert summary["slices_committed"] == 2
    assert summary["parse_failures"] == 10  # 5% junk route
    assert os.path.isdir(os.path.join(out_dir, "data"))


def test_cv_field_regexes(spark):
    from document_text_extraction_spark.functions import (
        degrees_col, experience_years_col, gpa_col)
    df = spark.createDataFrame(
        [("Bachelor of Science at X, GPA: 3.85, 12+ years of experience "
          "then Master of Engineering",),
         ("no cv content here",)], ["text"])
    rows = df.select(
        gpa_col(F.col("text")).alias("gpa"),
        degrees_col(F.col("text")).alias("degrees"),
        experience_years_col(F.col("text")).alias("exp"),
    ).collect()
    assert rows[0]["gpa"] == "3.85"
    assert rows[0]["degrees"] == ["Bachelor of Science",
                                  "Master of Engineering"]
    assert rows[0]["exp"] == 12
    assert rows[1]["gpa"] == "" and rows[1]["exp"] == -1


def test_registrable_domain_branches(spark):
    """Every branch of the PLD rule: two-level suffix (case + trailing
    dot), plain domain, deep subdomain, IPv4, single label, suffix
    sibling collapse."""
    from document_text_extraction_spark.functions.urls import (
        registrable_domain_col,
    )
    cases = {
        "www.BBC.co.uk.": "bbc.co.uk",
        "news.bbc.co.uk": "bbc.co.uk",
        "a.b.example.com": "example.com",
        "example.com": "example.com",
        "1.2.3.4.": "1.2.3.4",
        "localhost": "localhost",
        "x.com.au": "x.com.au",
        "static.x.com.au": "x.com.au",
        "site00.example.org": "example.org",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {r.host: r.pld for r in df.select(
        "host", registrable_domain_col(F.col("host")).alias("pld")
    ).collect()}
    assert got == cases


# ---------------------------------------------------------------------------
# z-order layout keys (functions/layout.py)
# ---------------------------------------------------------------------------

def _ref_morton(a, b, bits=21):
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_zorder_key_matches_reference(spark):
    from document_text_extraction_spark.functions.layout import (
        zorder_key_col,
    )
    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (2**21 - 1, 2**21 - 1),
            (123456, 654321), (2**21 + 7, 9)]  # masks overflow bits
    df = spark.createDataFrame(rows, "a long, b long")
    got = {(r.a, r.b): r.z for r in df.select(
        "a", "b", zorder_key_col(F.col("a"), F.col("b")).alias("z")
    ).collect()}
    for a, b in rows:
        assert got[(a, b)] == _ref_morton(a & (2**21 - 1),
                                          b & (2**21 - 1))


def test_zorder_bucket_bounds_both_dimensions(spark):
    """Locality contract: a bucket of the top z-bits (dropping 22 low
    bits = 11 per dimension) covers at most a 2^11-wide range in EACH
    dimension — the reason min/max stats stay tight on both columns."""
    import random
    rnd = random.Random(3)
    rows = [(rnd.randrange(2**21), rnd.randrange(2**21))
            for _ in range(4000)]
    from document_text_extraction_spark.functions.layout import (
        zorder_key_col,
    )
    df = spark.createDataFrame(rows, "a long, b long")
    z = zorder_key_col(F.col("a"), F.col("b"))
    agg = df.select(F.shiftrightunsigned(z, 22).alias("zb"), "a", "b") \
        .groupBy("zb").agg(F.min("a").alias("a0"), F.max("a").alias("a1"),
                           F.min("b").alias("b0"), F.max("b").alias("b1")) \
        .collect()
    assert agg
    for r in agg:
        assert r.a1 - r.a0 < 2**11
        assert r.b1 - r.b0 < 2**11


def test_zorder_sql_mirror_matches(spark):
    """The DuckDB mirror is generated from the same scheme — check a
    sample cross-engine."""
    import duckdb

    from document_text_extraction_spark.functions.layout import (
        zorder_key_col,
        zorder_key_sql,
    )
    rows = [(i * 977 % (2**21), i * 131071 % (2**21)) for i in range(200)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = sorted(r.z for r in df.select(
        zorder_key_col(F.col("a"), F.col("b")).alias("z")).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(x[0] for x in con.execute(
        f"SELECT {zorder_key_sql('a', 'b')} FROM t").fetchall())
    assert got == want


def test_cluster_by_zorder_is_one_range_exchange(spark):
    from document_text_extraction_spark.functions.layout import (
        cluster_by_zorder,
        zorder_key_col,
    )
    df = spark.createDataFrame([(i, i * 7 % 100) for i in range(100)],
                               "a long, b long")
    plan = (cluster_by_zorder(df, zorder_key_col(F.col("a"), F.col("b")),
                              n_files=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("rangepartitioning") + plan.count(
        "RangePartitioning") >= 1
    assert "SortMergeJoin" not in plan


def test_contains_terms_whole_token_case_insensitive(spark):
    from document_text_extraction_spark.functions.textstats import (
        contains_terms_col,
    )
    rows = [(0, "a SLOW query"), (1, "slowly moving"), (2, "clean doc"),
            (3, "noise at end")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hit = {r.doc_id for r in df.filter(
        contains_terms_col(F.col("text"), ["slow", "noise"])).collect()}
    assert hit == {0, 3}  # whole-token: "slowly" must NOT match


def test_contains_terms_is_plain_filter(spark):
    from document_text_extraction_spark.functions.textstats import (
        contains_terms_col,
    )
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    plan = (df.filter(~contains_terms_col(F.col("text"), ["bad"]))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan


def test_file_skipping_prunes_and_loses_nothing(spark, tmp_path):
    """Z-ordered write + footer-stats manifest: a range predicate on
    EITHER dimension skips files, and the pruned read is row-identical
    to the full-scan filter."""
    from document_text_extraction_spark.functions.layout import (
        cluster_by_zorder,
        zorder_key_col,
    )
    from document_text_extraction_spark.sources.stats_prune import (
        pruned_paths,
        pruned_read,
        stats_manifest,
    )
    rows = [(i, i % 199, (i * 7) % 211) for i in range(20000)]
    df = spark.createDataFrame(rows, "rid long, a long, b long")
    z = zorder_key_col(F.col("a"), F.col("b"))
    out = str(tmp_path / "zt")
    cluster_by_zorder(df, z, n_files=16).write.parquet(out)
    manifest = stats_manifest(out, ["a", "b"])
    n_files = len(manifest)
    assert n_files >= 8
    for col, lo, hi in (("a", 10, 40), ("b", 150, 190)):
        kept = pruned_paths(manifest, col, lo, hi)
        assert len(kept) < n_files, (col, len(kept), n_files)
        got = sorted(r.rid for r in
                     pruned_read(spark, out, manifest, col, lo, hi)
                     .collect())
        want = sorted(r.rid for r in df.filter(
            (F.col(col) >= lo) & (F.col(col) <= hi)).collect())
        assert got == want


def test_file_skipping_empty_range(spark, tmp_path):
    from document_text_extraction_spark.functions.layout import (
        cluster_by_zorder,
        zorder_key_col,
    )
    from document_text_extraction_spark.sources.stats_prune import (
        pruned_read,
        stats_manifest,
    )
    df = spark.createDataFrame([(1, 5, 5)], "rid long, a long, b long")
    out = str(tmp_path / "z1")
    cluster_by_zorder(df, zorder_key_col(F.col("a"), F.col("b")),
                      n_files=2).write.parquet(out)
    m = stats_manifest(out, ["a"])
    assert pruned_read(spark, out, m, "a", 100, 200).count() == 0


def test_contains_terms_null_text_matches_sql_not_exists(spark):
    """ADVICE r4: NULL text must act as 'contains nothing' so a
    NOT-filter KEEPS the row — the DuckDB oracle's NOT EXISTS over
    unnest(NULL) semantics — instead of dropping it via a NULL
    predicate."""
    from document_text_extraction_spark.functions.textstats import (
        contains_terms_col,
    )
    df = spark.createDataFrame(
        [(1, "clean words"), (2, None), (3, "bad stuff")],
        "doc_id long, text string")
    kept = {r.doc_id for r in
            df.filter(~contains_terms_col(F.col("text"), ["bad"]))
            .collect()}
    assert kept == {1, 2}
