"""Driver-contract query registry: Spark implementations + DuckDB oracles.

Each entry exercises one operator family from SURVEY.md §2 (O-numbers in
the docstrings). The extraction queries derive deterministic pages from
the ``documents`` table (``sources.web_pages_from_documents``), so the
DuckDB oracle can predict the *extracted* text straight from the source
text: main content is the 10-word chunking of ``text``, i.e.
``regexp_replace(text, '((?:\\S+ ){9}\\S+) ', '\\1'||chr(10), 'g')``.

Cross-engine comparability rules used throughout:
* every computed column aliased identically in Spark and SQL;
* integer-ish outputs cast to BIGINT on both sides;
* doubles compared after **floor-scaling** (floor(x*10^k)/10^k), which is
  bit-stable when both engines compute the same double, unlike
  round-half-up vs round-half-even;
* top-k queries carry a total ORDER BY (score desc, id asc).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipeline
from .functions import fields as ff
from .functions import sampling
from .functions import textstats as ts
from .operators import (blocklist, components, contamination, dedup,
                        regions, similarity)
from .operators.sections import sections_df
from .operators.sessionize import mode_by, running_sum, user_session_counts
from .sources import web_pages_from_documents
from .tempdirs import scratch_dir

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

CHUNK_SQL = (
    r"regexp_replace(text, '((?:\S+ ){9}\S+) ', '\1' || chr(10), 'g')"
)


def chunk_lines_col(text="text"):
    """Spark twin of CHUNK_SQL / corpus.chunk_text: the 10-word
    golden chunking as an array-of-lines column. ONE definition --
    the queries that re-derive golden lines all use this, so the
    chunking contract cannot drift between Spark sites and the SQL
    oracle."""
    return F.split(
        F.regexp_replace(text, r"((?:\S+ ){9}\S+) ", "$1\n"), "\n")
ROUTE_SQL = (
    "CASE WHEN doc_id % 20 = 12 THEN 'docx' "
    "WHEN doc_id % 20 < 14 THEN 'html' "
    "WHEN doc_id % 20 < 19 THEN 'pdf' "
    "WHEN (doc_id // 20) % 6 <> 2 THEN 'pdf' ELSE 'unknown' END"
)
# junk slot failure classes (corpus.make_junk variants by
# (doc_id // 20) % 6: jbig2/dct/ccitt → unsupported_filter,
# truncated → no_streams, /Encrypt → encrypted, noise → unknown_route)
REASON_SQL = (
    "CASE WHEN (doc_id // 20) % 6 IN (0, 3, 4) THEN 'unsupported_filter' "
    "WHEN (doc_id // 20) % 6 = 1 THEN 'no_streams' "
    "WHEN (doc_id // 20) % 6 = 5 THEN 'encrypted' "
    "ELSE 'unknown_route' END"
)
STATUS_SQL = (
    "CASE WHEN doc_id % 20 < 19 THEN 'ok' ELSE 'parse_failure' END"
)
def _host_sql_of(expr: str) -> str:
    """DuckDB mirror of ``corpus.host_for`` over an arbitrary numeric
    expression (cubic inverse-CDF over 50 hosts)."""
    return (
        "'site' || lpad(CAST(least(49, CAST(floor(50 * pow(((" + expr
        + ") % 1000) / 1000.0, 3)) AS INT)) AS VARCHAR), 2, '0') "
        "|| '.example.org'"
    )


HOST_SQL = _host_sql_of("doc_id")

_N_BUCKETS = 16


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages → extraction output with doc_id recovered from the url
    (…/{source}/{doc_id}), avoiding a second scan + join."""
    pages = web_pages_from_documents(spark, sf_dir)
    out = pipeline.extract_df(pages, n_buckets=_N_BUCKETS)
    return out.withColumn(
        "doc_id", F.element_at(F.split("url", "/"), -1).cast("long")
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Parallelism floor for CPU-heavy map work over an unsplittable
    input (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read").

    The driver's tables are ONE parquet file with ONE row group, so a
    scan is a single task and every expensive map expression above it
    (shingle/gram/fingerprint building) serializes onto one core —
    measured at sf1.0: the shingle-array map alone is 12.1 s as a
    single scan task vs 1.0 s after this repartition. The repartition
    is scale-adaptive (defaultParallelism, i.e. cluster width — no
    constant tuned to this box) and a no-op when the source already
    has enough splits, which is exactly the production case (a 100 TB
    table arrives as many files/row-groups; this helper then returns
    the input unchanged and costs nothing). Used only by queries whose
    downstream aggregation is order-insensitive (counts/mins/hashes —
    no floating-point accumulation across rows)."""
    sc = df.sparkSession.sparkContext
    want = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NTZ→timestamp casts go through the session timezone; pin UTC so
    # unix_micros matches DuckDB's epoch_us regardless of the driver's
    # session config (a DST-shifting zone would skew gap arithmetic)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _spread: the table is one row group (single scan task) and every
    # consumer's map side is expensive interpreted vector arithmetic
    # (argmin/dot folds or the semdedup kernel); all consumers are
    # per-row deterministic or sort their bounded samples by id, so
    # partitioning never changes results.
    return _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of every 7th doc (planted exact dups)."""
    d = _docs(spark, sf_dir)
    extra = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    # no _spread here: this helper also feeds md5-cheap consumers
    # (dedup_exact, keep_first) where a 32-way repartition of a toy
    # table costs more than the map it parallelizes (measured sf0.1:
    # 0.25 s -> 0.52 s, and sf1.0: 0.44 -> 0.87). The gram-heavy
    # exact-substring consumers apply _spread at their call sites.
    return d.select("doc_id", "text").unionAll(extra)


DUP_DOCS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000, text FROM documents "
    "WHERE doc_id % 7 = 0"
)


def _near_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ last-word-dropped copies of every 11th doc (planted
    near-dups)."""
    d = _docs(spark, sf_dir)
    extra = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"\s\S+$", "").alias("text"),
    )
    return _spread(d.select("doc_id", "text").unionAll(extra))


NEAR_DOCS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000, "
    r"regexp_replace(text, '\s\S+$', '') FROM documents "
    "WHERE doc_id % 11 = 0"
)

SHINGLE_SQL = (
    "list_distinct([array_to_string(words[i:least(i+2, len(words))], ' ') "
    "for i in range(1, greatest(len(words) - 2, 1) + 1)])"
)

# ---------------------------------------------------------------------------
# extraction queries (O1, O2, O6, O10, O31, O36, O44)
# ---------------------------------------------------------------------------

def q_extract_html_roundtrip(spark, sf_dir):
    """O36 byte-identity on the HTML route (incl. the gzip-encoded
    slot, doc_id%20==13): extracted text == 10-word chunking of the
    source text."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter((F.col("doc_id") % 20 < 14)
                   & (F.col("doc_id") % 20 != 12))
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_HTML = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 20 < 14 AND doc_id % 20 <> 12"
)


def q_extract_docx_roundtrip(spark, sf_dir):
    """O3/O36 byte-identity on the DOCX route (OOXML paragraph read)."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter(F.col("doc_id") % 20 == 12)
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_DOCX = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 20 = 12"
)


def q_extract_pdf_roundtrip(spark, sf_dir):
    """O36 byte-identity on the PDF route (content-stream parse, column
    clustering, reading order)."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter((F.col("doc_id") % 20 >= 14)
                   & (F.col("doc_id") % 20 < 19))
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_PDF = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 20 >= 14 AND doc_id % 20 < 19"
)


def q_extract_pdf15_roundtrip(spark, sf_dir):
    """O36 byte-identity on the PDF 1.5 slot (object streams + xref
    stream, doc_id%40==18): the modern layout most post-2005 crawl PDFs
    use. Same golden text as the 1.4 path."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter(F.col("doc_id") % 40 == 18)
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_PDF15 = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 40 = 18"
)


def q_extract_pdf_cmap_roundtrip(spark, sf_dir):
    """O36 byte-identity on the CMap slot (doc_id%40==34): Type0 font,
    2-byte codes, /ToUnicode CMap interpretation — the non-latin text
    path real readers rely on."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter(F.col("doc_id") % 40 == 34)
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_PDF_CMAP = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 40 = 34"
)


def q_extract_pdf_filters_roundtrip(spark, sf_dir):
    """O36 byte-identity across the implemented stream-filter set:
    ASCIIHexDecode (doc_id%40==35), an [ASCII85 → Flate] chain (36),
    RunLengthDecode (37), LZWDecode (38), Flate + PNG / TIFF
    /Predictor DecodeParms (%80==16/56) and a WinAnsi+/Differences
    simple-font encoding (%80==15) — every text-relevant filter and
    legacy-encoding shape; only raster-image codecs remain counted
    failures."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter((F.col("doc_id") % 40).isin(35, 36, 37, 38)
                   | (F.col("doc_id") % 80).isin(15, 16, 56))
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_PDF_FILTERS = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 40 IN (35, 36, 37, 38) "
    "OR doc_id % 80 IN (15, 16, 56)"
)


def q_extract_pdf_matrix_roundtrip(spark, sf_dir):
    """O36 byte-identity on the rotated/scaled-CTM slot (doc_id%80==54):
    full Tm/cm matrix tracking with a q/Q graphics-state stack — text
    placed through rotated+scaled coordinate systems must extract in
    DEVICE-space reading order (the scanned/landscape-PDF shape;
    reference gets this from MuPDF, ``approach4_v1.py:21-31``)."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter(F.col("doc_id") % 80 == 54)
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_PDF_MATRIX = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 80 = 54"
)


def q_extract_pdf_links(spark, sf_dir):
    """Hyperlink extraction from /Annots Link annotations
    (doc_id%80==17): real-world PDF links live in annotation objects,
    not the text layer (reference reads them via MuPDF page.get_links).
    Covers inline + indirect /Annots arrays and /A action dicts; the
    /Subtype /Text note annot must contribute nothing. Text roundtrip
    for the same slot stays covered by extract_pdf_roundtrip."""
    out = _extracted(spark, sf_dir)
    # serialized with a '|' delimiter: the correctness driver's pandas
    # canonicalizer can't sort bare array columns (unhashable list)
    return (
        out.filter(F.col("doc_id") % 80 == 17)
        .select("doc_id",
                F.array_join(ff.fields_col()["links"], "|").alias("links"))
    )


SQL_EXTRACT_PDF_LINKS = (
    "SELECT doc_id, array_to_string(['https://links.example.net/' || "
    "CAST(doc_id AS VARCHAR) || '/' || CAST(k AS VARCHAR) for k in "
    "range(0, doc_id % 3 + 1)], '|') AS links "
    "FROM documents WHERE doc_id % 80 = 17"
)


def q_extract_docx_links(spark, sf_dir):
    """DOCX hyperlink extraction (doc_id%40==12): <w:hyperlink r:id>
    references resolved through external-mode relationships in
    word/_rels/document.xml.rels — where real .docx links live
    (python-docx part.rels). Text roundtrip for the slot stays covered
    by extract_docx_roundtrip."""
    out = _extracted(spark, sf_dir)
    # serialized with '|' for the driver's scalar-only canonicalizer
    return (
        out.filter(F.col("doc_id") % 40 == 12)
        .select("doc_id",
                F.array_join(ff.fields_col()["links"], "|").alias("links"))
    )


SQL_EXTRACT_DOCX_LINKS = (
    # one hyperlink per paragraph at most: a short doc (< 2 paragraphs)
    # on the 2-link slot carries only the first link
    "SELECT doc_id, array_to_string(['https://docs.example.net/' || "
    "CAST(doc_id AS VARCHAR) || '/' || CAST(k AS VARCHAR) for k in "
    "range(0, least(1 + (doc_id // 40) % 2, "
    "(len(string_split(text, ' ')) + 9) // 10))], '|') AS links "
    "FROM documents WHERE doc_id % 40 = 12"
)


def q_extract_pdf_type3_roundtrip(spark, sf_dir):
    """O36 byte-identity on the Type3-font slot (doc_id%160==14):
    user-defined fonts whose glyphs are /CharProcs content streams and
    whose character mapping exists ONLY in /Encoding /Differences
    (PDF 1.7 §9.6.5) — extraction resolves codes through the
    Differences+AGL path and ignores the glyph procedures."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter(F.col("doc_id") % 160 == 14)
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_PDF_TYPE3 = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 160 = 14"
)


def q_extract_pdf_rotated_roundtrip(spark, sf_dir):
    """O36 byte-identity on the /Rotate page slot (doc_id%160==134):
    scanned-document display rotation (90/180/270) composed into the
    reading-order coordinates — portrait MediaBox, sideways-authored
    text, golden order recovered only by honoring /Rotate (the
    reference gets this from MuPDF's page rotation handling)."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter(F.col("doc_id") % 160 == 134)
        .select("doc_id", "extracted_text")
    )


SQL_EXTRACT_PDF_ROTATED = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 160 = 134"
)


def q_streaming_extract_roundtrip(spark, sf_dir):
    """Batch/streaming parity, oracle-checked on real streaming
    machinery: materialize the pages table, run the availableNow
    Structured-Streaming pipeline (readStream → extract_df →
    foreachBatch idempotent batch_id=N sink, streaming checkpoint),
    read the sink back — extracted text must equal the same golden
    chunking the batch roundtrips use (streaming/stream.py)."""
    import shutil
    from .streaming.stream import run_stream_available_now
    base = scratch_dir("dte_q_stream_")
    pages = web_pages_from_documents(spark, sf_dir)
    pages.write.mode("overwrite").parquet(f"{base}/in")
    run_stream_available_now(spark, f"{base}/in", f"{base}/out",
                             f"{base}/ck", n_buckets=_N_BUCKETS)
    # the stream is finished: the input copy and checkpoint are dead
    # weight; only {base}/out backs the returned DataFrame
    shutil.rmtree(f"{base}/in", ignore_errors=True)
    shutil.rmtree(f"{base}/ck", ignore_errors=True)
    out = spark.read.parquet(f"{base}/out")
    return (
        out.filter(F.col("lineage.status") == "ok")
        .select(
            F.element_at(F.split("url", "/"), -1).cast("long")
            .alias("doc_id"),
            "extracted_text",
        )
    )


SQL_STREAMING_EXTRACT = (
    f"SELECT doc_id, {CHUNK_SQL} AS extracted_text "
    "FROM documents WHERE doc_id % 20 <> 19"
)


def q_wet_roundtrip(spark, sf_dir):
    """Publish/re-ingest identity through the WET sink (sinks/wet.py):
    extraction output → Common-Crawl-style conversion records
    (per-record-gzip WET files, written distributed with atomic task
    renames) → binaryFile re-ingestion — text must equal the same
    golden chunking the batch roundtrips check, for exactly the ok
    rows (parse failures have nothing to publish)."""
    import shutil
    from .sinks import wet_text_df, write_wet
    base = scratch_dir("dte_q_wet_")
    out = _extracted(spark, sf_dir)
    # publish only ok rows — a parse_failure's empty text is a counted
    # failure, not corpus content (the sink itself stays generic)
    ok = out.filter(F.col("lineage.status") == "ok")
    write_wet(ok, base, n_files=8).collect()  # the write job
    back = wet_text_df(spark, base)
    res = (back.select(
        F.element_at(F.split("url", "/"), -1).cast("long")
        .alias("doc_id"),
        F.col("text").alias("extracted_text"),
    ).localCheckpoint())  # sever lineage before the files are removed
    shutil.rmtree(base, ignore_errors=True)
    return res


SQL_WET_ROUNDTRIP = SQL_STREAMING_EXTRACT


def q_extract_fail_reasons(spark, sf_dir):
    """O31 failure attribution: parse_failure counts by (route, reason) —
    unsupported filters (LZW), truncated structure, unroutable bytes each
    land in a distinct counted class, never silent output."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter(F.col("lineage.status") == "parse_failure")
        .groupBy(F.col("lineage.route").alias("route"),
                 F.col("lineage.reason").alias("reason"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


SQL_FAIL_REASONS = (
    f"SELECT {ROUTE_SQL} AS route, {REASON_SQL} AS reason, "
    "CAST(count(*) AS BIGINT) AS n_docs FROM documents "
    "WHERE doc_id % 20 = 19 GROUP BY 1, 2"
)


def q_pdf_failure_budget(spark, sf_dir):
    """Real-crawl failure-budget accounting over the pdf route: the
    corpus plants raster-only (JBIG2/DCT/CCITT) and encrypted PDFs at
    ~0.83% each (corpus.make_junk) — the classes a text-layer parser
    cannot extract (the reference's S3/S4 OCR paths could; out of scope
    by the byte-identity rule, LIMITS.md §1). One row per outcome class
    with its share of all pdf-routed documents, so the unsupported-PDF
    impact is a measured number, not a footnote."""
    from pyspark.sql import Window as W
    out = _extracted(spark, sf_dir)
    pdfs = out.filter(F.col("lineage.route") == "pdf")
    counts = pdfs.groupBy(
        F.coalesce(F.col("lineage.reason"), F.lit("ok")).alias("reason")
    ).agg(F.count("*").cast("long").alias("n_docs"))
    total = F.sum("n_docs").over(W.partitionBy())
    return counts.select(
        "reason", "n_docs",
        (F.floor(F.col("n_docs") * 1e4 / total) / 100.0).alias("pct"),
    )


SQL_PDF_FAILURE_BUDGET = (
    "WITH pdfs AS (SELECT doc_id, "
    "CASE WHEN doc_id % 20 < 19 THEN 'ok' "
    "WHEN (doc_id // 20) % 6 IN (0, 3, 4) THEN 'unsupported_filter' "
    "WHEN (doc_id // 20) % 6 = 1 THEN 'no_streams' "
    "ELSE 'encrypted' END AS reason FROM documents "
    "WHERE (doc_id % 20 >= 14 AND doc_id % 20 < 19) "
    "OR (doc_id % 20 = 19 AND (doc_id // 20) % 6 <> 2)), "
    "c AS (SELECT reason, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM pdfs GROUP BY 1) "
    "SELECT reason, n_docs, "
    "floor(n_docs * 1e4 / (SELECT sum(n_docs) FROM c)) / 100.0 AS pct "
    "FROM c"
)


def q_extract_route_counts(spark, sf_dir):
    """O31: routing rollup by sniffed content type."""
    out = _extracted(spark, sf_dir)
    return (
        out.groupBy(F.col("lineage.route").alias("route"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


SQL_ROUTE_COUNTS = (
    f"SELECT {ROUTE_SQL} AS route, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM documents GROUP BY 1"
)


def q_extract_status_counts(spark, sf_dir):
    """O31: success/failure counters (error-row protocol)."""
    out = _extracted(spark, sf_dir)
    return (
        out.groupBy(
            F.col("lineage.route").alias("route"),
            F.col("lineage.status").alias("status"),
        ).agg(F.count("*").cast("long").alias("n_docs"))
    )


SQL_STATUS_COUNTS = (
    f"SELECT {ROUTE_SQL} AS route, {STATUS_SQL} AS status, "
    "CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1, 2"
)


def q_extract_volume_by_route(spark, sf_dir):
    """O32 char totals per route over successful extractions."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter(F.col("lineage.status") == "ok")
        .groupBy(F.col("lineage.route").alias("route"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length("extracted_text")).cast("long").alias("chars"),
        )
    )


SQL_VOLUME_BY_ROUTE = (
    f"SELECT {ROUTE_SQL} AS route, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(length(text)) AS BIGINT) AS chars "
    "FROM documents WHERE doc_id % 20 < 19 GROUP BY 1"
)


def q_extract_pdf_block_counts(spark, sf_dir):
    """O33/O22: per-document block counts on the PDF route — predicted
    exactly by ceil(tokens/10)."""
    out = _extracted(spark, sf_dir)
    return (
        out.filter((F.col("lineage.route") == "pdf")
                   & (F.col("lineage.status") == "ok"))
        .select("doc_id", F.col("lineage.n_blocks").cast("long")
                .alias("n_blocks"))
    )


SQL_PDF_BLOCKS = (
    "SELECT doc_id, CAST(ceil(len(string_split(text, ' ')) / 10.0) "
    "AS BIGINT) AS n_blocks FROM documents "
    "WHERE doc_id % 20 >= 14 AND doc_id % 20 < 19"
)


def q_host_topk(spark, sf_dir):
    """O37 top-k + skew visibility: busiest hosts (Zipf-skewed)."""
    pages = web_pages_from_documents(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        pages.groupBy(host.alias("host"))
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("host"))
        .limit(10)
    )


SQL_HOST_TOPK = (
    f"SELECT {HOST_SQL} AS host, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM documents GROUP BY 1 ORDER BY n_docs DESC, host LIMIT 10"
)


def q_host_volume(spark, sf_dir):
    """Host-level accounting (politeness/rate budgeting): docs and main
    content chars per host over successful extractions."""
    out = _extracted(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        out.filter(F.col("lineage.status") == "ok")
        .groupBy(host.alias("host"))
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum(F.length("extracted_text")).cast("long").alias("chars"))
    )


SQL_HOST_VOLUME = (
    f"SELECT {HOST_SQL} AS host, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(length(text)) AS BIGINT) AS chars FROM documents "
    "WHERE doc_id % 20 < 19 GROUP BY 1"
)


def q_emails_planted(spark, sf_dir):
    """O44 email regex family on JVM-side expressions."""
    d = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com now"),
    )
    return d.select(
        "doc_id",
        F.regexp_extract(planted, ff.EMAIL_PATTERN, 0).alias("email"),
    )


SQL_EMAILS = (
    "SELECT doc_id, regexp_extract(text || ' contact user' || "
    "CAST(doc_id AS VARCHAR) || '@example.com now', "
    r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS email "
    "FROM documents"
)

def q_cv_fields_planted(spark, sf_dir):
    """O51/O52 typed-field regexes on planted CV-style strings: GPA and
    experience-years extracted from text extended deterministically in
    both engines."""
    d = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.lit(" GPA: 3."), (F.col("doc_id") % 90 + 10).cast("string"),
        F.lit(" and "), (F.col("doc_id") % 30 + 1).cast("string"),
        F.lit(" years of experience"),
    )
    return d.select(
        "doc_id",
        ff.gpa_col(planted).alias("gpa"),
        ff.experience_years_col(planted).alias("exp_years"),
    )


SQL_CV_FIELDS = (
    "WITH p AS (SELECT doc_id, text || ' GPA: 3.' || "
    "CAST(doc_id % 90 + 10 AS VARCHAR) || ' and ' || "
    "CAST(doc_id % 30 + 1 AS VARCHAR) || ' years of experience' AS t "
    "FROM documents) SELECT doc_id, "
    r"regexp_extract(t, '(?:GPA|cGPA)[: ]*([0-4]\.[0-9]{1,2})', 1) AS gpa, "
    r"CAST(regexp_extract(t, '(\d{1,2})\+? years? of experience', 1) "
    "AS BIGINT) AS exp_years FROM p"
)


def q_cv_name_planted(spark, sf_dir):
    """O53 name heuristic on planted name lines: even doc_ids get a
    'Firstname Lastname' first line; odd ones keep raw text (which the
    heuristic may legitimately accept when short — the oracle replicates
    the rule, not the plant)."""
    d = _docs(spark, sf_dir)
    surname = F.element_at(
        F.array(F.lit("Carter"), F.lit("Nguyen"), F.lit("Okafor"),
                F.lit("Silva")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    planted = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("Riley "), surname, F.lit("\n"), F.col("text")),
    ).otherwise(F.col("text"))
    return d.select("doc_id", ff.name_col(planted).alias("name"))


SQL_CV_NAME = (
    "WITH p AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN "
    "'Riley ' || (['Carter','Nguyen','Okafor','Silva'])[doc_id % 4 + 1] "
    "|| chr(10) || text ELSE text END AS t FROM documents) "
    "SELECT doc_id, coalesce(list_filter(list_transform("
    "string_split(t, chr(10))[1:5], x -> trim(x)), "
    "x -> len(x) > 5 AND len(x) < 50 AND NOT contains(x, '@') "
    "AND NOT contains(x, '+') AND regexp_full_match(x, '[A-Za-z ]+')"
    ")[1], '') AS name FROM p"
)


def q_cv_address_planted(spark, sf_dir):
    """O55 address heuristic on planted contact lines: every 3rd doc
    gets a 'Contact details:' first line whose email/phone parts must
    be dropped and whose street/city parts must survive; other docs
    keep raw text (word-soup without the keyword → ''). The oracle
    replicates the RULE, not the plant, so accidental keyword hits in
    the base text agree too."""
    d = _docs(spark, sf_dir)
    planted = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("Contact details: user@example.com, +1 555 123 4567, "),
            (F.col("doc_id") % 90 + 1).cast("string"),
            F.lit(" Oak Street, Springfield\n"), F.col("text"),
        ),
    ).otherwise(F.col("text"))
    return d.select(
        "doc_id", ff.address_col(planted).alias("address"))


SQL_CV_ADDRESS = (
    "WITH p AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
    "'Contact details: user@example.com, +1 555 123 4567, ' || "
    "CAST(doc_id % 90 + 1 AS VARCHAR) || ' Oak Street, Springfield' || "
    "chr(10) || text ELSE text END AS t FROM documents) "
    "SELECT doc_id, coalesce(list_aggregate(list_filter(list_transform("
    "string_split(list_filter(string_split(t, chr(10))[1:10], "
    "x -> contains(lower(x), 'contact details:') OR "
    "contains(lower(x), 'address:'))[1], ','), p -> trim(p)), "
    "p -> NOT contains(p, '@') AND NOT contains(p, '+') AND "
    "NOT contains(lower(p), 'contact') AND len(p) > 3), "
    "'string_agg', ', '), '') AS address FROM p"
)


_INST_PLANT_SQL = (
    "text || ' Studied at University of ' || "
    "(['Oxford','Toronto','Melbourne','Lagos'])[doc_id % 4 + 1] || "
    "' then Senior Data Engineer at ' || "
    "(['Acme','Globex','Initech'])[doc_id % 3 + 1] || ' Ltd near ' || "
    "(['Hilltop','Riverside'])[doc_id % 2 + 1] || ' College'"
)


def q_cv_entities_planted(spark, sf_dir):
    """O51 institutions + O52 (title) at (company) on planted strings;
    the lowercase word-soup base text cannot fire the capitalized
    patterns, so matches are exactly the planted entities."""
    d = _docs(spark, sf_dir)
    city = F.element_at(
        F.array(F.lit("Oxford"), F.lit("Toronto"), F.lit("Melbourne"),
                F.lit("Lagos")), (F.col("doc_id") % 4 + 1).cast("int"))
    comp = F.element_at(
        F.array(F.lit("Acme"), F.lit("Globex"), F.lit("Initech")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    college = F.element_at(
        F.array(F.lit("Hilltop"), F.lit("Riverside")),
        (F.col("doc_id") % 2 + 1).cast("int"))
    planted = F.concat(
        F.col("text"), F.lit(" Studied at University of "), city,
        F.lit(" then Senior Data Engineer at "), comp,
        F.lit(" Ltd near "), college, F.lit(" College"))
    return d.select(
        "doc_id",
        F.array_join(ff.institutions_col(planted), ",")
        .alias("institutions"),
        F.array_join(ff.positions_col(planted), ",").alias("positions"),
        F.array_join(ff.companies_col(planted), ",").alias("companies"),
    )


SQL_CV_ENTITIES = (
    f"WITH p AS (SELECT doc_id, {_INST_PLANT_SQL} AS t FROM documents) "
    "SELECT doc_id, "
    "list_aggregate(list_sort(list_distinct(regexp_extract_all(t, "
    f"'{ff.INSTITUTION_PATTERN}', 0))), 'string_agg', ',') "
    "AS institutions, "
    f"list_aggregate(regexp_extract_all(t, '{ff.JOB_TITLE_PATTERN}', 1), "
    "'string_agg', ',') AS positions, "
    f"list_aggregate(regexp_extract_all(t, '{ff.JOB_TITLE_PATTERN}', 2), "
    "'string_agg', ',') AS companies FROM p"
)


def q_positions_zip(spark, sf_dir):
    """O19 positional zip-join: pair positions[i] with companies[i],
    padding the shorter side with 'Unknown'
    (``batch_multi_column.py:467-494`` semantics), exploded to rows."""
    d = _docs(spark, sf_dir)
    pos = F.slice(
        F.array(F.lit("Data Engineer"), F.lit("Site Manager"),
                F.lit("QA Analyst")),
        1, (F.col("doc_id") % 3 + 1).cast("int"))
    comp = F.slice(
        F.array(F.lit("Acme"), F.lit("Globex")),
        1, (F.col("doc_id") % 2 + 1).cast("int"))
    pairs = ff.paired_positions_col(pos, comp)
    return d.select("doc_id", F.explode(pairs).alias("pc")).select(
        "doc_id",
        F.col("pc.position").alias("position"),
        F.col("pc.company").alias("company"),
    )


SQL_POSITIONS_ZIP = (
    "WITH p AS (SELECT doc_id, "
    "(['Data Engineer','Site Manager','QA Analyst'])[1 : doc_id % 3 + 1] "
    "AS pos, (['Acme','Globex'])[1 : doc_id % 2 + 1] AS comp "
    "FROM documents), "
    "z AS (SELECT doc_id, greatest(len(pos), len(comp)) AS n, pos, comp "
    "FROM p) "
    "SELECT doc_id, "
    "unnest([coalesce(pos[i], 'Unknown') for i in range(1, n + 1)]) "
    "AS position, "
    "unnest([coalesce(comp[i], 'Unknown') for i in range(1, n + 1)]) "
    "AS company FROM z"
)


def q_sections_planted(spark, sf_dir):
    """O47/O48/O58 section segmentation (gaps-and-islands over reading
    order) on planted spans: every doc's 10-word lines become blocks,
    every block at index%4==2 a heading — blocks before the first
    heading land in '_preamble', names normalize via the keyword map."""
    d = _docs(spark, sf_dir)
    lines = chunk_lines_col()
    spans = F.transform(lines, lambda ln, i: F.struct(
        i.cast("int").alias("block"),
        F.when(i % 4 == 2, F.lit("heading")).otherwise(F.lit("main"))
        .alias("kind"),
        ln.alias("text"),
    ))
    inp = d.select(F.col("doc_id").cast("string").alias("url"),
                   spans.alias("spans"))
    out = sections_df(inp)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("section_id").cast("long").alias("section_id"),
        "section",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        "body",
    )


def _sections_sql() -> str:
    from .operators.sections import SECTION_KEYWORDS
    norm = "CASE " + " ".join(
        f"WHEN contains(lower(heading), '{kw}') THEN '{canon}'"
        for kw, canon in SECTION_KEYWORDS.items()
    ) + r" ELSE regexp_replace(trim(lower(heading)), '\s+', '_', 'g') END"
    return (
        f"WITH base AS (SELECT doc_id, string_split({CHUNK_SQL}, chr(10)) "
        "AS ls FROM documents), "
        "b AS (SELECT doc_id, unnest(ls) AS line, "
        "generate_subscripts(ls, 1) - 1 AS block FROM base), "
        "k AS (SELECT doc_id, block, line, CASE WHEN block % 4 = 2 THEN "
        "'heading' ELSE 'main' END AS kind FROM b), "
        "f AS (SELECT *, sum(CASE WHEN kind = 'heading' THEN 1 ELSE 0 END)"
        " OVER (PARTITION BY doc_id ORDER BY block) AS section_id FROM k), "
        "g AS (SELECT doc_id, section_id, "
        "max(CASE WHEN kind = 'heading' THEN line END) AS heading, "
        "string_agg(CASE WHEN kind <> 'heading' THEN line END, chr(10) "
        "ORDER BY block) AS body, count(*) AS n_blocks FROM f "
        "GROUP BY 1, 2) "
        "SELECT doc_id, CAST(section_id AS BIGINT) AS section_id, "
        f"CASE WHEN heading IS NULL THEN '_preamble' ELSE {norm} END "
        "AS section, CAST(n_blocks AS BIGINT) AS n_blocks, "
        "coalesce(body, '') AS body FROM g"
    )


SQL_SECTIONS_PLANTED = _sections_sql()


def q_span_merge_planted(spark, sf_dir):
    """O41/O27 region coalescing on planted geometry: every doc's lines
    sit 14pt apart inside clusters of 4, clusters 100pt apart; interval
    clustering at gap=50 must recover exactly the planted clusters with
    covering-envelope bboxes (``cv_yolo_extractor_v2.py:208-272``
    semantics as one window pass, no pairwise join)."""
    d = _docs(spark, sf_dir)
    lines = chunk_lines_col()
    ex = d.select("doc_id", F.posexplode(lines).alias("block", "text"))
    y0 = (F.lit(720.0) - F.col("block") * 14.0
          - F.floor(F.col("block") / 4) * 100.0)
    x0 = F.lit(72.0) + (F.col("block") % 3).cast("double") * 188.0
    spans = ex.select(
        "doc_id", "block", "text",
        x0.alias("x0"), y0.alias("y0"),
        (x0 + 180.0).alias("x1"), y0.alias("y1"),
    )
    clustered = regions.cluster_spans_1d(spans, gap=50.0, keys=["doc_id"])
    env = regions.region_envelopes(clustered, keys=["doc_id"])
    return env.select(
        "doc_id",
        F.col("region_id").cast("long").alias("region_id"),
        F.col("n_spans").cast("long").alias("n_spans"),
        "x0", "y0", "x1", "y1", "text",
    )


SQL_SPAN_MERGE = (
    f"WITH base AS (SELECT doc_id, string_split({CHUNK_SQL}, chr(10)) "
    "AS ls FROM documents), "
    "b AS (SELECT doc_id, unnest(ls) AS line, "
    "generate_subscripts(ls, 1) - 1 AS blk FROM base), "
    "s AS (SELECT doc_id, blk, line, "
    "CAST(72 + (blk % 3) * 188 AS DOUBLE) AS x0, "
    "CAST(720 - blk * 14 - (blk // 4) * 100 AS DOUBLE) AS y0 FROM b), "
    "c AS (SELECT *, max(y0) OVER (PARTITION BY doc_id ORDER BY y0 "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end "
    "FROM s), "
    "r AS (SELECT *, sum(CASE WHEN prev_end IS NULL OR y0 > prev_end + 50 "
    "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY y0 "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS region_id "
    "FROM c) "
    "SELECT doc_id, CAST(region_id AS BIGINT) AS region_id, "
    "CAST(count(*) AS BIGINT) AS n_spans, min(x0) AS x0, min(y0) AS y0, "
    "max(x0 + 180) AS x1, max(y0) AS y1, "
    "string_agg(line, chr(10) ORDER BY blk) AS text "
    "FROM r GROUP BY doc_id, region_id"
)


# ---------------------------------------------------------------------------
# text analytics / training-data ops (O30, O37, O47-O50 analogues)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup via md5 fingerprint groupBy over planted duplicates."""
    groups = dedup.exact_duplicate_groups(_dup_docs(spark, sf_dir))
    return groups.select(
        "fingerprint",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.element_at("doc_ids", 1).cast("long").alias("min_id"),
        F.element_at("doc_ids", -1).cast("long").alias("max_id"),
    )


SQL_DEDUP_EXACT = (
    f"WITH all_docs AS ({DUP_DOCS_SQL}) "
    "SELECT md5(text) AS fingerprint, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(min(doc_id) AS BIGINT) AS min_id, "
    "CAST(max(doc_id) AS BIGINT) AS max_id "
    "FROM all_docs GROUP BY 1 HAVING count(*) > 1"
)


_EXSUB_K = 12


def q_exact_substring_spans(spark, sf_dir):
    """ExactSubstr dedup, report form (Lee et al. 2022 /
    google-research/deduplicate-text-datasets): maximal runs of tokens
    covered by a corpus-duplicated 12-gram, over the planted-dup corpus
    (operators/dedup.duplicated_spans). Every exact-copy pair yields
    whole-document spans in both copies; natural shared passages yield
    partial spans."""
    spans = dedup.duplicated_spans(
        _spread(_dup_docs(spark, sf_dir)), k=_EXSUB_K)
    return spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"))


def _exsub_spans_sql(k: int) -> str:
    """Shared DuckDB replica of duplicated_spans at gram size ``k``
    (names a CTE ``spans(doc_id, s, e)``)."""
    return (
        f"t AS (SELECT doc_id, string_split(text, ' ') AS toks "
        f"FROM ({DUP_DOCS_SQL})), "
        f"st AS (SELECT doc_id, toks, "
        f"unnest(range(1, len(toks) - {k} + 2)) AS pos "
        f"FROM t WHERE len(toks) >= {k}), "
        f"g AS (SELECT doc_id, pos, "
        f"md5(array_to_string(toks[pos:pos + {k - 1}], ' ')) AS g "
        f"FROM st), "
        "dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2), "
        f"occ AS (SELECT doc_id, pos, pos + {k - 1} AS e "
        "FROM g JOIN dup USING (g)), "
        "mk AS (SELECT doc_id, pos, e, CASE WHEN pos > coalesce("
        "max(e) OVER (PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 "
        "THEN 1 ELSE 0 END AS ni FROM occ), "
        "isl AS (SELECT doc_id, pos, e, sum(ni) OVER ("
        "PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) "
        "AS island FROM mk), "
        "spans AS (SELECT doc_id, min(pos) AS s, max(e) AS e "
        "FROM isl GROUP BY doc_id, island)"
    )


SQL_EXACT_SUBSTRING_SPANS = (
    f"WITH {_exsub_spans_sql(_EXSUB_K)} "
    "SELECT doc_id, CAST(s AS BIGINT) AS span_start, "
    "CAST(e AS BIGINT) AS span_end, "
    "CAST(e - s + 1 AS BIGINT) AS span_tokens FROM spans"
)


def q_exact_substring_dedup(spark, sf_dir):
    """ExactSubstr dedup, transform form: scrub every duplicated span
    and return the changed documents only (delta-output contract —
    operators/dedup.remove_duplicated_spans). Exact copies collapse to
    empty text in BOTH members (the published tool removes every
    occurrence, not all-but-one)."""
    out = dedup.remove_duplicated_spans(
        _spread(_dup_docs(spark, sf_dir)), k=_EXSUB_K)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "dedup_text",
        F.col("removed_tokens").cast("long").alias("removed_tokens"))


SQL_EXACT_SUBSTRING_DEDUP = (
    f"WITH {_exsub_spans_sql(_EXSUB_K)}, "
    "tokpos AS (SELECT doc_id, toks, "
    "unnest(range(1, len(toks) + 1)) AS pos FROM t), "
    "kept AS (SELECT doc_id, toks[pos] AS tok, pos FROM tokpos tp "
    "WHERE NOT EXISTS (SELECT 1 FROM spans sp "
    "WHERE sp.doc_id = tp.doc_id AND tp.pos BETWEEN sp.s AND sp.e)), "
    "ka AS (SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') "
    "AS dedup_text, count(*) AS n_kept FROM kept GROUP BY doc_id), "
    "nt AS (SELECT doc_id, len(toks) AS n FROM t) "
    "SELECT dw.doc_id, coalesce(ka.dedup_text, '') AS dedup_text, "
    "CAST(nt.n - coalesce(ka.n_kept, 0) AS BIGINT) AS removed_tokens "
    "FROM (SELECT DISTINCT doc_id FROM spans) dw "
    "JOIN nt USING (doc_id) LEFT JOIN ka USING (doc_id)"
)


def q_dedup_keep_first(spark, sf_dir):
    """The dedup TRANSFORM (lowest-id survivor per exact-dup group —
    'first capture wins'), not just the group report."""
    survivors = dedup.deduplicate_keep_first(_dup_docs(spark, sf_dir))
    return survivors.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("fingerprint"),
    )


SQL_DEDUP_KEEP_FIRST = (
    f"WITH all_docs AS ({DUP_DOCS_SQL}), "
    "r AS (SELECT doc_id, md5(text) AS fp, row_number() OVER "
    "(PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM all_docs) "
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, fp AS fingerprint "
    "FROM r WHERE rn = 1"
)


def q_canonical_text(spark, sf_dir):
    """Pre-fingerprint text canonicalization (casefold + punctuation
    strip + whitespace collapse): formatting variants of the same text
    must produce identical canonical forms."""
    d = _docs(spark, sf_dir)
    messy = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.upper(F.col("text")), F.lit("  !!  ")),
    ).otherwise(F.col("text"))
    return d.select(
        "doc_id",
        dedup.canonical_text_col(messy).alias("canonical"),
        (dedup.canonical_text_col(messy)
         == dedup.canonical_text_col(F.col("text"))).alias("variant_equal"),
    )


SQL_CANONICAL_TEXT = (
    "WITH p AS (SELECT doc_id, text, CASE WHEN doc_id % 2 = 0 THEN "
    "upper(text) || '  !!  ' ELSE text END AS m FROM documents), "
    "c AS (SELECT doc_id, "
    r"trim(regexp_replace(regexp_replace(lower(m), '[^\w\s]', '', 'g'), "
    r"'\s+', ' ', 'g')) AS canonical, "
    r"trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', "
    r"'g'), '\s+', ' ', 'g')) AS canon0 FROM p) "
    "SELECT doc_id, canonical, canonical = canon0 AS variant_equal FROM c"
)


def q_url_canonical(spark, sf_dir):
    """URL canonicalization on planted messy URLs (mixed case, default
    ports, unsorted query params, fragments, trailing slashes)."""
    from .functions.urls import canonical_url_col
    d = _docs(spark, sf_dir)
    u = F.concat(
        F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".ORG:443/Path"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("?b=2&a="), F.col("doc_id").cast("string")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag"))
        .otherwise(F.lit("")),
    )
    return d.select("doc_id", canonical_url_col(u).alias("canonical_url"))


def _url_canonical_sql() -> str:
    from .functions.urls import CANONICAL_URL_SQL
    plant = (
        "'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || "
        "'.ORG:443/Path' || CAST(doc_id AS VARCHAR) || "
        "CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END || "
        "CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=' || "
        "CAST(doc_id AS VARCHAR) ELSE '' END || "
        "CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END"
    )
    return (
        f"WITH p AS (SELECT doc_id, {plant} AS u FROM documents) "
        f"SELECT doc_id, {CANONICAL_URL_SQL} AS canonical_url FROM p"
    )


SQL_URL_CANONICAL = _url_canonical_sql()


def q_token_stats(spark, sf_dir):
    """Token counting (whitespace) + uniq + avg token length."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    avg_len = ts.avg_token_len_col(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        (F.floor(avg_len * 1e6) / 1e6).alias("avg_token_len"),
    )


SQL_TOKEN_STATS = (
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) "
    "AS n_tokens, "
    "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) "
    "AS n_uniq_tokens, "
    "floor(length(replace(text, ' ', '')) "
    "/ greatest(len(string_split(text, ' ')), 1) * 1e6) / 1e6 "
    "AS avg_token_len FROM documents"
)


def q_quality_scores(spark, sf_dir):
    """Quality scoring: length saturation + token shape + stopwords."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        (F.floor(ts.quality_score_col(F.col("text")) * 1e6) / 1e6)
        .alias("quality"),
    )


_SW = "['the','and','of','to','in','is','it','that']"
SQL_QUALITY = (
    "WITH s AS (SELECT doc_id, "
    "  CAST(len(string_split(text, ' ')) AS DOUBLE) AS toks, "
    "  length(replace(text, ' ', '')) "
    "    / greatest(len(string_split(text, ' ')), 1) AS avg_len, "
    f"  len(list_filter(string_split(lower(text), ' '), "
    f"      x -> list_contains({_SW}, x))) "
    "    / greatest(len(string_split(lower(text), ' ')), 1) AS swr "
    "FROM documents) "
    "SELECT doc_id, floor((0.4 * least(toks / 100.0, 1.0) "
    "+ 0.3 * greatest(0.0, 1.0 - abs(avg_len - 5.0) / 5.0) "
    "+ 0.3 * least(swr * 5.0, 1.0)) * 1e6) / 1e6 AS quality FROM s"
)


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule quality gate (Rae et al. 2021 App. A1.1): word-count
    bounds, mean-word-length bounds, alphabetic-word fraction, symbol
    ratio — the standard pre-training corpus filter."""
    d = _docs(spark, sf_dir)
    flags = ts.gopher_flags_cols(F.col("text"))
    return d.select(
        "doc_id",
        flags["n_words"].alias("n_words"),
        (F.floor(flags["mean_word_len"] * 1e6) / 1e6)
        .alias("mean_word_len"),
        (F.floor(flags["alpha_word_frac"] * 1e6) / 1e6)
        .alias("alpha_word_frac"),
        flags["word_count_ok"].alias("word_count_ok"),
        flags["gopher_pass"].alias("gopher_pass"),
    )


SQL_GOPHER = (
    "WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks, "
    "length(replace(text, ' ', '')) AS chars, "
    "length(text) - length(replace(text, '#', '')) AS hashes, "
    "(length(text) - length(replace(text, '...', ''))) / 3 AS ellipses "
    "FROM documents), "
    "t AS (SELECT doc_id, len(toks) AS nw, "
    "chars / greatest(len(toks), 1) AS ml, "
    "len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) "
    "/ greatest(len(toks), 1) AS af, "
    "(hashes + ellipses) / greatest(len(toks), 1) AS sr FROM s) "
    "SELECT doc_id, CAST(nw AS BIGINT) AS n_words, "
    "floor(ml * 1e6) / 1e6 AS mean_word_len, "
    "floor(af * 1e6) / 1e6 AS alpha_word_frac, "
    "nw >= 50 AND nw <= 100000 AS word_count_ok, "
    "nw >= 50 AND nw <= 100000 AND ml >= 3.0 AND ml <= 10.0 "
    "AND af >= 0.8 AND sr < 0.1 AS gopher_pass FROM t"
)


def q_repetition_stats(spark, sf_dir):
    """Repetition removal signals: top-bigram mass fraction and unique-
    word fraction (the duplicate-n-gram family of Gopher/C4 cleaning).
    Bigram counting is explode → map-side-combined groupBy — no
    per-document Python, scale-safe."""
    d = _spread(_docs(spark, sf_dir))
    bg = d.select(
        "doc_id",
        F.explode_outer(ts.bigrams_col(F.col("text"))).alias("bg"),
    ).filter(F.col("bg").isNotNull())
    top = (
        bg.groupBy("doc_id", "bg").agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top"), F.sum("n").alias("total"))
    )
    words = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("nw"),
        F.size(F.array_distinct(F.split("text", " "))).alias("uw"),
    )
    return (
        words.join(top, "doc_id")
        .select(
            "doc_id",
            (F.floor(F.col("top") / F.col("total") * 1e6) / 1e6)
            .alias("top_bigram_frac"),
            (F.floor(F.col("uw") / F.col("nw") * 1e6) / 1e6)
            .alias("uniq_word_frac"),
        )
    )


SQL_REPETITION = (
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks "
    "FROM documents), "
    "bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i + 1] "
    "for i in range(1, len(toks))]) AS b FROM w), "
    "c AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2), "
    "t AS (SELECT doc_id, max(n) AS top, sum(n) AS total FROM c "
    "GROUP BY 1), "
    "s AS (SELECT doc_id, len(toks) AS nw, "
    "len(list_distinct(toks)) AS uw FROM w) "
    "SELECT s.doc_id, floor(top / total * 1e6) / 1e6 "
    "AS top_bigram_frac, floor(CAST(uw AS DOUBLE) / nw * 1e6) / 1e6 "
    "AS uniq_word_frac FROM s JOIN t ON s.doc_id = t.doc_id"
)


def q_line_dedup(spark, sf_dir):
    """Cross-document line deduplication (C4/CCNet-style repeated-line
    removal): split every document into its 10-word lines, count the
    DISTINCT documents each line occurs in corpus-wide, and strip lines
    shared by >= 2 documents, reassembling the survivors in order.

    Scale shape: one explode, a map-side-combinable count-distinct
    keyed on the line, then — the 100-TB detail — only the lines with
    nd >= 2 are joined back (left join; a miss means unique). The dup
    set is a tiny fraction of all distinct lines, so it stays
    broadcast-able long after the full count table wouldn't be; the
    exploded corpus side is never shuffled for the join. All JVM-side,
    no cross join, no Python. Reference analogue: the per-page
    boilerplate stripping (``grid_detector_v1.py:24-85``) lifted to
    corpus scope."""
    d = _spread(_docs(spark, sf_dir))
    lines = d.select(
        "doc_id",
        F.posexplode(chunk_lines_col()).alias("pos", "line"),
    )
    dup = (lines.groupBy("line")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2))
    j = lines.join(dup, "line", "left")
    is_dup = F.col("nd").isNotNull()
    return j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(is_dup.cast("int")).cast("long").alias("n_dup_lines"),
        F.concat_ws("\n", F.transform(
            F.array_sort(F.collect_list(
                F.when(~is_dup, F.struct("pos", "line")))),
            lambda s: s["line"])).alias("cleaned_text"),
    )


SQL_LINE_DEDUP = (
    "WITH d AS (SELECT doc_id, string_split(regexp_replace(text, "
    r"'((?:\S+ ){9}\S+) ', '\1' || chr(10), 'g'), chr(10)) AS l "
    "FROM documents), "
    "lines AS (SELECT doc_id, unnest(l) AS line, "
    "unnest(generate_series(1, len(l))) AS pos FROM d), "
    "c AS (SELECT line, count(DISTINCT doc_id) AS nd FROM lines "
    "GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2), "
    "j AS (SELECT lines.doc_id, lines.pos, lines.line, c.nd "
    "FROM lines LEFT JOIN c USING (line)) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines, "
    "CAST(sum(CASE WHEN nd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_dup_lines, "
    "coalesce(string_agg(CASE WHEN nd IS NULL THEN line END, chr(10) "
    "ORDER BY pos), '') AS cleaned_text "
    "FROM j GROUP BY doc_id"
)


def _planted_pii_col():
    """The Spark twin of ``_SQL_PLANTED_PII``: text + one email, one
    phone and one IPv4, all deterministic from doc_id. Shared by
    q_pii_scrub and q_curate_corpus so the two cannot drift from the
    SQL replica independently."""
    return F.concat(
        F.col("text"),
        F.lit(" reach user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or +1 (555) 010-"),
        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        F.pmod(F.col("doc_id"), 256).cast("string"), F.lit(".7"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII anonymization (CCNet/FineWeb-style): plant one email, one
    IPv4 and one phone number per document (deterministic from doc_id,
    same planting in the oracle), then scrub email → ip → phone with
    typed placeholders and count what was removed. Pure JVM
    regexp_replace chain — codegen'd, no shuffle at all."""
    d = _spread(_docs(spark, sf_dir))
    planted = _planted_pii_col()
    return d.select(
        "doc_id",
        ff.pii_scrub_col(planted).alias("scrubbed"),
        F.size(F.regexp_extract_all(planted, F.lit(ff.EMAIL_PATTERN),
                                    F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(planted, F.lit(ff.IPV4_PATTERN),
                                    F.lit(0)))
        .cast("long").alias("n_ips"),
    )


_SQL_PLANTED_PII = (
    "text || ' reach user' || CAST(doc_id AS VARCHAR) || "
    "'@mail.example.org or +1 (555) 010-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
    "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
)

SQL_PII_SCRUB = (
    "WITH p AS (SELECT doc_id, " + _SQL_PLANTED_PII + " AS t "
    "FROM documents) "
    "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t, "
    r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    r"'\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'), "
    r"'\+?\d{1,3}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}', "
    "'<PHONE>', 'g') AS scrubbed, "
    "CAST(len(regexp_extract_all(t, "
    r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) "
    "AS n_emails, "
    "CAST(len(regexp_extract_all(t, "
    r"'\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips "
    "FROM p"
)


def _curation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (every 7th, +100000) ∪ last-word-dropped
    near copies (every 11th, +200000): the raw pool a curation pipeline
    has to clean."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.regexp_replace("text", r"\s\S+$", "").alias("text"))
    return _spread(d.unionAll(exact).unionAll(near))


CURATION_DOCS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000, text FROM documents "
    "WHERE doc_id % 7 = 0 "
    "UNION ALL SELECT doc_id + 200000, "
    r"regexp_replace(text, '\s\S+$', '') FROM documents "
    "WHERE doc_id % 11 = 0"
)


def q_curate_corpus(spark, sf_dir):
    """The full training-data curation pipeline as ONE dataflow —
    quality gate (Gopher rules) → exact dedup (first capture wins) →
    near-dup removal (MinHash+LSH pairs; drop the higher id) → PII
    scrub — emitting one row per surviving document.

    Scale shape: the gate is a pure filter (pushed to the scan), exact
    dedup is one window over the fingerprint hash (WindowGroupLimit
    pre-prunes rank>1 rows map-side), the near-dup drop set is tiny and
    broadcast for a left-anti join, and the scrub is a codegen'd regexp
    chain — no driver-side step anywhere. The LSH band self-join's
    repeated references to the deduped pool resolve to ONE computation
    via exchange reuse (plan-asserted for minhash_neardup), so
    materializing the pool between stages buys nothing at this scale —
    profiled r4: full query 6.0 s plain vs 5.8/6.3 s with
    localCheckpoint variants, all inside the host's noise band
    (BENCH/EVIDENCE.md); a production run still materializes survivor
    tables between stages for restartability (curation.curate).
    Oracle: the
    DuckDB replica uses the exact n-gram Jaccard pair set, equal to the
    MinHash output under the corpus's 100%-band-recall invariant (see
    q_minhash_neardup)."""
    docs = _curation_docs(spark, sf_dir)
    flags = ts.gopher_flags_cols(F.col("text"))
    gated = docs.filter(flags["gopher_pass"])
    unique = dedup.deduplicate_keep_first(gated)
    pairs = dedup.minhash_near_duplicates(unique, threshold=0.5)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = unique.join(F.broadcast(drop), "doc_id", "left_anti")
    planted = _planted_pii_col()
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.encode(ff.pii_scrub_col(planted), "UTF-8"))
        .alias("fingerprint"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )


SQL_CURATE = (
    f"WITH all_docs AS ({CURATION_DOCS_SQL}), "
    # Gopher gate (same arithmetic as SQL_GOPHER)
    "s AS (SELECT doc_id, text, string_split(text, ' ') AS toks, "
    "length(replace(text, ' ', '')) AS chars, "
    "length(text) - length(replace(text, '#', '')) AS hashes, "
    "(length(text) - length(replace(text, '...', ''))) / 3 AS ellipses "
    "FROM all_docs), "
    "g AS (SELECT doc_id, text, len(toks) AS nw FROM s WHERE "
    "len(toks) >= 50 AND len(toks) <= 100000 "
    "AND chars / greatest(len(toks), 1) >= 3.0 "
    "AND chars / greatest(len(toks), 1) <= 10.0 "
    "AND len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) "
    "/ greatest(len(toks), 1) >= 0.8 "
    "AND (hashes + ellipses) / greatest(len(toks), 1) < 0.1), "
    # exact dedup, first capture wins
    "r AS (SELECT *, row_number() OVER (PARTITION BY md5(text) "
    "ORDER BY doc_id) AS rn FROM g), "
    "u AS (SELECT doc_id, text, nw FROM r WHERE rn = 1), "
    # near-dup pairs: exact n-gram Jaccard (= MinHash under the
    # 100%-recall invariant), drop the higher id of each pair
    "w AS (SELECT doc_id, string_split(text, ' ') AS words FROM u), "
    f"sh AS (SELECT doc_id, unnest({SHINGLE_SQL}) AS shingle FROM w), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
    "pair_inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "count(*) AS inter FROM sh a JOIN sh b ON a.shingle = b.shingle "
    "AND a.doc_id < b.doc_id GROUP BY 1, 2), "
    "dropids AS (SELECT DISTINCT id_b FROM pair_inter "
    "JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b "
    "WHERE inter / (na.n_sh + nb.n_sh - inter) >= 0.5), "
    "kept AS (SELECT * FROM u WHERE doc_id NOT IN "
    "(SELECT id_b FROM dropids)), "
    f"p AS (SELECT doc_id, nw, {_SQL_PLANTED_PII} AS t FROM kept) "
    "SELECT doc_id, md5(regexp_replace(regexp_replace(regexp_replace(t, "
    r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    r"'\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'), "
    r"'\+?\d{1,3}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}', "
    "'<PHONE>', 'g')) AS fingerprint, "
    "CAST(nw AS BIGINT) AS n_tokens FROM p"
)


def q_pack_sequences(spark, sf_dir):
    """Greedy contiguous sequence packing for training batches: within
    each of 16 independent shards (pmod(doc_id)), docs are laid out in
    id order and assigned to the fixed 2048-token window their first
    token falls in. Per-shard windows keep the cumulative sum
    parallel — the global-order variant would funnel everything through
    one partition, which is exactly how NOT to pack at 100 TB; real
    packers work per output shard."""
    from pyspark.sql import Window as W
    d = _docs(spark, sf_dir)
    n = F.size(F.split("text", " ")).cast("long")
    shard = F.pmod(F.col("doc_id"), F.lit(16)).cast("long")
    base = d.select("doc_id", n.alias("n_tokens"), shard.alias("shard"))
    w = (W.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, 0))
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id", "shard", "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 2048).cast("long")
        .alias("seq_id"),
    )


SQL_PACK_SEQUENCES = (
    "WITH b AS (SELECT doc_id, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
    "doc_id % 16 AS shard FROM documents) "
    "SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, "
    "CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
    "/ 2048) AS BIGINT) AS seq_id FROM b"
)


def q_train_val_split(spark, sf_dir):
    """Deterministic content-hash train/val/test assignment (90/5/5):
    the first 4 md5 hex digits of the text, mod 100 — stable across
    engines and runs, no RNG, no shuffle (pure projection). Splitting
    on CONTENT (not id) keeps exact duplicates in the same split, the
    property that prevents train/test leakage."""
    d = _docs(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 4),
               16, 10).cast("long") % 100
    return d.select(
        "doc_id",
        h.alias("h_bucket"),
        F.when(h < 90, "train").when(h < 95, "val")
        .otherwise("test").alias("split"),
    )


SQL_TRAIN_VAL_SPLIT = (
    "WITH h AS (SELECT doc_id, "
    "CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 100 AS hb "
    "FROM documents) "
    "SELECT doc_id, hb AS h_bucket, CASE WHEN hb < 90 THEN 'train' "
    "WHEN hb < 95 THEN 'val' ELSE 'test' END AS split FROM h"
)


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 distinctive terms per doc (tf desc, df asc, term asc —
    integer ranking keys so cross-engine ln() rounding cannot reorder);
    smoothed TF-IDF score emitted rounded (operators/terms.py)."""
    from .operators.terms import tfidf_top_terms
    return tfidf_top_terms(_spread(_docs(spark, sf_dir)), k=3)


SQL_TFIDF = (
    "WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
    "FROM documents), "
    "tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
    "FROM tf GROUP BY 1, 2), "
    "dfc AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df "
    "FROM tfc GROUP BY 1), "
    "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), "
    "r AS (SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df, "
    "row_number() OVER (PARTITION BY tfc.doc_id ORDER BY tfc.tf DESC, "
    "dfc.df ASC, tfc.term ASC) AS rank "
    "FROM tfc JOIN dfc USING (term)) "
    "SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, tf, df, "
    "round(tf * (ln(((SELECT n FROM n) + 1) / (df + 1)) + 1), 6) "
    "AS score FROM r WHERE rank <= 3"
)


def q_chunk_windows(spark, sf_dir):
    """Overlapping context-window chunking (window 32, stride 24):
    long documents split into LM-training windows, map-only array
    expressions (functions/chunking.py)."""
    from .functions.chunking import chunk_windows
    return chunk_windows(_docs(spark, sf_dir), window=32, stride=24)


SQL_CHUNK_WINDOWS = (
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks "
    "FROM documents), "
    "s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st "
    "FROM w) "
    "SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id, "
    "array_to_string(toks[st + 1 : least(st + 32, len(toks))], ' ') "
    "AS text, "
    "CAST(least(32, len(toks) - st) AS BIGINT) AS n_tokens FROM s"
)


def q_corpus_mixture_sample(spark, sf_dir):
    """Deterministic mixture re-weighting (DoReMi/RefinedWeb-style):
    per-language keep rates (en 100%, es 40%, de 20%, zh 5%, si 0%)
    applied as one md5-bucket filter expression — re-runs and resumed
    slices keep exactly the same rows (functions/sampling.py)."""
    d = _docs(spark, sf_dir)
    kept = sampling.stratified_sample(
        d,
        rates_ppm={"en": 1_000_000, "es": 400_000, "de": 200_000,
                   "zh": 50_000},
        stratum_col="lang", key_col="doc_id", seed="mix1",
    )
    return kept.select("doc_id", "lang")


SQL_MIXTURE_SAMPLE = (
    "SELECT doc_id, lang FROM documents WHERE "
    "CAST('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 1000000 < CASE lang WHEN 'en' THEN 1000000 "
    "WHEN 'es' THEN 400000 WHEN 'de' THEN 200000 "
    "WHEN 'zh' THEN 50000 ELSE 0 END"
)


def q_temperature_sample(spark, sf_dir):
    """Temperature sampling (the mT5 multilingual mixture rule): kept
    shares proportional to sqrt(p_lang) — rare languages keep all
    their pages, the English head downsamples. Rates derive from the
    corpus's own lang counts (one bounded aggregate) via correctly-
    rounded ops only (divide/sqrt/floor), so the oracle re-derives the
    identical ppm integers from the same counts; row selection is the
    engine's deterministic md5-bucket filter."""
    d = _docs(spark, sf_dir)
    kept = sampling.temperature_sample(d, "lang", "doc_id",
                                       alpha=0.5, seed="temp1")
    return kept.select("doc_id", "lang")


SQL_TEMPERATURE_SAMPLE = (
    "WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1), "
    "mn AS (SELECT min(n) AS n_min FROM c), "
    "r AS (SELECT c.lang, CAST(floor(1000000 * sqrt(mn.n_min / c.n)) "
    "AS BIGINT) AS ppm FROM c CROSS JOIN mn) "
    "SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang) "
    "WHERE CAST('0x' || substr(md5('temp1' || CAST(doc_id AS VARCHAR)), "
    "1, 8) AS BIGINT) % 1000000 < r.ppm"
)


BADWORD_TERMS = ["slow", "noise", "junk"]


def q_badwords_filter(spark, sf_dir):
    """C4-style term-blocklist gate: drop any document whose tokens
    include a blocklist term (case-insensitive whole-token match — the
    published C4 rule, not substring). One arrays_overlap against a
    broadcast-literal array; compiles to a plain pushed-down filter.
    The demo terms are corpus vocabulary words so the gate provably
    fires; production swaps in the real list."""
    d = _docs(spark, sf_dir)
    return (d.filter(~ts.contains_terms_col(F.col("text"),
                                            BADWORD_TERMS))
            .select("doc_id", "lang"))


SQL_BADWORDS_FILTER = (
    "SELECT doc_id, lang FROM documents WHERE NOT EXISTS ("
    "SELECT 1 FROM unnest(string_split(lower(text), ' ')) AS t(w) "
    "WHERE w IN ('slow', 'noise', 'junk'))"
)


def q_intradoc_line_dedup(spark, sf_dir):
    """Intra-document repeated-line removal (the RefinedWeb in-page
    repetition trim): within EACH document keep only the first
    occurrence of every 10-word line, reassembling in order. The
    window partitions on (doc, line) — per-document keys, never a
    corpus-wide hot key; complements corpus-wide q_line_dedup."""
    from pyspark.sql import Window as W
    d = _docs(spark, sf_dir)
    lines = d.select(
        "doc_id", F.posexplode(chunk_lines_col()).alias("pos", "line"))
    w = W.partitionBy("doc_id", "line").orderBy("pos")
    first = lines.withColumn("__rn", F.row_number().over(w))
    keep = F.col("__rn") == 1
    return first.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum((~keep).cast("int")).cast("long")
        .alias("n_repeated_lines"),
        F.concat_ws("\n", F.transform(
            F.array_sort(F.collect_list(
                F.when(keep, F.struct("pos", "line")))),
            lambda s: s["line"])).alias("cleaned_text"),
    )


SQL_INTRADOC_LINE_DEDUP = (
    f"WITH d AS (SELECT doc_id, string_split({CHUNK_SQL}, chr(10)) "
    "AS l FROM documents), "
    "lines AS (SELECT doc_id, unnest(l) AS line, "
    "unnest(generate_series(1, len(l))) AS pos FROM d), "
    "r AS (SELECT doc_id, pos, line, row_number() OVER "
    "(PARTITION BY doc_id, line ORDER BY pos) AS rn FROM lines) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines, "
    "CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_repeated_lines, "
    "coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) "
    "ORDER BY pos), '') AS cleaned_text "
    "FROM r GROUP BY doc_id"
)


def q_lang_id(spark, sf_dir):
    """Stopword-vote language ID heuristic."""
    d = _spread(_docs(spark, sf_dir))
    return d.select(
        "doc_id", ts.lang_id_col(F.col("text")).alias("lang_pred")
    )


def _lang_score_sql(words: list[str]) -> str:
    lst = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return (
        f"len(list_filter(string_split(lower(text), ' '), "
        f"x -> list_contains({lst}, x)))"
    )


SQL_LANG_ID = (
    "WITH s AS (SELECT doc_id, "
    + ", ".join(
        f"{_lang_score_sql(w)} AS s_{lang}"
        for lang, w in ts.LANG_STOPWORDS.items()
    )
    + " FROM documents) SELECT doc_id, CASE "
    "WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'und' "
    "WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en' "
    "WHEN s_es >= s_de AND s_es >= s_fr THEN 'es' "
    "WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_pred FROM s"
)


def q_skills_match(spark, sf_dir):
    """O49 vocabulary keyword matching, JVM-side."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(ff.skills_col(F.col("text"))).cast("long")
        .alias("n_skills"),
    )


_VOCAB = "[" + ",".join(f"'{v}'" for v in ff.DEFAULT_VOCAB) + "]"
SQL_SKILLS = (
    f"SELECT doc_id, CAST(len(list_filter({_VOCAB}, "
    "s -> contains(lower(text), s))) AS BIGINT) AS n_skills "
    "FROM documents"
)


def q_topk_longest(spark, sf_dir):
    """O37 dataset top-k with total ordering."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .limit(10)
    )


SQL_TOPK_LONGEST = (
    "SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents "
    "ORDER BY n_chars DESC, doc_id LIMIT 10"
)


NGRAM_JACCARD_CAP = 6  # hot-shingle doc-frequency cap (candidate gen only)


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs over planted near-dups, with
    hot-shingle-capped candidate generation (the scale-safe default: a
    shingle in F docs contributes F² join rows, so candidate generation
    skips shingles in > NGRAM_JACCARD_CAP docs; the reported jaccard on
    surviving candidates stays exact). Pairs whose ENTIRE overlap is hot
    shingles — i.e. members of >cap-sized exact-duplicate/boilerplate
    clusters — are intentionally out of this report's semantics (they
    belong to dedup_exact / minhash); the DuckDB oracle mirrors the cap,
    so the contract is well-defined, not best-effort."""
    return dedup.ngram_jaccard_pairs(
        _near_docs(spark, sf_dir), threshold=0.5,
        max_shingle_doc_freq=NGRAM_JACCARD_CAP,
    )


SQL_NGRAM_JACCARD = (
    f"WITH all_docs AS ({NEAR_DOCS_SQL}), "
    "w AS (SELECT doc_id, string_split(text, ' ') AS words FROM all_docs), "
    f"sh AS (SELECT doc_id, unnest({SHINGLE_SQL}) AS shingle FROM w), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
    "pair_inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "  count(*) AS inter FROM sh a JOIN sh b ON a.shingle = b.shingle "
    "  AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT id_a, id_b, floor(inter / (na.n_sh + nb.n_sh - inter) * 1e6) "
    "/ 1e6 AS jaccard "
    "FROM pair_inter JOIN sizes na ON na.doc_id = id_a "
    "JOIN sizes nb ON nb.doc_id = id_b "
    "WHERE inter / (na.n_sh + nb.n_sh - inter) >= 0.5"
)


# capped-candidate-generation mirror of ngram_jaccard_pairs(
# max_shingle_doc_freq=NGRAM_JACCARD_CAP): candidates come only from
# cold shingles; jaccard on candidates is exact over the FULL shingle
# sets. The uncapped SQL_NGRAM_JACCARD above stays the oracle for
# minhash_neardup / dup_clusters (which approximate/consume the full
# pair set).
SQL_NGRAM_JACCARD_CAPPED = (
    f"WITH all_docs AS ({NEAR_DOCS_SQL}), "
    "w AS (SELECT doc_id, string_split(text, ' ') AS words FROM all_docs), "
    f"sh AS (SELECT doc_id, unnest({SHINGLE_SQL}) AS shingle FROM w), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
    "hot AS (SELECT shingle FROM sh GROUP BY 1 "
    f"HAVING count(*) > {NGRAM_JACCARD_CAP}), "
    "cold AS (SELECT * FROM sh WHERE shingle NOT IN "
    "(SELECT shingle FROM hot)), "
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM cold a JOIN cold b ON a.shingle = b.shingle "
    "AND a.doc_id < b.doc_id), "
    "pair_inter AS (SELECT id_a, id_b, count(*) AS inter FROM cand "
    "JOIN sh sa ON sa.doc_id = id_a "
    "JOIN sh sb ON sb.doc_id = id_b AND sa.shingle = sb.shingle "
    "GROUP BY 1, 2) "
    "SELECT id_a, id_b, floor(inter / (na.n_sh + nb.n_sh - inter) * 1e6) "
    "/ 1e6 AS jaccard "
    "FROM pair_inter JOIN sizes na ON na.doc_id = id_a "
    "JOIN sizes nb ON nb.doc_id = id_b "
    "WHERE inter / (na.n_sh + nb.n_sh - inter) >= 0.5"
)


_WINNOW_HASH_SQL = (
    "CAST('0x' || substr(md5(substr({src}, i, 8)), 1, 15) AS BIGINT)"
)


def _winnow_sql(docs_cte: str) -> str:
    """DuckDB replica of winnow_fingerprints_col(k=8, w=4, md5 hash)
    over a CTE named docs(doc_id, text)."""
    gram = _WINNOW_HASH_SQL.format(src="text")
    return (
        f"g AS (SELECT doc_id, [{gram} "
        "for i in range(1, greatest(len(text) - 7, 1) + 1)] AS hs "
        f"FROM {docs_cte}), "
        "m AS (SELECT doc_id, list_sort(list_distinct("
        "[list_min(hs[i:i+3]) for i in "
        "range(1, greatest(len(hs) - 3, 1) + 1)])) AS fps FROM g)"
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing, MOSS scheme):
    char-8-gram hashes → min of each 4-hash window → sorted distinct
    set. Every 5th document, full fingerprint set serialized — the
    oracle recomputes the identical selection in DuckDB via the
    cross-engine md5-60bit gram hash."""
    d = _spread(_docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0))
    fpd = dedup.winnow_fingerprints_df(d)
    return fpd.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.array_join(
            F.transform(F.col("fps"), lambda x: x.cast("string")), ","
        ).alias("fps"),
    )


SQL_WINNOW_FPS = (
    "WITH docs AS (SELECT doc_id, text FROM documents "
    "WHERE doc_id % 5 = 0), "
    + _winnow_sql("docs") +
    " SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, "
    "array_to_string(fps, ',') AS fps FROM m"
)


def q_winnow_overlap(spark, sf_dir):
    """Partial-overlap detection by shared winnowing fingerprints: a
    400-char verbatim slice of every 17th document is spliced into
    fresh surrounding text — set-resemblance (Jaccard/MinHash) barely
    moves, but winnowing guarantees shared fingerprints for any common
    run >= k+w-1 chars. Hot fingerprints capped like hot shingles
    (frequency window); the cap is mirrored in the oracle."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    spliced = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("spliced intro "),
                 F.substring(F.col("text"), 50, 400),
                 F.lit(" spliced outro")).alias("text"),
    )
    wd = _spread(d.unionAll(spliced))
    return dedup.winnow_overlap_pairs(wd, min_shared=2, max_fp_doc_freq=6)


SQL_WINNOW_OVERLAP = (
    "WITH docs AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 500000, "
    "'spliced intro ' || substr(text, 50, 400) || ' spliced outro' "
    "FROM documents WHERE doc_id % 17 = 0), "
    + _winnow_sql("docs") +
    ", f AS (SELECT doc_id, unnest(fps) AS fp FROM m), "
    "cold AS (SELECT * FROM f WHERE fp NOT IN "
    "(SELECT fp FROM f GROUP BY 1 HAVING count(*) > 6)) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(count(*) AS BIGINT) AS shared_fps "
    "FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2 HAVING count(*) >= 2"
)


def _planted_increment(docs):
    """The planted crawl increment BOTH incremental-dedup queries (batch
    + streaming) deliver — one definition because both are checked
    against the single SQL_INCREMENTAL_DEDUP oracle: (recap) re-captures
    of every 9th existing doc, (newer) genuinely new content, and
    (inner_dup) an exact duplicate of each new text under a higher id.
    Returned separately so the streaming query can stage arrivals."""
    recap = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text")
    fresh_txt = F.concat(F.col("text"), F.lit(" fresh"))
    newer = docs.filter(F.col("doc_id") % 9 == 1).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        fresh_txt.alias("text"))
    inner_dup = docs.filter(F.col("doc_id") % 9 == 1).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        fresh_txt.alias("text"))
    return recap, newer, inner_dup


def q_incremental_dedup(spark, sf_dir):
    """Per-crawl incremental dedup: a planted NEW increment carries
    (a) re-captures of every 9th existing doc (must drop — fingerprint
    already ingested), (b) genuinely new content (kept), and (c) an
    exact duplicate of each new text under a higher id (dropped by the
    increment-local keep-first window). The existing corpus contributes
    only its fingerprint column (operators/dedup.incremental_dedup)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recap, newer, inner_dup = _planted_increment(docs)
    increment = recap.unionAll(newer).unionAll(inner_dup)
    # prefix pruning on: the driver verifies the PRUNED plan (identical
    # result by construction; the 100 TB path is the one checked)
    return dedup.incremental_dedup(increment, docs, prune_prefix_len=4)


def q_streaming_incremental_dedup(spark, sf_dir):
    """Streaming form of incremental dedup, oracle-checked on real
    Structured-Streaming machinery: seed the fingerprint store from the
    existing corpus, then deliver the SAME planted increment as
    q_incremental_dedup in two real arrivals — (1) re-captures + fresh
    docs, (2) exact copies of the fresh content under higher ids. Run 2
    resumes the streaming checkpoint and must drop arrival 2 entirely
    via the fingerprint STORE (cross-batch state), not the intra-batch
    window. Final output == the batch operator == SQL_INCREMENTAL_DEDUP.
    """
    import shutil
    from .streaming.stream import (
        run_incremental_dedup_stream,
        seed_fingerprint_store,
    )
    base = scratch_dir("dte_q_sdedup_")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seed_fingerprint_store(docs, f"{base}/fps")
    recap, newer, inner_dup = _planted_increment(docs)
    recap.unionAll(newer).write.mode("overwrite").parquet(f"{base}/in")
    run_incremental_dedup_stream(
        spark, f"{base}/in", f"{base}/fps", f"{base}/out", f"{base}/ck")
    inner_dup.write.mode("append").parquet(f"{base}/in")
    run_incremental_dedup_stream(
        spark, f"{base}/in", f"{base}/fps", f"{base}/out", f"{base}/ck")
    # stream finished: input/checkpoint are dead weight. {base}/out
    # BACKS the returned DataFrame (parquet reads are lazy — the files
    # are read at collection time), so out/ and fps/ must outlive the
    # caller's use of the result; atexit removes them with base.
    shutil.rmtree(f"{base}/in", ignore_errors=True)
    shutil.rmtree(f"{base}/ck", ignore_errors=True)
    return spark.read.parquet(f"{base}/out").select("doc_id", "text")


SQL_INCREMENTAL_DEDUP = (
    "WITH newdocs AS ("
    "SELECT doc_id + 200000 AS doc_id, text FROM documents "
    "WHERE doc_id % 9 = 0 "
    "UNION ALL SELECT doc_id + 300000, text || ' fresh' FROM documents "
    "WHERE doc_id % 9 = 1 "
    "UNION ALL SELECT doc_id + 400000, text || ' fresh' FROM documents "
    "WHERE doc_id % 9 = 1), "
    "fresh AS (SELECT * FROM newdocs WHERE md5(text) NOT IN "
    "(SELECT md5(text) FROM documents)), "
    "r AS (SELECT doc_id, text, row_number() OVER "
    "(PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM fresh) "
    "SELECT doc_id, text FROM r WHERE rn = 1"
)


def q_streaming_neardup_dedup(spark, sf_dir):
    """Streaming NEAR-dup dedup on real Structured-Streaming machinery
    (streaming/neardup.py): MinHash/LSH band state seeded from the
    corpus, then two real availableNow arrivals — (1) exact
    re-captures (rejected via the band store), word-REVERSED fresh
    docs (novel shingle sets — admitted) and same-batch copies of them
    (rejected by the within-batch greedy), (2) more copies of the
    fresh content, dropped via the STORE across a checkpoint-resumed
    run. The oracle enumerates the expected admitted set from the
    plant formulas — exact-copy plants make the greedy semantics
    SQL-derivable (equality is transitive); genuinely-near behavior is
    property-tested in pytest. Spurious LSH rejections would surface
    as missing rows here. r5: the band store is the BUCKETED table
    layout (seed_band_store_table) — candidate joins never shuffle the
    store; only arrivals move (plan-asserted in
    tests/test_streaming_neardup_store.py)."""
    import os
    import shutil

    from .streaming.neardup import (
        run_neardup_dedup_stream,
        seed_band_store_table,
    )
    base = scratch_dir("dte_q_sneardup_")
    tbl = "neardup_store_" + os.path.basename(base).rsplit("_", 1)[-1]
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seed_band_store_table(docs, tbl, n_buckets=8,
                          path=f"{base}/store")
    rev = F.concat_ws(" ", F.reverse(F.split(F.col("text"), " ")))
    recap = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text")
    fresh = docs.filter(F.col("doc_id") % 9 == 1).select(
        (F.col("doc_id") + 300000).alias("doc_id"), rev.alias("text"))
    inner = docs.filter(F.col("doc_id") % 9 == 1).select(
        (F.col("doc_id") + 400000).alias("doc_id"), rev.alias("text"))
    recap.unionAll(fresh).unionAll(inner).write.mode(
        "overwrite").parquet(f"{base}/in")
    run_neardup_dedup_stream(
        spark, f"{base}/in", tbl, f"{base}/out", f"{base}/ck",
        store_buckets=8, store_path=f"{base}/store")
    late = docs.filter(F.col("doc_id") % 9 == 1).select(
        (F.col("doc_id") + 500000).alias("doc_id"), rev.alias("text"))
    late.write.mode("append").parquet(f"{base}/in")
    run_neardup_dedup_stream(
        spark, f"{base}/in", tbl, f"{base}/out", f"{base}/ck",
        store_buckets=8, store_path=f"{base}/store")
    # out/ BACKS the returned (lazy) DataFrame and must outlive it;
    # the store is an EXTERNAL table under the scratch dir (no
    # warehouse-dir dependency) — drop the catalog entry, atexit
    # removes the data with the scratch dir
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(f"{base}/in", ignore_errors=True)
    shutil.rmtree(f"{base}/ck", ignore_errors=True)
    return spark.read.parquet(f"{base}/out").select("doc_id", "text")


SQL_STREAMING_NEARDUP = (
    "SELECT doc_id + 300000 AS doc_id, "
    "array_to_string(list_reverse(string_split(text, ' ')), ' ') "
    "AS text FROM documents WHERE doc_id % 9 = 1"
)


def q_dup_clusters(spark, sf_dir):
    """Connected components over the exact near-dup pair graph:
    (doc_id, cluster_id=min reachable id) for every doc in some pair —
    the transitive-safe grouping production dedup keeps one rep per
    (operators/components.py). Oracle: a DuckDB recursive CTE over the
    same pair set."""
    pairs = dedup.ngram_jaccard_pairs(
        _near_docs(spark, sf_dir), threshold=0.5
    )
    return components.connected_components(pairs)


SQL_DUP_CLUSTERS = (
    f"WITH RECURSIVE pairs AS ({SQL_NGRAM_JACCARD}), "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION ALL SELECT id_b, id_a FROM pairs), "
    "reach(node, r) AS (SELECT src, src FROM edges "
    "UNION SELECT e.src, reach.r FROM edges e "
    "JOIN reach ON e.dst = reach.node) "
    "SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id "
    "FROM reach GROUP BY 1"
)


def q_cluster_dedup_count(spark, sf_dir):
    """The cluster-dedup *transform* summarized: survivors after
    keeping one representative per duplicate cluster (min id), plus
    total surviving chars — the aggregate keeps the oracle row stable."""
    docs = _near_docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    kept = components.keep_cluster_representative(docs, pairs)
    return kept.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


SQL_CLUSTER_DEDUP = (
    f"WITH RECURSIVE all_docs AS ({NEAR_DOCS_SQL}), "
    f"pairs AS ({SQL_NGRAM_JACCARD}), "
    "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION ALL SELECT id_b, id_a FROM pairs), "
    "reach(node, r) AS (SELECT src, src FROM edges "
    "UNION SELECT e.src, reach.r FROM edges e "
    "JOIN reach ON e.dst = reach.node), "
    "comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1) "
    "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(length(text)) AS BIGINT) AS total_chars FROM all_docs "
    "WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> cluster_id)"
)


def q_minhash_neardup(spark, sf_dir):
    """MinHash+LSH near-dup. Oracle: the exact n-gram Jaccard pair set
    at the same threshold — the LSH verification step computes exact
    Jaccard on candidates, so the outputs are equal whenever band recall
    is 100%, which holds on this corpus (planted near-dups at
    jaccard≈0.9 agree on essentially every band; verified empirically at
    sf0.001 and sf0.01 and guarded by the pytest recall test)."""
    return dedup.minhash_near_duplicates(
        _near_docs(spark, sf_dir), threshold=0.5
    )


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup over planted near-dups. With bands=4 >
    max_hamming=3 the band pre-filter is complete (pigeonhole), so the
    output is exactly every pair at Hamming<=3 — which the DuckDB
    oracle recomputes bit-for-bit using the cross-engine md5-based
    token hash."""
    out = dedup.simhash_near_duplicates(_near_docs(spark, sf_dir))
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _simhash_sql() -> str:
    """DuckDB replica of the simhash pipeline (md5-60bit token hash)."""
    bits = dedup.SIMHASH_BITS
    votes = ", ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    acc = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(bits)
    )
    return (
        f"WITH all_docs AS ({NEAR_DOCS_SQL}), "
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t "
        "FROM all_docs), "
        "th AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)"
        " AS h FROM tok), "
        f"votes AS (SELECT doc_id, {votes} FROM th GROUP BY 1), "
        f"sh AS (SELECT doc_id, {acc} AS simhash FROM votes) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    )


SQL_SIMHASH = _simhash_sql()

# ---------------------------------------------------------------------------
# events: sessionization / windows (O25, O28, O34 analogues)
# ---------------------------------------------------------------------------

def q_asof_last_signup(spark, sf_dir):
    """Backward as-of join (operators/asof.py): every purchase event
    matched to the same user's most recent signup at or before the
    purchase time — the point-in-time join DuckDB validates natively
    with ASOF LEFT JOIN. event_id is the tie-break so equal-timestamp
    right rows resolve deterministically in both engines."""
    from .operators.asof import asof_join
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts")
    j = asof_join(purchases, signups, key_col="user_id",
                  tiebreak_col="event_id")
    return j.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.coalesce(F.col("event_id_asof"), F.lit(-1)).cast("long")
        .alias("signup_event_id"),
        F.coalesce(
            F.unix_micros(F.col("ts_asof").cast("timestamp")),
            F.lit(-1)).cast("long").alias("signup_ts_us"),
    )


SQL_ASOF_SIGNUP = (
    "WITH p AS (SELECT event_id, user_id, ts FROM events "
    "WHERE event_type = 'purchase'), "
    "s AS (SELECT event_id, user_id, ts FROM events "
    "WHERE event_type = 'signup') "
    "SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, "
    "CAST(coalesce(s.event_id, -1) AS BIGINT) AS signup_event_id, "
    "CAST(coalesce(epoch_us(s.ts), -1) AS BIGINT) AS signup_ts_us "
    "FROM p ASOF LEFT JOIN s "
    "ON p.user_id = s.user_id AND p.ts >= s.ts"
)


_RJ_HOUR_US = 3_600_000_000
_RJ_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def q_range_join_windows(spark, sf_dir):
    """Interval-containment (range) join via the banding trick
    (operators/asof.range_join): every event matched into planted
    per-user maintenance windows (3 irregular intervals per user,
    17h-stepped starts, widths 20/40/60h). The equi-join on
    (user, time-bin) + exact predicate replaces the
    BroadcastNestedLoop plan a raw inequality join would get; the
    oracle recomputes the pair set with a plain range-predicate join
    in DuckDB."""
    from .operators.asof import range_join
    ev = _events(spark, sf_dir)
    pts = ev.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"))
    users = pts.select("user_id").distinct()
    k = F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k")
    ivs = users.select("user_id", k)
    start = (F.lit(_RJ_BASE_US)
             + ((F.col("user_id") % 29) * 17 + F.col("k") * 160)
             * _RJ_HOUR_US)
    ivs = ivs.select(
        "user_id", F.col("k").cast("long").alias("interval_id"),
        start.cast("long").alias("start_us"),
        (start + (F.col("k") + 1) * 20 * _RJ_HOUR_US).cast("long")
        .alias("end_us"))
    j = range_join(pts, ivs, "t_us", "start_us", "end_us",
                   key_cols=["user_id"],
                   bin_size=float(20 * _RJ_HOUR_US))
    return j.select("event_id", "user_id", "interval_id")


SQL_RANGE_JOIN = (
    "WITH pts AS (SELECT event_id, user_id, epoch_us(ts) AS t_us "
    "FROM events), "
    "u AS (SELECT DISTINCT user_id FROM pts), "
    f"iv AS (SELECT user_id, k AS interval_id, "
    f"{_RJ_BASE_US} + ((user_id % 29) * 17 + k * 160) * {_RJ_HOUR_US} "
    "AS start_us, "
    f"{_RJ_BASE_US} + ((user_id % 29) * 17 + k * 160) * {_RJ_HOUR_US} "
    f"+ (k + 1) * 20 * {_RJ_HOUR_US} AS end_us "
    "FROM u CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)) "
    "SELECT p.event_id, p.user_id, CAST(iv.interval_id AS BIGINT) "
    "AS interval_id "
    "FROM pts p JOIN iv ON p.user_id = iv.user_id "
    "AND iv.start_us <= p.t_us AND p.t_us < iv.end_us"
)


def q_hypertable_rollup(spark, sf_dir):
    """Multi-resolution continuous aggregate (operators/rollup.py):
    hourly buckets from raw events, daily buckets RE-AGGREGATED from
    the hourly level (never rescanning raw — the hypertable property).
    Output is the union of both levels tagged by resolution; the
    oracle computes each level straight from raw events, which must be
    identical because count/sum/min/max re-aggregate exactly (sums in
    integer cents, so no float-order drift)."""
    from .operators.rollup import hypertable_rollup
    ev = _events(spark, sf_dir)
    levels = hypertable_rollup(ev, resolutions=(3600, 86400))
    tagged = [
        df.select(F.lit(r).cast("long").alias("resolution_s"), "*")
        for r, df in levels.items()
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


SQL_HYPERTABLE = (
    "SELECT CAST(r AS BIGINT) AS resolution_s, "
    "CAST(floor(epoch(ts) / r) * r AS BIGINT) AS bucket_start_s, "
    "event_type, CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) "
    "AS total_value, "
    "CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) "
    "AS min_value, "
    "CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) "
    "AS max_value "
    "FROM events CROSS JOIN (SELECT unnest([3600, 86400]) AS r) "
    "GROUP BY 1, 2, 3"
)


def q_sessions_per_user(spark, sf_dir):
    """O25 gaps-and-islands: sessions with 10-minute inactivity gap."""
    e = _events(spark, sf_dir)
    return user_session_counts(e, gap_seconds=600).select(
        "user_id",
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.col("n_events").cast("long").alias("n_events"),
    )


SQL_SESSIONS = (
    "WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events), "
    "d AS (SELECT user_id, us, lag(us) OVER "
    "  (PARTITION BY user_id ORDER BY us) AS prev FROM t) "
    "SELECT user_id, CAST(sum(CASE WHEN prev IS NULL "
    "OR us - prev > 600000000 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_sessions, CAST(count(*) AS BIGINT) AS n_events "
    "FROM d GROUP BY 1"
)


def q_running_value(spark, sf_dir):
    """O28 prefix sums: running total of value per user over time.

    Computed in integer cents: double window sums are NOT bit-stable
    across engines (DuckDB aggregates windows via segment trees — a
    different association order than Spark's sequential fold), so the
    comparable form is exact integer arithmetic.
    """
    e = _events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    r = running_sum(e, "user_id", ["ts", "event_id"], "cents")
    return r.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("running").cast("long").alias("running_cents"),
    )


SQL_RUNNING = (
    "SELECT user_id, CAST(event_id AS BIGINT) AS event_id, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS running_cents FROM events"
)


def q_status_cube(spark, sf_dir):
    """Metrics rollup with CUBE over (route, status) — subtotals at
    every grouping level (nulls coalesced to 'ALL' so the cross-engine
    compare never depends on null ordering)."""
    out = _extracted(spark, sf_dir)
    return (
        out.cube(F.col("lineage.route").alias("route"),
                 F.col("lineage.status").alias("status"))
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            F.coalesce("route", F.lit("ALL")).alias("route"),
            F.coalesce("status", F.lit("ALL")).alias("status"),
            "n_docs",
        )
    )


SQL_STATUS_CUBE = (
    f"SELECT coalesce(r, 'ALL') AS route, coalesce(s, 'ALL') AS status, "
    "CAST(count(*) AS BIGINT) AS n_docs FROM ("
    f"SELECT {ROUTE_SQL} AS r, {STATUS_SQL} AS s FROM documents) "
    "GROUP BY CUBE (r, s)"
)


def q_first_event_per_day(spark, sf_dir):
    """Keep-first dedup by (user, day): row_number over a total order —
    the standard crawl-dedup 'first capture wins' pattern."""
    from pyspark.sql import Window as W
    e = _events(spark, sf_dir).withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
    w = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "day",
                F.col("event_id").cast("long").alias("event_id"))
    )


SQL_FIRST_EVENT = (
    "WITH r AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, "
    "event_id, row_number() OVER (PARTITION BY user_id, "
    "strftime(ts, '%Y-%m-%d') ORDER BY ts, event_id) AS rn FROM events) "
    "SELECT user_id, day, CAST(event_id AS BIGINT) AS event_id "
    "FROM r WHERE rn = 1"
)


def q_moving_avg(spark, sf_dir):
    """O23 windowed smoothing (box blur analogue): centered 5-row moving
    average of value per user. Integer cents + exact rational division
    keep it bit-stable across engines."""
    from pyspark.sql import Window as W
    e = _events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-2, 2))
    ma = F.sum("cents").over(w) / F.count("cents").over(w)
    return e.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        (F.floor(ma * 1e4) / 1e4).alias("smoothed_cents"),
    )


SQL_MOVING_AVG = (
    "WITH c AS (SELECT user_id, event_id, ts, "
    "CAST(round(value * 100) AS BIGINT) AS cents FROM events) "
    "SELECT user_id, CAST(event_id AS BIGINT) AS event_id, "
    "floor(CAST(sum(cents) OVER w AS DOUBLE) / count(cents) OVER w * 1e4)"
    " / 1e4 AS smoothed_cents FROM c "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)"
)


def q_user_event_types(spark, sf_dir):
    """O30/O40 distinct-merge: sorted distinct event types per user,
    joined to one string (array hashing differs across engines; the
    joined string is canonical)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id")
        .agg(F.array_join(
            F.array_sort(F.collect_set("event_type")), ","
        ).alias("types"))
    )


SQL_USER_EVENT_TYPES = (
    "SELECT user_id, string_agg(DISTINCT event_type, ',' "
    "ORDER BY event_type) AS types FROM events GROUP BY user_id"
)


def q_event_mode(spark, sf_dir):
    """O34 deterministic mode: most frequent event_type per user."""
    e = _events(spark, sf_dir)
    return mode_by(e, "user_id", "event_type").select(
        "user_id", "mode_value",
        F.col("mode_count").cast("long").alias("mode_count"),
    )


SQL_EVENT_MODE = (
    "WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events "
    "GROUP BY 1, 2), r AS (SELECT user_id, event_type, n, row_number() "
    "OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn "
    "FROM c) SELECT user_id, event_type AS mode_value, "
    "CAST(n AS BIGINT) AS mode_count FROM r WHERE rn = 1"
)

# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

# embedding dimension of the driver's testdata tables (fixed across
# sf0.001/sf0.01/sf0.1; needed to build hyperplane literals without a
# driver-side job)
EMB_DIM = 64


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding — fully
    declarative: the query row is a broadcast join side, no driver-side
    vector fetch."""
    emb = _embeddings(spark, sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0)
    return similarity.cosine_topk_join(emb, qdf, k=10)


SQL_ANN_TOPK = (
    "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings "
    "WHERE vec_id = 0), s AS (SELECT e.vec_id, "
    "list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) / "
    "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), "
    "CAST(e.embedding AS DOUBLE[]))) * sqrt(list_dot_product(q.qe, q.qe)))"
    " AS cos FROM embeddings e CROSS JOIN q) "
    "SELECT vec_id, floor(cos * 1e4) / 1e4 AS cosine FROM s "
    "ORDER BY cos DESC, vec_id LIMIT 10"
)


def q_ann_ivf_trained(spark, sf_dir):
    """IVF top-10 with a TRAINED codebook (VERDICT r4 #7): a
    deterministic sample-trained KMeans (operators/kmeans.py — Lloyd's
    on vec_id<256, k=8, 2 iterations, floor-quantized centroids each
    step) quantizes the corpus map-only (ivf_assign_col), then the 4
    nearest inverted lists are probed and exactly re-ranked. The
    oracle UNROLLS the training: two assign→mean→floor CTE rounds from
    the same init, then the same probe + re-rank — so a single
    centroid drifting by one quantum would hash-mismatch."""
    from .operators import kmeans as km
    emb = _embeddings(spark, sf_dir)
    cb = km.train_codebook(emb, k=8, iters=2, sample_max_id=256)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    indexed = emb.withColumn(
        "list_id", similarity.ivf_assign_col(cb, F.col("embedding")))
    return similarity.ivf_topk(indexed, cb, qvec, k=10, n_probe=4)


SQL_ANN_IVF_TRAINED = (
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings), "
    "s AS (SELECT vec_id, e FROM v WHERE vec_id < 256), "
    "sv AS (SELECT vec_id, unnest(e) AS val, "
    "unnest(generate_series(1, len(e))) AS pos FROM s), "
    "c0 AS (SELECT vec_id AS cid, e AS ce FROM s WHERE vec_id < 8), "
    "a1 AS (SELECT s.vec_id, c0.cid, row_number() OVER "
    "(PARTITION BY s.vec_id ORDER BY list_dot_product(c0.ce, c0.ce) "
    "- 2 * list_dot_product(s.e, c0.ce), c0.cid) AS rn "
    "FROM s CROSS JOIN c0), "
    "p1 AS (SELECT a1.cid, sv.pos, "
    "floor(avg(sv.val) * 1e6) / 1e6 AS av "
    "FROM a1 JOIN sv USING (vec_id) WHERE a1.rn = 1 GROUP BY 1, 2), "
    "c1 AS (SELECT cid, list(av ORDER BY pos) AS ce FROM p1 "
    "GROUP BY cid), "
    "a2 AS (SELECT s.vec_id, c1.cid, row_number() OVER "
    "(PARTITION BY s.vec_id ORDER BY list_dot_product(c1.ce, c1.ce) "
    "- 2 * list_dot_product(s.e, c1.ce), c1.cid) AS rn "
    "FROM s CROSS JOIN c1), "
    "p2 AS (SELECT a2.cid, sv.pos, "
    "floor(avg(sv.val) * 1e6) / 1e6 AS av "
    "FROM a2 JOIN sv USING (vec_id) WHERE a2.rn = 1 GROUP BY 1, 2), "
    "c2 AS (SELECT cid, list(av ORDER BY pos) AS ce FROM p2 "
    "GROUP BY cid), "
    "q AS (SELECT e AS qe FROM v WHERE vec_id = 0), "
    "probe AS (SELECT cid FROM (SELECT c2.cid, row_number() OVER "
    "(ORDER BY list_dot_product(c2.ce, c2.ce) - 2 * "
    "list_dot_product(q.qe, c2.ce), c2.cid) AS rn "
    "FROM c2 CROSS JOIN q) WHERE rn <= 4), "
    "af AS (SELECT v.vec_id, c2.cid, row_number() OVER "
    "(PARTITION BY v.vec_id ORDER BY list_dot_product(c2.ce, c2.ce) "
    "- 2 * list_dot_product(v.e, c2.ce), c2.cid) AS rn "
    "FROM v CROSS JOIN c2), "
    "cand AS (SELECT v.vec_id, v.e FROM v "
    "JOIN af ON af.vec_id = v.vec_id AND af.rn = 1 "
    "JOIN probe ON probe.cid = af.cid), "
    "sc AS (SELECT cand.vec_id, list_dot_product(cand.e, q.qe) / "
    "(sqrt(list_dot_product(cand.e, cand.e)) * "
    "sqrt(list_dot_product(q.qe, q.qe))) AS cos "
    "FROM cand CROSS JOIN q) "
    "SELECT vec_id, floor(cos * 1e4) / 1e4 AS cosine FROM sc "
    "ORDER BY cos DESC, vec_id LIMIT 10"
)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup over planted duplicates (every 13th
    vector re-scaled by 1.001 — same direction, cosine 1.0). Oracle: the
    exact all-pairs cosine>=threshold set (the LSH bucket pre-filter is
    exact for same-direction vectors: identical sign pattern). The pair
    ids are compared, not the cosine value — planted pairs sit exactly
    at cos≈1.0 where a 1-ulp engine difference would flip the 1e-4
    floor bucket."""
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    extra = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias(
            "embedding"),
    )
    out = similarity.embedding_near_duplicates(
        emb.unionAll(extra), threshold=0.95
    )
    return out.select("id_a", "id_b")


SQL_EMB_NEARDUP = (
    "WITH all_vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings UNION ALL SELECT vec_id + 100000 AS vec_id, "
    "list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001) AS e "
    "FROM embeddings WHERE vec_id % 13 = 0), "
    "n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm "
    "FROM all_vecs) "
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b "
    "FROM n a JOIN n b ON a.vec_id < b.vec_id "
    "WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.95"
)


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-10, fully declarative (query bucket
    + Hamming<=2 probe neighborhood as a broadcast join side). Oracle:
    a DuckDB replica of the SAME approximate semantics — identical
    literal hyperplanes, bucket assignment, probe set and exact re-rank
    — i.e. the oracle checks the operator's defined output, not a
    hoped-for recall (on random embeddings the true top-k legitimately
    spans unprobed buckets)."""
    emb = _embeddings(spark, sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0)
    return similarity.ann_lsh_topk_join(emb, qdf, k=10, n_planes=8,
                                        hamming_probe=2, dim=EMB_DIM)


def _ann_lsh_sql(n_planes: int = 8, hamming_probe: int = 2) -> str:
    """DuckDB replica of the LSH probe plan with the same literal
    hyperplanes (md5-derived, so both engines see identical doubles)."""
    planes = similarity._planes(EMB_DIM, n_planes)
    plane_rows = ", ".join(
        "(%d, [%s])" % (p, ", ".join(repr(c) for c in plane))
        for p, plane in enumerate(planes)
    )
    masks = similarity._probe_masks(n_planes, hamming_probe)
    mask_rows = ", ".join(f"({m})" for m in masks)
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
        "FROM embeddings), "
        f"pl AS (SELECT * FROM (VALUES {plane_rows}) AS t(p, plane)), "
        "b AS (SELECT e.vec_id, CAST(sum(CASE WHEN "
        "list_dot_product(e.e, pl.plane) > 0 THEN (1::BIGINT << pl.p) "
        "ELSE 0::BIGINT END) AS BIGINT) AS bucket "
        "FROM e CROSS JOIN pl GROUP BY 1), "
        "q AS (SELECT e.e AS qe, b.bucket AS qb FROM e "
        "JOIN b USING (vec_id) WHERE vec_id = 0), "
        f"m AS (SELECT * FROM (VALUES {mask_rows}) AS t(mask)), "
        "probes AS (SELECT DISTINCT xor(q.qb, m.mask) AS bucket "
        "FROM q CROSS JOIN m), "
        "cand AS (SELECT e.vec_id, e.e FROM e JOIN b USING (vec_id) "
        "JOIN probes USING (bucket)), "
        "s AS (SELECT cand.vec_id, list_dot_product(cand.e, q.qe) / "
        "(sqrt(list_dot_product(cand.e, cand.e)) * "
        "sqrt(list_dot_product(q.qe, q.qe))) AS cos "
        "FROM cand CROSS JOIN q) "
        "SELECT vec_id, floor(cos * 1e4) / 1e4 AS cosine FROM s "
        "ORDER BY cos DESC, vec_id LIMIT 10"
    )


SQL_ANN_LSH = _ann_lsh_sql()


def q_ann_ivf_topk(spark, sf_dir):
    """IVF top-10 with a deterministic fixed codebook (vec_id<16 as
    centroids), probing the 4 nearest inverted lists. Oracle: a DuckDB
    replica of the same assignment + probe + exact re-rank."""
    emb = _embeddings(spark, sf_dir)
    return similarity.ivf_fixed_topk(emb, k=10, n_lists=16, n_probe=4)


SQL_ANN_IVF = (
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings), "
    "c AS (SELECT vec_id AS list_id, e AS ce, list_dot_product(e, e) AS cn2 "
    "FROM v WHERE vec_id < 16), "
    "a AS (SELECT v.vec_id, c.list_id, row_number() OVER "
    "(PARTITION BY v.vec_id ORDER BY c.cn2 - 2 * "
    "list_dot_product(v.e, c.ce), c.list_id) AS rn FROM v CROSS JOIN c), "
    "assigned AS (SELECT vec_id, list_id FROM a WHERE rn = 1), "
    "probe AS (SELECT list_id FROM a WHERE vec_id = 0 AND rn <= 4), "
    "q AS (SELECT e AS qe FROM v WHERE vec_id = 0), "
    "cand AS (SELECT v.vec_id, v.e FROM v JOIN assigned USING (vec_id) "
    "JOIN probe USING (list_id)), "
    "s AS (SELECT cand.vec_id, list_dot_product(cand.e, q.qe) / "
    "(sqrt(list_dot_product(cand.e, cand.e)) * "
    "sqrt(list_dot_product(q.qe, q.qe))) AS cos FROM cand CROSS JOIN q) "
    "SELECT vec_id, floor(cos * 1e4) / 1e4 AS cosine FROM s "
    "ORDER BY cos DESC, vec_id LIMIT 10"
)

def _host_col_of(expr) -> F.Column:
    """Spark mirror of ``corpus.host_for`` over an arbitrary numeric
    column (cubic inverse-CDF over 50 hosts). Boundary-safe across
    engines: 50*(k/1000)^3 is never closer than 5e-8 to a non-zero
    integer, so libm ULP differences cannot flip the floor."""
    idx = F.least(
        F.lit(49),
        F.floor(F.lit(50) * F.pow((expr % 1000) / F.lit(1000.0),
                                  F.lit(3.0)))).cast("int")
    return F.concat(F.lit("site"), F.lpad(idx.cast("string"), 2, "0"),
                    F.lit(".example.org"))


_PR_ITERS = 10
_PR_DAMPING = 0.85


def q_host_pagerank(spark, sf_dir):
    """Damped PageRank over a deterministic host graph (src = the doc's
    host, dst = host of ``doc_id*31+7``), 10 iterations — the
    link-centrality quality prior (Common-Crawl-style host ranking)
    computed with the iterative-join pattern of operators/graphrank.py.
    Ranks floor-scale to 6 decimals (the module's float-comparison
    convention) so cross-engine float-sum noise cannot flip the
    comparison via differing round-half rules."""
    from .operators.graphrank import pagerank
    d = _docs(spark, sf_dir)
    edges = (
        d.select(
            _host_col_of(F.col("doc_id")).alias("src"),
            _host_col_of(F.col("doc_id") * 31 + 7).alias("dst"))
        .groupBy("src", "dst").agg(F.count("*").alias("w"))
    )
    pr = pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMPING,
                  weight="w")
    return pr.select(
        "node", (F.floor(F.col("rank") * 1e6) / 1e6).alias("rank"))


def _pagerank_sql() -> str:
    hs_src = _host_sql_of("doc_id")
    hs_dst = _host_sql_of("doc_id * 31 + 7")
    d = _PR_DAMPING
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and r{k} is referenced twice by round k+1 — inlining
    # would re-evaluate the whole chain 2^k times
    parts = [
        f"WITH e0 AS MATERIALIZED (SELECT {hs_src} AS src, "
        f"{hs_dst} AS dst, "
        "CAST(count(*) AS DOUBLE) AS w FROM documents GROUP BY 1, 2), "
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)), "
        "nn AS MATERIALIZED "
        "(SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), "
        "outw AS MATERIALIZED "
        "(SELECT src, sum(w) AS ow FROM e0 GROUP BY 1), "
        "trans AS MATERIALIZED (SELECT e0.src, e0.dst, "
        "e0.w / outw.ow AS p FROM e0 JOIN outw USING (src)), "
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) "
        "AS rank FROM nodes)"
    ]
    for k in range(_PR_ITERS):
        parts.append(
            f", d{k} AS MATERIALIZED (SELECT coalesce(sum(rank), 0) "
            f"AS dm FROM r{k} "
            "WHERE node NOT IN (SELECT src FROM trans))"
            f", r{k + 1} AS MATERIALIZED (SELECT nodes.node, "
            f"({1.0 - d} / (SELECT n FROM nn)) + {d} * "
            "(coalesce(c.inflow, 0) + "
            f"(SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS rank "
            "FROM nodes LEFT JOIN (SELECT t.dst AS node, "
            f"sum(r.rank * t.p) AS inflow FROM trans t JOIN r{k} r "
            "ON t.src = r.node GROUP BY 1) c ON nodes.node = c.node)"
        )
    parts.append(
        f" SELECT node, floor(rank * 1e6) / 1e6 AS rank FROM r{_PR_ITERS}")
    return "".join(parts)


SQL_HOST_PAGERANK = _pagerank_sql()

_HITS_ITERS = 5


def q_host_hits(spark, sf_dir):
    """HITS hubs/authorities over the same deterministic host graph as
    ``host_pagerank`` (src = doc's host, dst = host of doc_id*31+7),
    5 mutual-update rounds with L2 normalization per half-step
    (operators/graphrank.hits) — the crawl-seeding complement of
    PageRank: hubs rank pages whose OUTLINKS deserve frontier
    priority. Scores floor-scale to 6 decimals (module convention:
    cross-engine float-sum noise cannot flip a round-half rule)."""
    from .operators.graphrank import hits
    d = _docs(spark, sf_dir)
    edges = (
        d.select(
            _host_col_of(F.col("doc_id")).alias("src"),
            _host_col_of(F.col("doc_id") * 31 + 7).alias("dst"))
        .groupBy("src", "dst").agg(F.count("*").alias("w"))
    )
    hs = hits(edges, iterations=_HITS_ITERS, weight="w")
    return hs.select(
        "node",
        (F.floor(F.col("hub") * 1e6) / 1e6).alias("hub"),
        (F.floor(F.col("authority") * 1e6) / 1e6).alias("authority"))


def _hits_sql() -> str:
    hs_src = _host_sql_of("doc_id")
    hs_dst = _host_sql_of("doc_id * 31 + 7")
    # MATERIALIZED for the same reason as _pagerank_sql: each round
    # references the previous twice — plain CTE inlining would blow up
    # exponentially
    parts = [
        f"WITH e0 AS MATERIALIZED (SELECT {hs_src} AS src, "
        f"{hs_dst} AS dst, "
        "CAST(count(*) AS DOUBLE) AS w FROM documents GROUP BY 1, 2), "
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)), "
        "s0 AS MATERIALIZED "
        "(SELECT node, 1.0 AS hub, 1.0 AS authority FROM nodes)"
    ]
    for k in range(_HITS_ITERS):
        parts.append(
            f", ar{k} AS MATERIALIZED (SELECT nodes.node, "
            "coalesce(c.a, 0) AS a FROM nodes LEFT JOIN "
            f"(SELECT e0.dst AS node, sum(e0.w * s.hub) AS a "
            f"FROM e0 JOIN s{k} s ON e0.src = s.node GROUP BY 1) c "
            "ON nodes.node = c.node)"
            f", an{k} AS MATERIALIZED "
            f"(SELECT sqrt(sum(a * a)) AS nv FROM ar{k})"
            f", au{k} AS MATERIALIZED (SELECT node, "
            f"a / (SELECT nv FROM an{k}) AS authority FROM ar{k})"
            f", hr{k} AS MATERIALIZED (SELECT nodes.node, "
            "coalesce(c.h, 0) AS h FROM nodes LEFT JOIN "
            f"(SELECT e0.src AS node, sum(e0.w * au.authority) AS h "
            f"FROM e0 JOIN au{k} au ON e0.dst = au.node GROUP BY 1) c "
            "ON nodes.node = c.node)"
            f", hn{k} AS MATERIALIZED "
            f"(SELECT sqrt(sum(h * h)) AS nv FROM hr{k})"
            f", s{k + 1} AS MATERIALIZED (SELECT hr.node, "
            f"hr.h / (SELECT nv FROM hn{k}) AS hub, au.authority "
            f"FROM hr{k} hr JOIN au{k} au ON hr.node = au.node)"
        )
    parts.append(
        " SELECT node, floor(hub * 1e6) / 1e6 AS hub, "
        f"floor(authority * 1e6) / 1e6 AS authority FROM s{_HITS_ITERS}")
    return "".join(parts)


SQL_HOST_HITS = _hits_sql()

# exotic hosts planted alongside the corpus hosts to exercise every
# registrable-domain branch: two-level public suffix (+case, trailing
# dot), deep subdomain, IPv4 literal, single label, suffix-domain
# sibling subdomains that must COLLAPSE to one registrable domain
_PLD_PROBES = (
    "www.BBC.co.uk.", "news.bbc.co.uk", "a.b.example.com",
    "1.2.3.4.", "localhost", "x.com.au", "static.x.com.au",
    "images.x.com.au",
)


def q_registrable_domains(spark, sf_dir):
    """Registrable-domain (pay-level-domain) grouping
    (fn/urls.registrable_domain_col): the granularity quotas,
    blocklists, and per-site dedup should key on — subdomains of one
    publisher collapse (news.bbc.co.uk + www.bbc.co.uk → bbc.co.uk)
    while a two-level public suffix is never itself a domain. Corpus
    hosts plus planted exotic probes, grouped by domain with row and
    distinct-host counts; the oracle uses the SQL mirror generated
    from the same suffix tuple."""
    from .functions import urls as U
    hosts = _docs(spark, sf_dir).select(
        _host_col_of(F.col("doc_id")).alias("host"))
    extra = spark.createDataFrame([(h,) for h in _PLD_PROBES],
                                  "host string")
    allh = hosts.unionAll(extra)
    return (allh.groupBy(
        U.registrable_domain_col(F.col("host")).alias("domain"))
        .agg(F.count("*").cast("long").alias("n_rows"),
             F.countDistinct("host").alias("n_hosts")))


def _pld_sql() -> str:
    from .functions.urls import REGISTRABLE_DOMAIN_SQL
    probes = ", ".join(f"('{h}')" for h in _PLD_PROBES)
    return (
        f"WITH hosts AS (SELECT {HOST_SQL} AS host FROM documents "
        f"UNION ALL SELECT host FROM (VALUES {probes}) t(host)) "
        f"SELECT {REGISTRABLE_DOMAIN_SQL} AS domain, "
        "CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(count(DISTINCT host) AS BIGINT) AS n_hosts "
        "FROM hosts GROUP BY 1"
    )


SQL_REGISTRABLE_DOMAINS = _pld_sql()


def q_robots_noindex(spark, sf_dir):
    """Crawl-directive hygiene: documents whose <meta name=robots>
    carries noindex must be excluded from the training corpus. The
    directive is collected in the single extraction pass
    (fields.meta_robots); the filter is one pushed-down expression.
    Output: per-host counts of indexable vs noindex pages."""
    out = _extracted(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        out.filter((F.col("lineage.route") == "html")
                   & (F.col("lineage.status") == "ok"))
        .groupBy(host.alias("host"))
        .agg(
            F.sum((~F.col("fields.meta_robots").contains("noindex"))
                  .cast("long")).alias("n_indexable"),
            F.sum(F.col("fields.meta_robots").contains("noindex")
                  .cast("long")).alias("n_noindex"),
        )
    )


SQL_ROBOTS_NOINDEX = (
    f"SELECT {HOST_SQL} AS host, "
    "CAST(sum(CASE WHEN doc_id % 16 = 6 THEN 0 ELSE 1 END) AS BIGINT) "
    "AS n_indexable, "
    "CAST(sum(CASE WHEN doc_id % 16 = 6 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_noindex "
    "FROM documents WHERE doc_id % 20 < 14 AND doc_id % 20 <> 12 "
    "GROUP BY 1"
)


def q_link_graph(spark, sf_dir):
    """Host-level link graph from the extraction output: explode
    ``fields.outlinks`` (raw <a href> values collected in the single
    extraction pass), resolve each against its page url with the JVM
    expression ``urls.resolve_href_col``, aggregate edge counts by
    (src_host, dst_host). Expected shape on the synthetic corpus: every
    HTML page carries 23 relative links (nav/aside/footer → its own
    host) and one absolute ad link (→ ads.example.com)."""
    from .functions import urls as U
    out = _extracted(spark, sf_dir)
    links = out.filter((F.col("lineage.route") == "html")
                       & (F.col("lineage.status") == "ok")).select(
        "url", F.explode("fields.outlinks").alias("href"))
    dst = U.resolve_href_col(F.col("url"), F.col("href"))
    return (
        links.groupBy(
            F.regexp_extract("url", r"https://([^/]+)/", 1)
            .alias("src_host"),
            F.regexp_extract(dst, r"^[^:/?#]+://([^/?#]*)", 1)
            .alias("dst_host"))
        .agg(F.count("*").cast("long").alias("n_links"))
    )


SQL_LINK_GRAPH = (
    f"WITH h AS (SELECT {HOST_SQL} AS host, count(*) AS n "
    "FROM documents WHERE doc_id % 20 < 14 AND doc_id % 20 <> 12 "
    "GROUP BY 1) "
    "SELECT host AS src_host, host AS dst_host, "
    "CAST(23 * n AS BIGINT) AS n_links FROM h "
    "UNION ALL SELECT host, 'ads.example.com', CAST(n AS BIGINT) FROM h"
)


def q_anchor_text_index(spark, sf_dir):
    """Anchor-text index — the classic web-retrieval signal (the text
    OTHER pages use when linking to a target describes the target
    better than the target describes itself; the original
    full-text-index sidecar of web search). The aligned
    ``(fields.outlinks[i], fields.anchors[i])`` arrays are collected in
    the SINGLE extraction pass (no re-parse); one explode of their zip,
    href resolution as a pure JVM expression, then one aggregation by
    (dst_host, anchor): total reference count + distinct referring
    hosts. At 100 TB this is the same single-shuffle shape as
    ``link_graph`` — the explode is map-side, the groupBy is the only
    exchange, and countDistinct(src_host) is a partial-aggregated
    JVM path (no collect, no UDF).

    Expected shape on the synthetic corpus: every HTML page carries 23
    relative links (nav/aside/footer, 23 distinct anchor texts → its
    own host) and one absolute ad link (→ ads.example.com, one shared
    anchor text across every page)."""
    from .functions import urls as U
    out = _extracted(spark, sf_dir)
    links = (
        out.filter((F.col("lineage.route") == "html")
                   & (F.col("lineage.status") == "ok"))
        .select(
            "url",
            F.explode(F.arrays_zip(
                F.col("fields.outlinks").alias("href"),
                F.col("fields.anchors").alias("anchor"))).alias("z"))
    )
    dst = U.resolve_href_col(F.col("url"), F.col("z.href"))
    src_host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        links.groupBy(
            F.regexp_extract(dst, r"^[^:/?#]+://([^/?#]*)", 1)
            .alias("dst_host"),
            F.col("z.anchor").alias("anchor"))
        .agg(F.count("*").cast("long").alias("n_refs"),
             F.countDistinct(src_host).alias("n_src_hosts"))
    )


# every make_html page renders the same 23 relative-link anchor texts
# (12 nav + 8 aside + 3 footer, corpus.py:109-116,181-182) plus the one
# absolute ad anchor — so the oracle is the html-page count per host
# crossed with the literal anchor list
SQL_ANCHOR_TEXT_INDEX = (
    f"WITH h AS (SELECT {HOST_SQL} AS host, count(*) AS n "
    "FROM documents WHERE doc_id % 20 < 14 AND doc_id % 20 <> 12 "
    "GROUP BY 1), "
    "a(anchor) AS (VALUES ('Home'), ('News'), ('Sports'), ('World'), "
    "('Business'), ('Tech'), ('Science'), ('Health'), ('Travel'), "
    "('Opinion'), ('Video'), ('More'), ('Trending now'), ('Most read'), "
    "('Editor picks'), ('Related stories'), ('From the wire'), "
    "('Top videos'), ('Newsletters'), ('Podcasts'), ('About'), "
    "('Terms'), ('Privacy')) "
    "SELECT host AS dst_host, anchor, CAST(n AS BIGINT) AS n_refs, "
    "CAST(1 AS BIGINT) AS n_src_hosts FROM h CROSS JOIN a "
    "UNION ALL SELECT 'ads.example.com', "
    "'Buy now! Limited offer — click here', "
    "CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT) FROM h"
)


def q_wat_roundtrip(spark, sf_dir):
    """Publish/re-ingest identity through the WAT sink (sinks/wat.py):
    extraction output → Common-Crawl-style metadata records (JSON
    envelope with Links carrying href+anchor, per-record-gzip WAT
    files, atomic task renames) → binaryFile re-ingestion → the SAME
    (dst_host, anchor) aggregation as ``anchor_text_index``. A green
    row proves the anchor-text index computed from re-read WAT equals
    the one computed live — the interop contract WAT consumers rely
    on. Oracle: SQL_ANCHOR_TEXT_INDEX verbatim."""
    import shutil
    from .functions import urls as U
    from .sinks import wat_links_df, write_wat
    base = scratch_dir("dte_q_wat_")
    out = _extracted(spark, sf_dir)
    ok = out.filter((F.col("lineage.route") == "html")
                    & (F.col("lineage.status") == "ok"))
    write_wat(ok, base, n_files=8).collect()  # the write job
    back = wat_links_df(spark, base)
    dst = U.resolve_href_col(F.col("url"), F.col("href"))
    src_host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    res = (back.groupBy(
        F.regexp_extract(dst, r"^[^:/?#]+://([^/?#]*)", 1)
        .alias("dst_host"),
        F.col("anchor"))
        .agg(F.count("*").cast("long").alias("n_refs"),
             F.countDistinct(src_host).alias("n_src_hosts"))
        .localCheckpoint())  # sever lineage before the files go away
    shutil.rmtree(base, ignore_errors=True)
    return res


SQL_WAT_ROUNDTRIP = SQL_ANCHOR_TEXT_INDEX


def q_sitemap_entries(spark, sf_dir):
    """Sitemap protocol parsing (operators/sitemaps.py): per-host
    sitemap bodies are planted deterministically — every 5th host
    serves a ``<sitemapindex>`` with two child refs, the rest a
    ``<urlset>`` of ``num%4+2`` url entries with entity-escaped locs
    (``&amp;`` must decode), lastmod dates, alternating
    daily/weekly changefreq, and ascending priorities. Both parsers
    run over the SAME body table (the block regexes distinguish
    ``<url>`` from ``<urlset>`` and ``<sitemap>`` from
    ``<sitemapindex>`` by word boundary); output is one row per host
    with parsed aggregates, which the oracle reconstructs
    arithmetically from the planted policy."""
    from .operators import sitemaps as SM
    pages = web_pages_from_documents(spark, sf_dir).select("url")
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    hosts = pages.select(host.alias("host")).distinct()
    num = F.substring("host", 5, 2).cast("int")
    n = (num % 4 + 2)
    day = F.lpad((num % 27 + 1).cast("string"), 2, "0")
    url_block = lambda i: F.concat(  # noqa: E731
        F.lit("<url><loc> https://"), F.col("host"), F.lit("/sm/"),
        i.cast("string"), F.lit("?a=1&amp;b=2 </loc><lastmod>2024-01-"),
        day, F.lit("T08:00:00Z</lastmod><changefreq>"),
        F.when(i % 2 == 0, "daily").otherwise("weekly"),
        F.lit("</changefreq><priority>0."),
        (i % 5 + 5).cast("string"), F.lit("</priority></url>"))
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset '
              'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.array_join(F.transform(F.sequence(F.lit(0), n - 1),
                                 url_block), ""),
        F.lit("</urlset>"))
    index = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex>'),
        F.array_join(F.transform(
            F.sequence(F.lit(0), F.lit(1)),
            lambda j: F.concat(
                F.lit("<sitemap><loc>https://"), F.col("host"),
                F.lit("/sitemap-"), j.cast("string"),
                F.lit(".xml</loc><lastmod>2024-02-0"),
                (j + 1).cast("string"),
                F.lit("</lastmod></sitemap>"))), ""),
        F.lit("</sitemapindex>"))
    tbl = hosts.select(
        "host", F.when(num % 5 == 4, index).otherwise(urlset)
        .alias("body"))
    entries = SM.parse_sitemap_entries(tbl)
    children = SM.parse_sitemap_index(tbl)
    u = (entries.groupBy("host").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum((F.col("changefreq") == "daily").cast("long"))
        .alias("n_daily"),
        F.max("priority").alias("max_priority"),
        F.max("lastmod").alias("latest_lastmod"),
        # entity unescape proof: every loc decoded '&amp;' -> '&'
        F.sum(F.col("loc").contains("?a=1&b=2").cast("long"))
        .alias("n_unescaped"))
        .withColumn("kind", F.lit("urlset")))
    ix = (children.groupBy("host").agg(
        F.count("*").cast("long").alias("n_items"),
        F.lit(None).cast("long").alias("n_daily"),
        F.lit(None).cast("double").alias("max_priority"),
        F.max("lastmod").alias("latest_lastmod"),
        F.lit(None).cast("long").alias("n_unescaped"))
        .withColumn("kind", F.lit("index")))
    return u.unionByName(ix)


_SITEMAP_NUM_SQL = (
    "CAST(substr(host, 5, 2) AS INT)"
)
SQL_SITEMAP_ENTRIES = (
    f"WITH hosts AS (SELECT DISTINCT {HOST_SQL} AS host "
    "FROM documents), "
    f"h AS (SELECT host, {_SITEMAP_NUM_SQL} AS num FROM hosts), "
    "u AS (SELECT host, num % 4 + 2 AS n, num FROM h "
    "WHERE num % 5 <> 4) "
    "SELECT host, CAST(n AS BIGINT) AS n_items, "
    "CAST(ceil(n / 2.0) AS BIGINT) AS n_daily, "
    "CAST('0.' || CAST(4 + n AS VARCHAR) AS DOUBLE) AS max_priority, "
    "CAST('2024-01-' || lpad(CAST(num % 27 + 1 AS VARCHAR), 2, '0') "
    "AS DATE) AS latest_lastmod, "
    "CAST(n AS BIGINT) AS n_unescaped, 'urlset' AS kind FROM u "
    "UNION ALL "
    "SELECT host, CAST(2 AS BIGINT), NULL, NULL, DATE '2024-02-02', "
    "NULL, 'index' FROM h WHERE num % 5 = 4"
)


def q_robots_txt_filter(spark, sf_dir):
    """robots.txt PROTOCOL compliance (RFC 9309, complementing the
    meta-robots tag): per-host robots bodies are planted to exercise
    the full precedence ladder — every 3rd host disallows two source
    prefixes for '*' but Allow-exempts one of them at equal length
    (tie → Allow) and a doc-id subrange of the other at greater length
    (longest match wins, with a decoy stanza for another agent); the
    next third is the canonical real-world idiom 'Disallow: / +
    Allow: /src' plus a wildcard+anchored 'Disallow: /src1/*2$'; the
    last third has no robots body. Parsed by the real JVM rule parser
    and applied by the real filter; output is per-host surviving page
    counts. The oracle reconstructs the planted policy
    arithmetically."""
    from .operators import robots as rb
    pages = web_pages_from_documents(spark, sf_dir).select("url")
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    hosts = pages.select(host.alias("host")).distinct()
    num = F.substring("host", 5, 2).cast("int")
    body = (
        F.when(num % 3 == 0, F.lit(
            "# crawl policy\nUser-agent: archiver\n"
            "Disallow: /keep-out/\n\n"
            "User-agent: *\nDisallow: /src3/\nDisallow: /src7/\n"
            "Allow: /src7/\nAllow: /src3/1\n"))
        .when(num % 3 == 1, F.lit(
            "User-agent: *\nDisallow: /\nAllow: /src\n"
            "Disallow: /src1/*2$\n"))
    )
    robots_tbl = (hosts.select("host", body.alias("body"))
                  .filter(F.col("body").isNotNull()))
    rules = rb.parse_robots_rules(robots_tbl, user_agent="*")
    kept = rb.robots_filter(pages, rules)
    return (
        kept.groupBy(
            F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


_ROBOTS_NUM_SQL = (
    "least(49, CAST(floor(50 * pow((doc_id % 1000) / 1000.0, 3)) AS INT))"
)
SQL_ROBOTS_TXT = (
    f"SELECT {HOST_SQL} AS host, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM documents WHERE NOT ("
    # host class 0: /src3/ disallowed except doc_ids starting '1'
    # (Allow /src3/1 outranks by length); /src7/ survives via the
    # equal-length Allow tie
    f"({_ROBOTS_NUM_SQL} % 3 = 0 AND source = 'src3' "
    "AND CAST(doc_id AS VARCHAR) NOT LIKE '1%') "
    # host class 1: Disallow:/ + Allow:/src keeps everything except
    # the wildcard+anchored /src1/*2$ (doc_ids ending in 2)
    f"OR ({_ROBOTS_NUM_SQL} % 3 = 1 AND source = 'src1' "
    "AND CAST(doc_id AS VARCHAR) LIKE '%2')"
    ") GROUP BY 1"
)


def q_robots_meta(spark, sf_dir):
    """robots.txt crawl metadata (operators/robots.parse_robots_meta):
    Crawl-delay under the same group-selection precedence as the rules
    (decoy agent stanza planted; min across applicable groups;
    non-numeric dropped) and group-independent Sitemap collection.
    Bodies planted per host class; sitemaps emitted comma-joined for
    the driver canonicalizer."""
    from .operators import robots as rb
    pages = web_pages_from_documents(spark, sf_dir).select("url")
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    hosts = pages.select(host.alias("host")).distinct()
    num = F.substring("host", 5, 2).cast("int")
    sm = F.concat(F.lit("https://"), F.col("host"))
    body = (
        F.when(num % 3 == 0, F.concat(
            F.lit("User-agent: archiver\nCrawl-delay: 99\n\n"
                  "User-agent: *\nCrawl-delay: 4\nDisallow: /src3/\n"
                  "Sitemap: "), sm, F.lit("/sitemap.xml\n")))
        .when(num % 3 == 1, F.concat(
            F.lit("User-agent: *\nCrawl-delay: soon\nSitemap: "),
            sm, F.lit("/sm-a.xml\nSitemap: "), sm, F.lit("/sm-b.xml\n")))
    )
    robots_tbl = (hosts.select("host", body.alias("body"))
                  .filter(F.col("body").isNotNull()))
    meta = rb.parse_robots_meta(robots_tbl, user_agent="*")
    # crawl_delay -1-coalesced: absent delay is data, and bare NULLs
    # don't sort in the cross-engine row canonicalizer
    return meta.select(
        "host",
        F.coalesce("crawl_delay", F.lit(-1.0)).alias("crawl_delay"),
        F.array_join("sitemaps", ",").alias("sitemaps"))


_ROBOTS_HOST_NUM_SQL = "CAST(substring(host, 5, 2) AS INT)"
SQL_ROBOTS_META = (
    f"WITH h AS (SELECT DISTINCT {HOST_SQL} AS host FROM documents) "
    f"SELECT host, CAST(4 AS DOUBLE) AS crawl_delay, "
    "'https://' || host || '/sitemap.xml' AS sitemaps FROM h "
    f"WHERE {_ROBOTS_HOST_NUM_SQL} % 3 = 0 "
    "UNION ALL SELECT host, CAST(-1 AS DOUBLE), "
    "'https://' || host || '/sm-a.xml,https://' || host || '/sm-b.xml' "
    f"FROM h WHERE {_ROBOTS_HOST_NUM_SQL} % 3 = 1"
)


def q_latest_capture(spark, sf_dir):
    """Re-crawl snapshot compaction: a crawl table accumulates multiple
    captures per url; keep the NEWEST (max warc_ts) row of each — one
    row_number window over (url, ts desc), the upsert-on-read pattern an
    Iceberg MERGE would subsume. Re-crawls planted for every 13th doc
    (+1000 s). Output: (doc_id, ts_epoch of the kept capture)."""
    from pyspark.sql import Window as W
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = web_pages_from_documents(spark, sf_dir).select("url", "warc_ts")
    did = F.element_at(F.split("url", "/"), -1).cast("long")
    recrawl = pages.filter(did % 13 == 0).select(
        "url", (F.col("warc_ts")
                + F.expr("INTERVAL 1000 SECONDS")).alias("warc_ts"))
    caps = pages.unionAll(recrawl)
    w = W.partitionBy("url").orderBy(F.col("warc_ts").desc())
    latest = (caps.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1))
    return latest.select(
        F.element_at(F.split("url", "/"), -1).cast("long").alias("doc_id"),
        F.unix_timestamp("warc_ts").cast("long").alias("ts_epoch"),
    )


SQL_LATEST_CAPTURE = (
    # EPOCH 2025-01-01 UTC = 1735689600; warc_ts = EPOCH + doc_id sec,
    # the planted re-crawl adds 1000 s for every 13th doc
    "SELECT doc_id, 1735689600 + doc_id + CASE WHEN doc_id % 13 = 0 "
    "THEN 1000 ELSE 0 END AS ts_epoch FROM documents"
)


def q_cdx_index(spark, sf_dir):
    """CDX-style capture index over the crawl table — the cc-index /
    wayback artifact: one row per resource keyed by the SURT ``urlkey``
    (``functions.surt.surt_key_col`` — reversed-host sort key giving
    per-domain range locality at 100 TB), with the latest capture
    timestamp, capture count, and content digest. Re-crawls planted as
    in ``latest_capture`` (every 13th doc, +1000 s). One groupBy on
    url (map-side combined); urlkey is a pure projection on top."""
    from .functions import surt as U
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = web_pages_from_documents(spark, sf_dir).select(
        "url", "warc_ts", "text")
    did = F.element_at(F.split("url", "/"), -1).cast("long")
    recrawl = pages.filter(did % 13 == 0).select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 1000 SECONDS"))
        .alias("warc_ts"), "text")
    caps = pages.unionAll(recrawl)
    return (
        caps.groupBy("url")
        .agg(F.max(F.unix_timestamp("warc_ts")).cast("long")
             .alias("ts_epoch"),
             F.count("*").cast("long").alias("n_captures"),
             # captures of one url share the payload in this corpus;
             # max() keeps the agg map-side combinable
             F.max(F.md5(F.encode(F.col("text"), "UTF-8")))
             .alias("digest"))
        .select(U.surt_key_col(F.col("url")).alias("urlkey"), "url",
                "ts_epoch", "n_captures", "digest"))


def _cdx_sql() -> str:
    from .functions.surt import SURT_KEY_SQL
    return (
        "WITH src AS (SELECT 'https://' || " + HOST_SQL
        + " || '/' || source || '/' || CAST(doc_id AS VARCHAR) AS u, "
        "1735689600 + doc_id + CASE WHEN doc_id % 13 = 0 THEN 1000 "
        "ELSE 0 END AS ts_epoch, "
        "CASE WHEN doc_id % 13 = 0 THEN 2 ELSE 1 END AS n_captures, "
        "md5(text) AS digest FROM documents) "
        "SELECT " + SURT_KEY_SQL + " AS urlkey, u AS url, "
        "CAST(ts_epoch AS BIGINT) AS ts_epoch, "
        "CAST(n_captures AS BIGINT) AS n_captures, digest FROM src"
    )


SQL_CDX_INDEX = _cdx_sql()


def q_train_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle into training shards
    (``functions.shuffling.shuffle_shards``): md5 sort key → shard by
    range over its top hex digits, order within shard by the key.
    Production writers stop there (external sortWithinPartitions, no
    positions); this verification form derives ``pos_in_shard`` with a
    per-shard window so DuckDB can replay the whole permutation
    byte-for-byte."""
    from pyspark.sql import Window as W
    from .functions import shuffling
    d = shuffling.shuffle_shards(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", 8,
        seed="shuf1")
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy("shuffle_key", "doc_id"))
    return d.select("doc_id", F.col("shard").cast("long").alias("shard"),
                    pos.cast("long").alias("pos_in_shard"))


SQL_TRAIN_SHUFFLE_SHARDS = (
    "WITH h AS (SELECT doc_id, "
    "md5('shuf1' || CAST(doc_id AS VARCHAR)) AS k FROM documents), "
    "s AS (SELECT doc_id, k, "
    "CAST('0x' || substr(k, 1, 8) AS BIGINT) * 8 // 4294967296 "
    "AS shard FROM h) "
    "SELECT doc_id, CAST(shard AS BIGINT) AS shard, "
    "CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) "
    "AS BIGINT) AS pos_in_shard FROM s"
)


def q_blocklist_filter(spark, sf_dir):
    """Domain-blocklist hygiene pass (C4/RefinedWeb-style): drop pages
    whose host is on an exact blocklist (broadcast anti-join — includes
    the Zipf-hot host) or matches a suffix rule (one JVM filter
    expression), then count survivors per host. Applied before
    extraction, so blocked pages never reach the Python map
    (operators/blocklist.py)."""
    pages = web_pages_from_documents(spark, sf_dir)
    kept = blocklist.blocklist_filter(
        pages,
        blocked_hosts=["site00.example.org", "site03.example.org"],
        blocked_suffixes=["7.example.org"],
    )
    return (
        kept.groupBy(blocklist.host_of().alias("host"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


SQL_BLOCKLIST = (
    f"SELECT {HOST_SQL} AS host, CAST(count(*) AS BIGINT) AS n_docs "
    f"FROM documents WHERE {HOST_SQL} NOT IN "
    "('site00.example.org', 'site03.example.org') "
    f"AND NOT ({HOST_SQL} LIKE '%7.example.org') GROUP BY 1"
)


def q_contamination(spark, sf_dir):
    """Benchmark decontamination (n-gram collision): the evaluation set
    is synthesized deterministically as a 16-word slice (words 3..18) of
    every 97th document, so every bench item's 8-grams are guaranteed to
    collide with its source document (plus any near-duplicates). The
    probe side is broadcast; the corpus side never shuffles before the
    tiny hit aggregation (operators/contamination.py)."""
    docs = _spread(_docs(spark, sf_dir).select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(toks, 3, 16), " ").alias("text"),
    )
    rep = contamination.contamination_report(docs, bench, k=8)
    # bench_ids serialized to a ','-joined string: the driver's pandas
    # canonicalizer can't hash/sort bare array columns
    return rep.select(
        "doc_id",
        "n_hit_ngrams",
        F.array_join(
            F.transform(F.col("bench_ids"), lambda x: x.cast("string")), ","
        ).alias("bench_ids"),
    )


def _k8_shingles_sql() -> str:
    return (
        "list_distinct([array_to_string(words[i:least(i+7, len(words))], "
        "' ') for i in range(1, greatest(len(words) - 7, 1) + 1)])"
    )


SQL_CONTAMINATION = (
    "WITH bench AS (SELECT doc_id AS bench_id, "
    "array_to_string((string_split(text, ' '))[3:18], ' ') AS btext "
    "FROM documents WHERE doc_id % 97 = 0), "
    "bw AS (SELECT bench_id, string_split(btext, ' ') AS words FROM bench), "
    f"bsh AS (SELECT DISTINCT bench_id, unnest({_k8_shingles_sql()}) "
    "AS shingle FROM bw), "
    "dw AS (SELECT doc_id, string_split(text, ' ') AS words "
    "FROM documents), "
    f"dsh AS (SELECT DISTINCT doc_id, unnest({_k8_shingles_sql()}) "
    "AS shingle FROM dw), "
    "hits AS (SELECT doc_id, shingle, bench_id FROM dsh "
    "JOIN bsh USING (shingle)) "
    "SELECT doc_id, CAST(count(DISTINCT shingle) AS BIGINT) "
    "AS n_hit_ngrams, "
    "array_to_string(list_sort(list_distinct(list(bench_id))), ',') "
    "AS bench_ids "
    "FROM hits GROUP BY doc_id"
)


def q_decontaminate_count(spark, sf_dir):
    """The decontamination *transform* result, summarized: surviving-doc
    count + total surviving chars (aggregate so the oracle compares a
    stable scalar row, not the whole corpus)."""
    docs = _spread(_docs(spark, sf_dir).select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(toks, 3, 16), " ").alias("text"),
    )
    kept = contamination.decontaminate(docs, bench, k=8)
    return kept.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


SQL_DECONTAMINATE = (
    f"WITH hits AS ({SQL_CONTAMINATION}) "
    "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(length(text)) AS BIGINT) AS total_chars FROM documents "
    "WHERE doc_id NOT IN (SELECT doc_id FROM hits)"
)


def q_extract_charset_roundtrip(spark, sf_dir):
    """BOM-less legacy-charset pages (LIMITS.md §2 closed, incl. the
    r5 declaration-free tail): Shift_JIS / EUC-JP / windows-1251 bodies
    in TWO plants per doc — (a) ``<meta charset>`` declared in three
    real-world syntactic forms (ids < 300), and (b) the SAME page with
    the declaration stripped and a codec-native paragraph appended
    (ids + 1000), which only extracts clean if the byte-distribution
    sniff (oracle._sniff_charset) identifies the codec with no label
    to read. Content lines are wrapped in codec-native quote glyphs so
    a MISSING transcode shows up as U+FFFD mojibake in extracted_text.
    Pages are built executor-side and run through the REAL extraction
    pipeline (pipeline.extract_df → kernels batch path →
    oracle._decode_transfer_html); the oracle reconstructs both golden
    texts arithmetically."""
    import pandas as pd

    from . import corpus as C
    docs = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.col("doc_id") < 300)
    native = {
        "shift_jis": CHARSET_NATIVE_JA,
        "euc_jp": CHARSET_NATIVE_JA,
        "cp1251": CHARSET_NATIVE_RU,
    }

    def gen(batches):
        for b in batches:
            rows = []
            for i, t in zip(b["doc_id"], b["text"]):
                codec = ["shift_jis", "euc_jp", "cp1251"][int(i) % 3]
                page = C.make_html_charset(int(i), t, codec)
                rows.append((C.url_for(int(i), "cs"), page))
                # declaration-free variant: strip the meta, append a
                # native paragraph (the sniffer's real-world signal)
                meta = C.CHARSET_VARIANTS[codec][0].encode(codec)
                tail = "\n  </main>".encode(codec)
                bare = page.replace(meta, b"", 1).replace(
                    tail,
                    ("\n    <p>" + native[codec] + "</p>").encode(codec)
                    + tail, 1)
                rows.append((C.url_for(int(i) + 1000, "csn"), bare))
            yield pd.DataFrame(rows, columns=["url", "html"])

    pages = docs.mapInPandas(gen, schema="url string, html binary")
    out = pipeline.extract_df(pages, n_buckets=_N_BUCKETS)
    return out.filter(F.col("lineage.status") == "ok").select(
        F.element_at(F.split("url", "/"), -1).cast("long").alias("doc_id"),
        "extracted_text",
    )


CHARSET_NATIVE_JA = ("日本語のページです。文字コードの宣言はありません。"
                     "今日はとても良い天気ですね。"
                     "近くの公園まで散歩に行きましょう。")
CHARSET_NATIVE_RU = ("Это страница на русском языке без объявления "
                     "кодировки. Сегодня хорошая погода, и мы идём "
                     "гулять в парк возле дома.")


def _wrap_sql(op: str, cl: str) -> str:
    return (f"'{op}' || replace({CHUNK_SQL}, chr(10), "
            f"'{cl}' || chr(10) || '{op}') || '{cl}'")


SQL_EXTRACT_CHARSET = (
    "SELECT doc_id, CASE doc_id % 3 "
    f"WHEN 2 THEN {_wrap_sql('«', '»')} "
    f"ELSE {_wrap_sql('「', '」')} END AS extracted_text "
    "FROM documents WHERE doc_id < 300 "
    "UNION ALL "
    "SELECT doc_id + 1000, (CASE doc_id % 3 "
    f"WHEN 2 THEN {_wrap_sql('«', '»')} "
    f"ELSE {_wrap_sql('「', '」')} END) || chr(10) || "
    "(CASE doc_id % 3 "
    f"WHEN 2 THEN '{CHARSET_NATIVE_RU}' "
    f"ELSE '{CHARSET_NATIVE_JA}' END) AS extracted_text "
    "FROM documents WHERE doc_id < 300"
)


def q_pdf_ocr_budget(spark, sf_dir):
    """OCR addressable-market accounting (VERDICT r3 #8): PDFs that
    parse but show NO text split into ``raster_only`` (image XObject
    declared — a future OCR route's measured market) vs
    ``no_text_layer`` (text-capable page, empty layer), with normal
    text PDFs staying ok. Pages built executor-side
    (corpus.make_pdf_no_text / make_pdf) and run through the REAL
    pipeline; output is (status, reason, n_docs) with reason
    ''-coalesced for the driver's canonicalizer."""
    import pandas as pd

    from . import corpus as C
    docs = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.col("doc_id") < 240)

    def gen(batches):
        for b in batches:
            rows = []
            for i, t in zip(b["doc_id"], b["text"]):
                i = int(i)
                if i % 3 == 0:
                    payload = C.make_pdf(i, t)
                else:
                    payload = C.make_pdf_no_text(i, raster=(i % 3 == 1))
                rows.append((C.url_for(i, "ocr"), payload))
            yield pd.DataFrame(rows, columns=["url", "html"])

    pages = docs.mapInPandas(gen, schema="url string, html binary")
    out = pipeline.extract_df(pages, n_buckets=_N_BUCKETS)
    return (
        out.groupBy(
            F.col("lineage.status").alias("status"),
            F.coalesce(F.col("lineage.reason"), F.lit("")).alias("reason"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


SQL_PDF_OCR_BUDGET = (
    "SELECT 'ok' AS status, '' AS reason, "
    "CAST(count(*) AS BIGINT) AS n_docs FROM documents "
    "WHERE doc_id < 240 AND doc_id % 3 = 0 "
    "UNION ALL SELECT 'parse_failure', 'raster_only', "
    "CAST(count(*) AS BIGINT) FROM documents "
    "WHERE doc_id < 240 AND doc_id % 3 = 1 "
    "UNION ALL SELECT 'parse_failure', 'no_text_layer', "
    "CAST(count(*) AS BIGINT) FROM documents "
    "WHERE doc_id < 240 AND doc_id % 3 = 2"
)


def _media_df(spark, sf_dir):
    """Deterministic synthetic media table keyed by doc_id (< 300):
    payloads generated EXECUTOR-side inside mapInPandas from the row id
    (multimodal/media.synth_media_row), the same pattern as
    web_pages_from_documents — the driver never materializes payload
    bytes."""
    import pandas as pd

    from .multimodal import media as M
    ids = _docs(spark, sf_dir).select("doc_id").filter(
        F.col("doc_id") < 300)

    def gen(batches):
        cols = [f.name for f in M.MEDIA_SCHEMA.fields]
        for b in batches:
            rows = [M.synth_media_row(int(i)) for i in b["doc_id"]]
            yield pd.DataFrame(rows, columns=cols)

    return ids.mapInPandas(gen, schema=M.MEDIA_SCHEMA)


def q_media_features(spark, sf_dir):
    """Multimodal feature extraction (multimodal/media.py): magic-byte
    container sniff, payload sizes, and PNG IHDR width/height parsed by
    the Arrow-batch feature kernel over a deterministic synthetic media
    table (300 rows keyed by doc_id). Every output column is
    arithmetically reconstructable by the oracle from the generator's
    formulas: images are REAL decodable PNGs (r5) of
    sig(8)+IHDR(25)+IDAT(12+zlen)+IEND(12) bytes where
    zlen = 6 + raw + 5*ceil(raw/32768) and raw = h*(1+3w) — the
    encoder's fixed-block stored-zlib container makes the size a pure
    function of the planted dims (pinned in test_media_png) — RIFF
    audio 516, mp4 video 1036. byte_entropy is feature-kernel-real but
    not SQL-derivable, so the driver row compares the structural
    columns (entropy stays pytest-asserted, test_media_features)."""
    from .multimodal import media as M
    feats = M.extract_media_features(_media_df(spark, sf_dir))
    return feats.select(
        "media_id", "kind", "n_bytes", "sniffed",
        "header_width", "header_height", "status")


SQL_MEDIA_FEATURES = (
    "SELECT doc_id AS media_id, "
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END AS kind, "
    "CAST(CASE doc_id % 3 WHEN 0 THEN "
    "57 + 6 + (16 + (doc_id % 48) * 8) * (1 + 3 * (16 + (doc_id % 64) "
    "* 8)) + 5 * CAST(ceil(((16 + (doc_id % 48) * 8) * (1 + 3 * (16 + "
    "(doc_id % 64) * 8))) / 32768.0) AS BIGINT) "
    "WHEN 1 THEN 516 ELSE 1036 END AS BIGINT) AS n_bytes, "
    "CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'riff' "
    "ELSE 'mp4' END AS sniffed, "
    "CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + (doc_id % 64) * 8 "
    "ELSE -1 END AS INT) AS header_width, "
    "CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + (doc_id % 48) * 8 "
    "ELSE -1 END AS INT) AS header_height, "
    "'ok' AS status "
    "FROM documents WHERE doc_id < 300"
)


def q_media_sample_plan(spark, sf_dir):
    """Decode planning for time media (multimodal/media.py): audio
    chunk boundaries (5 s chunks over duration, JVM explode) and video
    frame-sample instants (1 Hz) — the Spark-side plumbing a deployment
    points its codec at; one row per (media_id, instant). The oracle
    regenerates both ladders with generate_series from the planted
    duration formulas."""
    from .multimodal import media as M
    media = _media_df(spark, sf_dir)
    ac = M.audio_chunk_plan(media, chunk_ms=5000).select(
        "media_id", F.lit("audio").alias("kind"),
        F.col("chunk_start_ms").cast("long").alias("t_ms"))
    fp = M.frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.lit("video").alias("kind"),
        F.col("frame_ts_ms").cast("long").alias("t_ms"))
    return ac.unionByName(fp)


SQL_MEDIA_SAMPLE_PLAN = (
    "WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS r, "
    "CASE doc_id % 3 WHEN 1 THEN 1000 + (doc_id * 797) % 60000 "
    "ELSE 5000 + (doc_id * 2311) % 300000 END AS dur "
    "FROM documents WHERE doc_id < 300 AND doc_id % 3 IN (1, 2)) "
    "SELECT media_id, 'audio' AS kind, "
    "CAST(unnest(generate_series(0, dur - 1, 5000)) AS BIGINT) AS t_ms "
    "FROM m WHERE r = 1 "
    "UNION ALL "
    "SELECT media_id, 'video' AS kind, "
    "CAST(unnest(generate_series(0, dur, 1000)) AS BIGINT) AS t_ms "
    "FROM m WHERE r = 2"
)


# ---------------------------------------------------------------------------
# staged for the round-5 registry rotation. This round's driver window
# (first 50 entries) is exactly saturated with dirty queries vs the
# round-3 marker, so these CANNOT enter the registry yet without
# pushing a dirty query out (tests/test_registry_rotation.py enforces
# that). Until rotation, their Spark-vs-DuckDB parity runs in
# tests/test_captures_frontier.py with the same rowset comparison the
# driver uses.
# ---------------------------------------------------------------------------

def q_capture_diff(spark, sf_dir):
    """Crawl revisit/change classification (operators/captures.py):
    every capture tagged new / unchanged / changed by comparing its
    content digest with the URL's previous capture (lag window — one
    url shuffle, histories are short so no key can skew). Planted
    history: every 13th doc re-crawled +1000 s byte-identical (the
    warc/revisit case); every 26th doc re-crawled again +2000 s with
    drifted content."""
    from .operators import captures as C
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = web_pages_from_documents(spark, sf_dir).select(
        "url", "warc_ts", "text")
    did = F.element_at(F.split("url", "/"), -1).cast("long")
    base = pages.select(
        "url",
        F.unix_timestamp("warc_ts").cast("long").alias("ts_epoch"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("digest"),
        did.alias("__did"))
    revisit = base.filter(F.col("__did") % 13 == 0).select(
        "url", (F.col("ts_epoch") + 1000).alias("ts_epoch"),
        "digest", "__did")
    drifted = base.filter(F.col("__did") % 26 == 0).select(
        "url", (F.col("ts_epoch") + 2000).alias("ts_epoch"),
        F.md5(F.concat(F.col("digest"), F.lit("v2"))).alias("digest"),
        "__did")
    caps = base.unionByName(revisit).unionByName(drifted).drop("__did")
    return C.classify_captures(caps).select("url", "ts_epoch", "change")


SQL_CAPTURE_DIFF = (
    "WITH src AS (SELECT 'https://' || " + HOST_SQL
    + " || '/' || source || '/' || CAST(doc_id AS VARCHAR) AS url, "
    "1735689600 + doc_id AS ts0, md5(text) AS d, doc_id FROM documents), "
    "caps AS (SELECT url, ts0 AS ts_epoch, d FROM src "
    "UNION ALL SELECT url, ts0 + 1000, d FROM src WHERE doc_id % 13 = 0 "
    "UNION ALL SELECT url, ts0 + 2000, md5(d || 'v2') FROM src "
    "WHERE doc_id % 26 = 0) "
    "SELECT url, CAST(ts_epoch AS BIGINT) AS ts_epoch, "
    "CASE WHEN lag(d) OVER w IS NULL THEN 'new' "
    "WHEN lag(d) OVER w = d THEN 'unchanged' "
    "ELSE 'changed' END AS change "
    "FROM caps WINDOW w AS (PARTITION BY url ORDER BY ts_epoch, d)"
)


def q_frontier_plan(spark, sf_dir):
    """Politeness-scheduled crawl frontier (operators/frontier.py):
    per-host fetch slots in priority order × per-host Crawl-delay →
    earliest start offset. Runs the BANDED anti-skew ranking
    (skew_threshold=200, so the Zipf-hot host takes the two-phase
    band plan at sf≥0.01) — the DuckDB oracle is the plain
    ``row_number``, so a green row proves banded ≡ plain. Delays are
    planted per host: 1 + (site number mod 5) seconds."""
    from .operators import frontier as FR
    pages = web_pages_from_documents(spark, sf_dir).select("url")
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    did = F.element_at(F.split("url", "/"), -1).cast("long")
    nn = F.regexp_extract(host, r"site(\d+)\.", 1).cast("int")
    cand = pages.select(
        "url", host.alias("host"), did.alias("priority"),
        (F.lit(1) + nn % 5).cast("double").alias("crawl_delay_s"))
    plan = FR.frontier_plan(cand, "host", "priority",
                            delay_col="crawl_delay_s",
                            skew_threshold=200, n_bands=8)
    return plan.select("url", "host", "fetch_seq",
                       F.col("eta_s").cast("double").alias("eta_s"))


SQL_FRONTIER_PLAN = (
    "WITH src AS (SELECT 'https://' || " + HOST_SQL
    + " || '/' || source || '/' || CAST(doc_id AS VARCHAR) AS url, "
    + HOST_SQL + " AS host, doc_id AS pr FROM documents) "
    "SELECT url, host, "
    "CAST(row_number() OVER w - 1 AS BIGINT) AS fetch_seq, "
    "CAST((row_number() OVER w - 1) * "
    "(1 + CAST(substr(host, 5, 2) AS INT) % 5) AS DOUBLE) AS eta_s "
    "FROM src WINDOW w AS (PARTITION BY host ORDER BY pr)"
)


def q_domain_quota(spark, sf_dir):
    """Per-domain quota cap (fn/sampling.quota_cap): keep at most 25
    first-seen docs per host — the C4/RefinedWeb guard against any one
    domain dominating the training mixture. Runs the BANDED anti-skew
    ranking with the band-prune quota hint (skew_threshold=100: the
    Zipf-hot host exceeds it from sf0.001 up, so hot-host rows beyond
    the cap drop at band granularity before the rank join-back); the
    DuckDB oracle is the plain ``row_number() <= cap``, so a green row
    proves banded+pruned ≡ plain. Output: per-host kept count and
    kept-id checksums."""
    from .functions import sampling as S
    host = F.concat(
        F.lit("site"),
        F.lpad(F.least(
            F.lit(49),
            F.floor(50 * F.pow((F.col("doc_id") % 1000) / F.lit(1000.0),
                               3))).cast("int").cast("string"), 2, "0"),
        F.lit(".example.org"))
    d = _docs(spark, sf_dir).select("doc_id", host.alias("host"))
    capped = S.quota_cap(d, ["host"], "doc_id", cap=25,
                         skew_threshold=100, n_bands=8)
    return (capped.groupBy("host")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.sum("doc_id").cast("long").alias("sum_kept_ids"),
                 F.max("doc_id").cast("long").alias("max_kept_id")))


SQL_DOMAIN_QUOTA = (
    f"WITH s AS (SELECT doc_id, {HOST_SQL} AS host FROM documents), "
    "r AS (SELECT doc_id, host, "
    "row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rk "
    "FROM s) "
    "SELECT host, CAST(count(*) AS BIGINT) AS n_kept, "
    "CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids, "
    "CAST(max(doc_id) AS BIGINT) AS max_kept_id "
    "FROM r WHERE rk <= 25 GROUP BY 1"
)


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (operators/perplexity.py):
    per-language unigram LM over the corpus, per-doc token-mean
    surprisal, head/middle/tail split on fixed thresholds (3.394 /
    3.408 ≈ the sf0.001 quartiles — CCNet derives thresholds from a
    held-out distribution; they enter as constants). Output: per
    (lang, bucket) doc count, token volume, and the summed doc-mean
    surprisal rounded to 6dp (both engines compute ln() in IEEE
    double; the round absorbs last-ulp drift)."""
    from .operators import perplexity as P
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    model = P.unigram_model(d, group_cols=("lang",))
    scored = P.surprisal_scores(d, model, id_cols=("doc_id",),
                                group_cols=("lang",))
    b = P.perplexity_buckets(scored, head_below=3.394, tail_from=3.408)
    return (b.groupBy("lang", "ppl_bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.round(F.sum("mean_surprisal"), 6)
                 .alias("sum_mean_surprisal")))


SQL_PERPLEXITY_BUCKETS = (
    "WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) "
    "AS word FROM documents), "
    "w2 AS (SELECT * FROM w WHERE word <> ''), "
    "dw AS (SELECT doc_id, lang, word, count(*) AS k "
    "FROM w2 GROUP BY 1, 2, 3), "
    "m AS (SELECT lang, word, count(*) AS n FROM w2 GROUP BY 1, 2), "
    "t AS (SELECT lang, sum(n) AS total FROM m GROUP BY 1), "
    "lp AS (SELECT m.lang, m.word, ln(m.n / t.total) AS logp "
    "FROM m JOIN t USING (lang)), "
    "s AS (SELECT dw.doc_id, dw.lang, "
    "sum(dw.k * -lp.logp) / sum(dw.k) AS ms, sum(dw.k) AS nt "
    "FROM dw JOIN lp ON dw.lang = lp.lang AND dw.word = lp.word "
    "GROUP BY 1, 2) "
    "SELECT lang, CASE WHEN ms < 3.394 THEN 'head' "
    "WHEN ms < 3.408 THEN 'middle' ELSE 'tail' END AS ppl_bucket, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(nt) AS BIGINT) AS n_tokens, "
    "round(sum(ms), 6) AS sum_mean_surprisal "
    "FROM s GROUP BY 1, 2"
)


def q_dsir_select(spark, sf_dir):
    """DSIR data selection (operators/perplexity.py): importance
    weight = token-mean log p_target/p_raw under two corpus unigram
    models (target = the 'en' slice standing in for the domain corpus,
    raw = everything), then deterministic Gumbel top-50 resampling
    (noise from the md5 hash bucket, so Spark, a re-run, and the
    DuckDB oracle select the same rows). orderBy+limit compiles to
    TakeOrderedAndProject — no global sort."""
    from .operators import perplexity as P
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    target = P.unigram_model(d.filter(F.col("lang") == "en"),
                             group_cols=())
    raw = P.unigram_model(d, group_cols=())
    wts = P.importance_weights(d, target, raw, id_cols=("doc_id",),
                               group_cols=())
    sel = P.dsir_sample(wts, k=50)
    return sel.select(
        "doc_id",
        F.round("log_importance", 6).alias("log_importance"),
        "n_tokens")


SQL_DSIR_SELECT = (
    "WITH tw AS (SELECT unnest(string_split(text, ' ')) AS word "
    "FROM documents WHERE lang = 'en'), "
    "tm AS (SELECT word, count(*) AS n FROM tw WHERE word <> '' "
    "GROUP BY 1), "
    "tt AS (SELECT sum(n) AS total FROM tm), "
    "tl AS (SELECT word, ln(n / (SELECT total FROM tt)) AS lpt "
    "FROM tm), "
    "rw AS (SELECT unnest(string_split(text, ' ')) AS word "
    "FROM documents), "
    "rm AS (SELECT word, count(*) AS n FROM rw WHERE word <> '' "
    "GROUP BY 1), "
    "rt AS (SELECT sum(n) AS total FROM rm), "
    "rl AS (SELECT word, ln(n / (SELECT total FROM rt)) AS lpr "
    "FROM rm), "
    "w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
    "FROM documents), "
    "dw AS (SELECT doc_id, word, count(*) AS k FROM w "
    "WHERE word <> '' GROUP BY 1, 2), "
    "s AS (SELECT dw.doc_id, "
    "sum(dw.k * (coalesce(tl.lpt, -20.0) - coalesce(rl.lpr, -20.0)))"
    " / sum(dw.k) AS li, sum(dw.k) AS nt "
    "FROM dw LEFT JOIN tl USING (word) LEFT JOIN rl USING (word) "
    "GROUP BY 1), "
    "g AS (SELECT doc_id, li, nt, li + -ln(-ln((("
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 1000000) + 0.5) / 1000000.0)) AS score FROM s) "
    "SELECT doc_id, round(li, 6) AS log_importance, "
    "CAST(nt AS BIGINT) AS n_tokens "
    "FROM g ORDER BY score DESC, doc_id LIMIT 50"
)


def q_semdedup(spark, sf_dir):
    """SemDedup (Abbas et al. 2023): cluster embeddings (deterministic
    fixed codebook, vec_id<16 as centroids — the same quantizer as
    ann_ivf_topk), then drop every vector within 0.95 cosine of a
    lower-id vector IN ITS CLUSTER. Planted dups (every 13th vector
    re-scaled by 1.001, id+100000) must all be dropped: same direction
    ⇒ cosine 1.0, and the original id is lower. Oracle replicates the
    assignment argmin, the within-cluster triangle join, and the
    id-greedy drop policy exactly."""
    from .operators import semdedup as sd
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    extra = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias(
            "embedding"),
    )
    allv = emb.unionAll(extra)
    cb = sd.fixed_codebook(allv, n_clusters=16)
    return sd.semdedup(allv, cb, threshold=0.95)


SQL_SEMDEDUP = (
    "WITH all_vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings UNION ALL SELECT vec_id + 100000 AS vec_id, "
    "list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001) AS e "
    "FROM embeddings WHERE vec_id % 13 = 0), "
    "c AS (SELECT vec_id AS cluster_id, e AS ce, "
    "list_dot_product(e, e) AS cn2 FROM all_vecs WHERE vec_id < 16), "
    "a AS (SELECT v.vec_id, c.cluster_id, row_number() OVER "
    "(PARTITION BY v.vec_id ORDER BY c.cn2 - 2 * "
    "list_dot_product(v.e, c.ce), c.cluster_id) AS rn "
    "FROM all_vecs v CROSS JOIN c), "
    "ass AS (SELECT v.vec_id, a.cluster_id, v.e, "
    "sqrt(list_dot_product(v.e, v.e)) AS nrm FROM all_vecs v "
    "JOIN a ON a.vec_id = v.vec_id AND a.rn = 1), "
    "dropped AS (SELECT DISTINCT y.vec_id FROM ass x JOIN ass y "
    "ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id "
    "WHERE list_dot_product(x.e, y.e) / (x.nrm * y.nrm) >= 0.95) "
    "SELECT s.vec_id, CAST(s.cluster_id AS INT) AS cluster_id "
    "FROM ass s WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)"
)


def q_semdedup_scaled(spark, sf_dir):
    """SemDedup at a codebook size ABOVE the literal-expression ceiling
    (VERDICT r4 #2): 300 fixed centroids force assign_clusters onto the
    Arrow-batch matmul kernel — the mechanism a paper-scale (~sqrt(N),
    100k-cluster) codebook needs, since a literal argmin expression of
    that size would not compile. Same planted dups and drop policy as
    q_semdedup; the oracle replicates the 300-centroid argmin, the
    within-cluster triangle join, and the id-greedy drop exactly, so a
    kernel-vs-expression assignment divergence would hash-mismatch
    here."""
    from .operators import semdedup as sd
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    extra = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias(
            "embedding"),
    )
    allv = emb.unionAll(extra)
    cb = sd.fixed_codebook(allv, n_clusters=300)
    return sd.semdedup(allv, cb, threshold=0.95)


SQL_SEMDEDUP_SCALED = (
    "WITH all_vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings UNION ALL SELECT vec_id + 100000 AS vec_id, "
    "list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001) AS e "
    "FROM embeddings WHERE vec_id % 13 = 0), "
    "c AS (SELECT vec_id AS cluster_id, e AS ce, "
    "list_dot_product(e, e) AS cn2 FROM all_vecs WHERE vec_id < 300), "
    "a AS (SELECT v.vec_id, c.cluster_id, row_number() OVER "
    "(PARTITION BY v.vec_id ORDER BY c.cn2 - 2 * "
    "list_dot_product(v.e, c.ce), c.cluster_id) AS rn "
    "FROM all_vecs v CROSS JOIN c), "
    "ass AS (SELECT v.vec_id, a.cluster_id, v.e, "
    "sqrt(list_dot_product(v.e, v.e)) AS nrm FROM all_vecs v "
    "JOIN a ON a.vec_id = v.vec_id AND a.rn = 1), "
    "dropped AS (SELECT DISTINCT y.vec_id FROM ass x JOIN ass y "
    "ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id "
    "WHERE list_dot_product(x.e, y.e) / (x.nrm * y.nrm) >= 0.95) "
    "SELECT s.vec_id, CAST(s.cluster_id AS INT) AS cluster_id "
    "FROM ass s WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)"
)


def q_kmv_distinct(spark, sf_dir):
    """Mergeable KMV distinct-count sketch: per-(source, lang) sketches
    of the distinct 10-word lines (k=64 minima of the engine's 60-bit
    md5 hash), MERGED down to per-source — never re-touching raw data —
    and compared against the exact distinct count. The merge is the
    point: per-slice sketch rows pre-aggregate like sums, which exact
    count-distinct cannot. Oracle replicates hash, minima, merge, and
    the (k-1)/h_k estimator bit-for-bit."""
    from .operators import sketches as sk
    # no _spread: the line-chunk map is cheap next to the two
    # count-distinct shuffles, and the repartition was a pure fixed
    # cost at every measured scale (sf0.1: 0.58 s -> 1.05 s with it;
    # sf1.0 flat at ~2.0 s either way)
    d = _docs(spark, sf_dir).select(
        "source", "lang",
        F.explode(chunk_lines_col()).alias("line"))
    sketches = sk.kmv_sketch(d, ["source", "lang"], "line", k=64)
    merged = sk.kmv_merge(sketches, ["source"], k=64)
    exact = d.groupBy("source").agg(
        F.countDistinct("line").cast("long").alias("n_distinct_exact"))
    return (merged.join(exact, "source")
            .select("source", "n_distinct_est", "n_distinct_exact"))


SQL_KMV_DISTINCT = (
    f"WITH d AS (SELECT source, lang, unnest(string_split({CHUNK_SQL}, "
    "chr(10))) AS line FROM documents), "
    "h AS (SELECT DISTINCT source, lang, "
    "CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS hv FROM d), "
    "r AS (SELECT source, lang, hv, row_number() OVER "
    "(PARTITION BY source, lang ORDER BY hv) AS rn FROM h), "
    "m AS (SELECT DISTINCT source, hv FROM r WHERE rn <= 64), "
    "r2 AS (SELECT source, hv, row_number() OVER "
    "(PARTITION BY source ORDER BY hv) AS rn FROM m), "
    "agg AS (SELECT source, count(*) AS n, "
    "max(CASE WHEN rn = 64 THEN hv END) AS h64 "
    "FROM r2 WHERE rn <= 64 GROUP BY source), "
    "ex AS (SELECT source, count(DISTINCT line) AS nx FROM d "
    "GROUP BY source) "
    "SELECT agg.source, CAST(CASE WHEN n < 64 THEN n ELSE "
    "CAST(round(63 * pow(2.0, 60) / h64) AS BIGINT) END AS BIGINT) "
    "AS n_distinct_est, CAST(nx AS BIGINT) AS n_distinct_exact "
    "FROM agg JOIN ex USING (source)"
)


def q_cooccurrence_pmi(spark, sf_dir):
    """Top-30 co-occurring word pairs (window 2, alphabetically
    pooled) with PMI — collocation mining over the corpus. Pair
    generation is map-only (flatten/zip_with over each token array, no
    positions self-join); counts are two vocab-bounded groupBys; the
    oracle replicates with a positions self-join (fine at oracle
    scale) and the identical integer ranking key."""
    from .operators.terms import cooccurrence_pmi
    return cooccurrence_pmi(_spread(_docs(spark, sf_dir)), window=2,
                            k=30, min_pair_count=2)


SQL_COOCCURRENCE_PMI = (
    "WITH s AS (SELECT doc_id, string_split(text, ' ') AS l "
    "FROM documents), "
    "t AS (SELECT doc_id, unnest(l) AS w, "
    "unnest(generate_series(1, len(l))) AS pos FROM s), "
    "p0 AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2 "
    "FROM t a JOIN t b ON a.doc_id = b.doc_id "
    "AND b.pos - a.pos BETWEEN 1 AND 2), "
    "pairs AS (SELECT w1, w2, count(*) AS pair_count FROM p0 "
    "GROUP BY 1, 2), "
    "uni AS (SELECT w, count(*) AS cw FROM t GROUP BY 1), "
    "nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM t), "
    "np AS (SELECT CAST(sum(pair_count) AS DOUBLE) AS n_pairs "
    "FROM pairs) "
    "SELECT pairs.w1, pairs.w2, "
    "CAST(pairs.pair_count AS BIGINT) AS pair_count, "
    "round(ln((pairs.pair_count / np.n_pairs) / "
    "((c1.cw / nt.n_tok) * (c2.cw / nt.n_tok))), 6) AS pmi "
    "FROM pairs JOIN uni c1 ON c1.w = pairs.w1 "
    "JOIN uni c2 ON c2.w = pairs.w2 CROSS JOIN nt CROSS JOIN np "
    "WHERE pairs.pair_count >= 2 "
    "ORDER BY pairs.pair_count DESC, pairs.w1, pairs.w2 LIMIT 30"
)


def q_zorder_locality(spark, sf_dir):
    """Z-order layout key over events (user dimension x id/time
    dimension): Morton-interleave both ids, bucket by the top z-bits,
    and report each bucket's row count and per-dimension min/max — the
    bounded-rectangle property that makes parquet min/max stats prune
    on EITHER predicate after an OPTIMIZE ZORDER-style rewrite. Key
    and bucketing are pure integer expressions, mirrored exactly in
    the oracle (generated from the same bit-placement scheme)."""
    from .functions.layout import zorder_key_col
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    z = zorder_key_col(F.col("user_id"), F.col("event_id"))
    return (ev.select(F.shiftrightunsigned(z, 22).alias("zbucket"),
                      "user_id", "event_id")
            .groupBy("zbucket")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.min("user_id").alias("user_min"),
                 F.max("user_id").alias("user_max"),
                 F.min("event_id").alias("event_min"),
                 F.max("event_id").alias("event_max")))


def _sql_zorder_locality() -> str:
    from .functions.layout import zorder_key_sql
    zv = zorder_key_sql("user_id", "event_id")
    return (
        # list_sum yields HUGEINT — cast down or the bucket surfaces
        # as float through Arrow/pandas and the value-hash mismatches
        f"WITH z AS (SELECT user_id, event_id, "
        f"CAST(({zv}) >> 22 AS BIGINT) AS zbucket FROM events) "
        "SELECT zbucket, CAST(count(*) AS BIGINT) AS n_events, "
        "min(user_id) AS user_min, max(user_id) AS user_max, "
        "min(event_id) AS event_min, max(event_id) AS event_max "
        "FROM z GROUP BY zbucket"
    )


SQL_ZORDER_LOCALITY = _sql_zorder_locality()


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-prep vocabulary audit: build the top-64 word vocab
    (integer ranking: count desc, word asc) and report each document's
    token coverage and OOV type count — the go/no-go check before
    committing a tokenizer vocabulary. Corpus tokens join the
    broadcast vocab; the corpus never shuffles."""
    from .operators.terms import vocab_coverage
    return vocab_coverage(_docs(spark, sf_dir), vocab_size=64)


SQL_VOCAB_COVERAGE = (
    "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
    "FROM documents), "
    "v AS (SELECT w FROM (SELECT w, count(*) AS c FROM t GROUP BY 1 "
    "ORDER BY c DESC, w LIMIT 64)), "
    "j AS (SELECT t.doc_id, t.w, v.w IS NOT NULL AS iv FROM t "
    "LEFT JOIN v ON t.w = v.w) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    "CAST(sum(CASE WHEN NOT iv THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_oov_tokens, "
    "CAST(count(DISTINCT CASE WHEN NOT iv THEN w END) AS BIGINT) "
    "AS n_oov_types, "
    "CAST(floor(sum(CASE WHEN iv THEN 1 ELSE 0 END) * 100 / count(*)) "
    "AS INT) AS coverage_pct "
    "FROM j GROUP BY doc_id"
)


def q_pruned_scan(spark, sf_dir):
    """File-skipping end-to-end: write events z-ordered on
    (user_id, event_id>>6) — two balanced ~8-bit dimensions, so each
    output file's min/max stay tight on BOTH — build the Iceberg-style
    per-file stats manifest from the parquet footers, and run a
    user-range scan that reads only the overlapping files plus the
    residual filter. The oracle is the plain full-scan predicate:
    row-identical results prove pruning loses nothing (the skip RATIO
    is pytest-asserted, test_functions)."""

    from .functions.layout import cluster_by_zorder, zorder_key_col
    from .sources.stats_prune import pruned_read, stats_manifest
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type")
    z = zorder_key_col(F.col("user_id"),
                       F.shiftrightunsigned(F.col("event_id"), 6))
    out_dir = scratch_dir("dte_q_zscan_")
    cluster_by_zorder(ev, z, n_files=16).write.mode(
        "overwrite").parquet(out_dir)
    manifest = stats_manifest(out_dir, ["user_id"])
    # out_dir BACKS the returned lazy DataFrame; left in place
    return pruned_read(spark, out_dir, manifest, "user_id", 10, 30)


SQL_PRUNED_SCAN = (
    "SELECT event_id, user_id, event_type FROM events "
    "WHERE user_id BETWEEN 10 AND 30"
)


BM25_QUERY_TERMS = ["spark", "hash", "window"]


def q_bm25_topk(spark, sf_dir):
    """BM25 top-20 for the literal query [spark, hash, window] over the
    documents table (k1=1.2, b=0.75, Lucene 1+ln idf). Postings come
    from a pushed-down ``term IN (query)`` filter — the corpus is never
    joined; ordering is on the 1e-4-floored score in both engines so
    libm-vs-DuckDB ``ln`` ULPs cannot reorder the cutoff."""
    from .operators.terms import bm25_topk
    return bm25_topk(_docs(spark, sf_dir), BM25_QUERY_TERMS, k=20)


SQL_BM25_TOPK = (
    "WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
    "FROM documents), "
    "tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf "
    "WHERE term IN ('spark', 'hash', 'window') GROUP BY 1, 2), "
    "dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfc "
    "GROUP BY 1), "
    "dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) "
    "AS dl FROM documents), "
    "st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) "
    "AS n, (SELECT avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) "
    "FROM documents) AS avgdl), "
    "s AS (SELECT tfc.doc_id, sum(ln(1 + (st.n - dft.df + 0.5) / "
    "(dft.df + 0.5)) * (tfc.tf * 2.2) / (tfc.tf + 1.2 * "
    "(1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS sc, "
    "count(*) AS nh FROM tfc JOIN dft USING (term) "
    "JOIN dl USING (doc_id) CROSS JOIN st GROUP BY 1) "
    "SELECT doc_id, floor(sc * 1e4) / 1e4 AS bm25, "
    "CAST(nh AS BIGINT) AS n_terms_hit "
    "FROM s ORDER BY bm25 DESC, doc_id LIMIT 20"
)


_BANNER_PREFIX = "cookie notice this site"
_BANNER_SUFFIX = "uses tracking pixels consent required"


def _templated_docs(spark, sf_dir):
    """documents with a host-specific 10-word cookie-banner line
    prepended to 2/3 of each host's pages (doc_id % 3 != 2) — the
    planted site template. Exactly 10 words, so the golden 10-word
    chunking yields the banner as its own line and leaves every
    following line identical to the unplanted text's."""
    d = _spread(_docs(spark, sf_dir))
    host = _host_col_of(F.col("doc_id"))
    banner = F.concat_ws(" ", F.lit(_BANNER_PREFIX), host,
                         F.lit(_BANNER_SUFFIX))
    return d.select(
        host.alias("host"), "doc_id",
        F.when(F.col("doc_id") % 3 != 2,
               F.concat_ws(" ", banner, F.col("text")))
        .otherwise(F.col("text")).alias("text"))


_TPL_D0_SQL = (
    f"SELECT doc_id, {HOST_SQL} AS host, "
    f"CASE WHEN doc_id % 3 <> 2 THEN '{_BANNER_PREFIX} ' || {HOST_SQL} "
    f"|| ' {_BANNER_SUFFIX} ' || text ELSE text END AS t FROM documents"
)
_TPL_LINES_SQL = (
    "SELECT host, doc_id, unnest(l) AS line, "
    "unnest(generate_series(1, len(l))) AS pos FROM "
    "(SELECT host, doc_id, string_split("
    + CHUNK_SQL.replace("(text,", "(t,") + ", chr(10)) AS l FROM d0)"
)


def q_template_lines(spark, sf_dir):
    """Host-template (boilerplate) line detection: lines present in
    >= 50% of a host's documents (hosts with >= 3 docs). The planted
    banner covers 2/3 of each host's pages, so it — and in this random
    corpus essentially only it — crosses the threshold per host."""
    from .operators import boilerplate as bp
    td = _templated_docs(spark, sf_dir)
    lines = bp.doc_lines(td, chunk_lines_col(), host_col="host")
    return bp.host_template_lines(lines, min_frac=0.5, min_docs=3)


SQL_TEMPLATE_LINES = (
    f"WITH d0 AS ({_TPL_D0_SQL}), "
    f"lines AS ({_TPL_LINES_SQL}), "
    "pl AS (SELECT host, line, count(DISTINCT doc_id) AS n_docs "
    "FROM lines GROUP BY 1, 2), "
    "ph AS (SELECT host, count(DISTINCT doc_id) AS host_docs "
    "FROM lines GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3) "
    "SELECT pl.host, pl.line, CAST(pl.n_docs AS BIGINT) AS n_docs, "
    "CAST(ph.host_docs AS BIGINT) AS host_docs "
    "FROM pl JOIN ph USING (host) "
    "WHERE pl.n_docs * 1.0 >= 0.5 * ph.host_docs"
)


def q_template_scrub(spark, sf_dir):
    """Documents reassembled with their host's template lines stripped
    (detector feeding scrubber end-to-end): planted banner pages lose
    exactly the banner line; every other line — and every page of a
    sub-threshold host — survives byte-identical."""
    from .operators import boilerplate as bp
    td = _templated_docs(spark, sf_dir)
    lines = bp.doc_lines(td, chunk_lines_col(), host_col="host")
    tpl = bp.host_template_lines(lines, min_frac=0.5, min_docs=3)
    return bp.scrub_template_lines(lines, tpl)


SQL_TEMPLATE_SCRUB = (
    f"WITH d0 AS ({_TPL_D0_SQL}), "
    f"lines AS ({_TPL_LINES_SQL}), "
    "pl AS (SELECT host, line, count(DISTINCT doc_id) AS n_docs "
    "FROM lines GROUP BY 1, 2), "
    "ph AS (SELECT host, count(DISTINCT doc_id) AS host_docs "
    "FROM lines GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3), "
    "tpl AS (SELECT pl.host, pl.line FROM pl JOIN ph USING (host) "
    "WHERE pl.n_docs * 1.0 >= 0.5 * ph.host_docs), "
    "j AS (SELECT lines.host, lines.doc_id, lines.pos, lines.line, "
    "tpl.line IS NOT NULL AS is_tpl FROM lines "
    "LEFT JOIN tpl ON lines.host = tpl.host AND lines.line = tpl.line) "
    "SELECT host, doc_id, CAST(count(*) AS BIGINT) AS n_lines, "
    "CAST(sum(CASE WHEN is_tpl THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_template_lines, "
    "coalesce(string_agg(CASE WHEN NOT is_tpl THEN line END, chr(10) "
    "ORDER BY pos), '') AS cleaned_text "
    "FROM j GROUP BY host, doc_id"
)


def q_media_phash(spark, sf_dir):
    """Image near-dup via perceptual hash: aHash per image (Arrow-batch
    kernel — REAL PNG decode + 8x8 downsample + mean threshold +
    bit-pack) then Hamming<=3 pairs via pigeonhole 16-bit band join
    (the simhash scheme on the image side). Every 6th id plants a
    RE-ENCODED copy at media_id+10000: the same pixels written with
    Sub-filter scanlines — DIFFERENT payload bytes, so only a true
    pixel-level decode→hash path (not byte identity) finds the pair
    (Hamming 0; the classic same-image/different-compression dedup
    case, r5). Every 12th id additionally plants a LOSSY quality-100
    JPEG re-encode at media_id+20000 (jpegcodec.encode_jpeg — the
    from-scratch baseline codec): decoded pixels differ by ±2 LSB
    from the original, so the pair survives only through a real
    entropy-decode + IDCT path; measured Hamming is 0 for every
    planted id except 180 (Hamming 1), deterministic and pinned in
    test_media_jpeg. The oracle enumerates the planted pair set from
    the generator formulas — exact because the synth pixels leave
    zero accidental Hamming<=3 pairs among the 100 distinct images
    (verified property, pinned in test_modules); the hash arithmetic
    itself is pytest-checked against a numpy reference."""
    import pandas as pd

    from .multimodal import media as M
    # spread payload synthesis across tasks: the JPEG encodes are the
    # expensive generator step (pure-Python entropy coding), and the
    # 300-id scan otherwise lands in one or two input splits
    ids = _docs(spark, sf_dir).select("doc_id").filter(
        F.col("doc_id") < 300).repartition(16, F.col("doc_id"))

    def gen(batches):
        from .multimodal import jpegcodec as J
        cols = [f.name for f in M.MEDIA_SCHEMA.fields]
        for b in batches:
            rows = []
            for i in b["doc_id"]:
                rows.append(M.synth_media_row(int(i)))
                if int(i) % 6 == 0:  # re-encoded copy (same pixels,
                    i = int(i)       # different bytes: Sub filter)
                    w, h = 16 + (i % 64) * 8, 16 + (i % 48) * 8
                    px = M._synth_pixels(w, h, i)
                    reenc = M._encode_png(px, filter_type=1)
                    rows.append((i + 10000, "image", reenc,
                                 "image/png", w, h, -1))
                    if i % 12 == 0:  # lossy JPEG copy (±2 LSB pixels)
                        jp = J.encode_jpeg(px, quality=100)
                        rows.append((i + 20000, "image", jp,
                                     "image/jpeg", w, h, -1))
            yield pd.DataFrame(rows, columns=cols)

    media = ids.mapInPandas(gen, schema=M.MEDIA_SCHEMA)
    hashes = M.ahash_images(media)
    return M.phash_near_duplicates(hashes, max_hamming=3, n_bands=4)


SQL_MEDIA_PHASH = (
    # png copy pairs (lossless → hamming 0), jpeg copy pairs and
    # png-copy×jpeg-copy pairs (lossy → measured hamming, 1 only for
    # id 180 — deterministic, pinned in test_media_jpeg)
    "SELECT doc_id AS id_a, doc_id + 10000 AS id_b, "
    "CAST(0 AS INT) AS hamming "
    "FROM documents WHERE doc_id < 300 AND doc_id % 6 = 0 "
    "UNION ALL SELECT doc_id, doc_id + 20000, "
    "CAST(CASE WHEN doc_id = 180 THEN 1 ELSE 0 END AS INT) "
    "FROM documents WHERE doc_id < 300 AND doc_id % 12 = 0 "
    "UNION ALL SELECT doc_id + 10000, doc_id + 20000, "
    "CAST(CASE WHEN doc_id = 180 THEN 1 ELSE 0 END AS INT) "
    "FROM documents WHERE doc_id < 300 AND doc_id % 12 = 0"
)


def q_length_quantiles(spark, sf_dir):
    """Document-length percentiles (p50/p90/p99 of n_chars per lang)
    from the MERGEABLE digit-histogram sketch: per-(lang, source)
    sketch rows rolled up to lang by plain SUM — the metrics-cube path
    that never re-scans raw data — then quantile estimates as exact
    integer bin-edge arithmetic (no percentile_approx, no log10 ULP
    hazards; the oracle replicates binning, merge, and estimator)."""
    from .operators import sketches as sk
    d = _docs(spark, sf_dir)
    per_src = sk.digit_histogram_sketch(d, ["lang", "source"], "n_chars")
    merged = sk.digit_histogram_merge(per_src, ["lang"])
    return sk.digit_histogram_quantiles(merged, ["lang"],
                                        [0.5, 0.9, 0.99])


SQL_LENGTH_QUANTILES = (
    "WITH s AS (SELECT lang, source, "
    "CAST(length(CAST(n_chars AS VARCHAR)) AS INT) AS bin_digits, "
    "CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS INT) AS bin_lead, "
    "count(*) AS n FROM documents WHERE n_chars > 0 "
    "GROUP BY 1, 2, 3, 4), "
    "m AS (SELECT lang, bin_digits, bin_lead, CAST(sum(n) AS BIGINT) "
    "AS n FROM s GROUP BY 1, 2, 3), "
    "c AS (SELECT lang, bin_digits, bin_lead, n, "
    "sum(n) OVER (PARTITION BY lang ORDER BY bin_digits, bin_lead "
    "ROWS UNBOUNDED PRECEDING) AS cum, "
    "sum(n) OVER (PARTITION BY lang) AS tot FROM m), "
    "q AS (SELECT * FROM (VALUES (500), (900), (990)) AS t(ppm)), "
    "hit AS (SELECT c.lang, q.ppm, c.bin_digits, c.bin_lead, "
    "row_number() OVER (PARTITION BY c.lang, q.ppm "
    "ORDER BY c.bin_digits, c.bin_lead) AS rn "
    "FROM c CROSS JOIN q WHERE c.cum >= ceil(c.tot * q.ppm / 1000.0)) "
    "SELECT lang, CAST(ppm AS INT) AS q_permille, "
    "CAST((bin_lead + 1) * pow(10.0, bin_digits - 1) AS BIGINT) "
    "AS quantile_est FROM hit WHERE rn = 1"
)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Ordered RISK-FIRST: the correctness driver checks the first 50
# entries, so queries that are new, changed this round, or lacked a
# green driver row last round come first; long-stable green queries
# (extraction roundtrips were green r1+r2, the planted/window family
# green r1 and/or r2 + pytest) fill the tail. Append new queries to the
# FRONT group, not mid-dict.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ---- FIRST 50 = the driver window (risk-first; the rotation test
    # enforces dirty-set containment). The dirty set overflows the
    # window (79 queries): the extraction-core edits mark every query
    # that runs the extraction map dirty, the dedup/neardup/components/
    # graphrank/media/fields/textstats/sections edits mark their
    # consumers (also through queries.py's top-level imports). Every
    # directly edited query sits here and every slot holds a dirty
    # query; 29 transitively dirty queries overflow past position 50
    # (the full 115-query sweep re-verifies them). -----
    "streaming_neardup_dedup": q_streaming_neardup_dedup,
    "pruned_scan": q_pruned_scan,
    "streaming_incremental_dedup": q_streaming_incremental_dedup,
    "extract_charset_roundtrip": q_extract_charset_roundtrip,
    "media_phash": q_media_phash,
    "media_features": q_media_features,
    "kmv_distinct": q_kmv_distinct,
    "winnow_fingerprints": q_winnow_fingerprints,
    "minhash_neardup": q_minhash_neardup,
    "simhash_neardup": q_simhash_neardup,
    "ngram_jaccard": q_ngram_jaccard,
    "winnow_overlap": q_winnow_overlap,
    "cdx_index": q_cdx_index,
    "robots_txt_filter": q_robots_txt_filter,
    "robots_meta": q_robots_meta,
    "streaming_extract_roundtrip": q_streaming_extract_roundtrip,
    "extract_html_roundtrip": q_extract_html_roundtrip,
    "extract_pdf_roundtrip": q_extract_pdf_roundtrip,
    "extract_docx_roundtrip": q_extract_docx_roundtrip,
    "extract_pdf15_roundtrip": q_extract_pdf15_roundtrip,
    "extract_pdf_matrix_roundtrip": q_extract_pdf_matrix_roundtrip,
    "extract_pdf_type3_roundtrip": q_extract_pdf_type3_roundtrip,
    "extract_pdf_rotated_roundtrip": q_extract_pdf_rotated_roundtrip,
    "extract_pdf_cmap_roundtrip": q_extract_pdf_cmap_roundtrip,
    "length_quantiles": q_length_quantiles,
    "wat_roundtrip": q_wat_roundtrip,
    "anchor_text_index": q_anchor_text_index,
    "wet_roundtrip": q_wet_roundtrip,
    "pdf_ocr_budget": q_pdf_ocr_budget,
    "extract_pdf_filters_roundtrip": q_extract_pdf_filters_roundtrip,
    "extract_pdf_links": q_extract_pdf_links,
    "extract_docx_links": q_extract_docx_links,
    "extract_volume_by_route": q_extract_volume_by_route,
    "extract_pdf_block_counts": q_extract_pdf_block_counts,
    "extract_status_counts": q_extract_status_counts,
    "pdf_failure_budget": q_pdf_failure_budget,
    "extract_fail_reasons": q_extract_fail_reasons,
    "extract_route_counts": q_extract_route_counts,
    "sitemap_entries": q_sitemap_entries,
    "capture_diff": q_capture_diff,
    "frontier_plan": q_frontier_plan,
    "host_topk": q_host_topk,
    "host_volume": q_host_volume,
    "latest_capture": q_latest_capture,
    "blocklist_filter": q_blocklist_filter,
    "robots_noindex": q_robots_noindex,
    "link_graph": q_link_graph,
    "status_cube": q_status_cube,
    "host_hits": q_host_hits,
    "host_pagerank": q_host_pagerank,
    "dup_clusters": q_dup_clusters,
    # ---- position 51+: transitive-overflow (saturated state) and
    # long-stable greens (r2-r5 rows + pytest) -------------------------
    "semdedup_scaled": q_semdedup_scaled,
    "ann_ivf_trained": q_ann_ivf_trained,
    "media_sample_plan": q_media_sample_plan,
    "semdedup": q_semdedup,
    "cooccurrence_pmi": q_cooccurrence_pmi,
    "dedup_keep_first": q_dedup_keep_first,
    "pii_scrub": q_pii_scrub,
    "line_dedup": q_line_dedup,
    "contamination": q_contamination,
    "repetition_stats": q_repetition_stats,
    "decontaminate_count": q_decontaminate_count,
    "tfidf_top_terms": q_tfidf_top_terms,
    "lang_id": q_lang_id,
    "exact_substring_spans": q_exact_substring_spans,
    "exact_substring_dedup": q_exact_substring_dedup,
    "curate_corpus": q_curate_corpus,
    "bm25_topk": q_bm25_topk,
    "vocab_coverage": q_vocab_coverage,
    "zorder_locality": q_zorder_locality,
    "temperature_sample": q_temperature_sample,
    "badwords_filter": q_badwords_filter,
    "intradoc_line_dedup": q_intradoc_line_dedup,
    "template_lines": q_template_lines,
    "template_scrub": q_template_scrub,
    "dedup_exact": q_dedup_exact,
    "incremental_dedup": q_incremental_dedup,
    "train_shuffle_shards": q_train_shuffle_shards,
    "registrable_domains": q_registrable_domains,
    "domain_quota": q_domain_quota,
    "perplexity_buckets": q_perplexity_buckets,
    "dsir_select": q_dsir_select,
    "asof_last_signup": q_asof_last_signup,
    "range_join_windows": q_range_join_windows,
    "cluster_dedup_count": q_cluster_dedup_count,
    "canonical_text": q_canonical_text,
    "quality_scores": q_quality_scores,
    "cv_address_planted": q_cv_address_planted,
    "hypertable_rollup": q_hypertable_rollup,
    "topk_longest": q_topk_longest,
    "embedding_neardup": q_embedding_neardup,
    "ann_lsh_topk": q_ann_lsh_topk,
    "sessions_per_user": q_sessions_per_user,
    "first_event_per_day": q_first_event_per_day,
    "running_value": q_running_value,
    "moving_avg": q_moving_avg,
    "user_event_types": q_user_event_types,
    "event_mode": q_event_mode,
    "skills_match": q_skills_match,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "gopher_quality": q_gopher_quality,
    "pack_sequences": q_pack_sequences,
    "emails_planted": q_emails_planted,
    "cv_fields_planted": q_cv_fields_planted,
    "cv_name_planted": q_cv_name_planted,
    "cv_entities_planted": q_cv_entities_planted,
    "positions_zip": q_positions_zip,
    "sections_planted": q_sections_planted,
    "span_merge_planted": q_span_merge_planted,
    "url_canonical": q_url_canonical,
    "token_stats": q_token_stats,
    "train_val_split": q_train_val_split,
    "corpus_mixture_sample": q_corpus_mixture_sample,
    "chunk_windows": q_chunk_windows,
}

ORACLE_SQL: dict[str, str] = {
    "semdedup": SQL_SEMDEDUP,
    "semdedup_scaled": SQL_SEMDEDUP_SCALED,
    "ann_ivf_trained": SQL_ANN_IVF_TRAINED,
    "media_phash": SQL_MEDIA_PHASH,
    "kmv_distinct": SQL_KMV_DISTINCT,
    "length_quantiles": SQL_LENGTH_QUANTILES,
    "bm25_topk": SQL_BM25_TOPK,
    "vocab_coverage": SQL_VOCAB_COVERAGE,
    "cooccurrence_pmi": SQL_COOCCURRENCE_PMI,
    "zorder_locality": SQL_ZORDER_LOCALITY,
    "pruned_scan": SQL_PRUNED_SCAN,
    "temperature_sample": SQL_TEMPERATURE_SAMPLE,
    "streaming_neardup_dedup": SQL_STREAMING_NEARDUP,
    "badwords_filter": SQL_BADWORDS_FILTER,
    "intradoc_line_dedup": SQL_INTRADOC_LINE_DEDUP,
    "template_lines": SQL_TEMPLATE_LINES,
    "template_scrub": SQL_TEMPLATE_SCRUB,
    "wat_roundtrip": SQL_WAT_ROUNDTRIP,
    "sitemap_entries": SQL_SITEMAP_ENTRIES,
    "host_hits": SQL_HOST_HITS,
    "registrable_domains": SQL_REGISTRABLE_DOMAINS,
    "capture_diff": SQL_CAPTURE_DIFF,
    "frontier_plan": SQL_FRONTIER_PLAN,
    "domain_quota": SQL_DOMAIN_QUOTA,
    "perplexity_buckets": SQL_PERPLEXITY_BUCKETS,
    "dsir_select": SQL_DSIR_SELECT,
    "wet_roundtrip": SQL_WET_ROUNDTRIP,
    "media_features": SQL_MEDIA_FEATURES,
    "media_sample_plan": SQL_MEDIA_SAMPLE_PLAN,
    "extract_charset_roundtrip": SQL_EXTRACT_CHARSET,
    "pdf_ocr_budget": SQL_PDF_OCR_BUDGET,
    "extract_html_roundtrip": SQL_EXTRACT_HTML,
    "extract_docx_roundtrip": SQL_EXTRACT_DOCX,
    "extract_pdf_roundtrip": SQL_EXTRACT_PDF,
    "extract_pdf15_roundtrip": SQL_EXTRACT_PDF15,
    "extract_pdf_matrix_roundtrip": SQL_EXTRACT_PDF_MATRIX,
    "extract_pdf_links": SQL_EXTRACT_PDF_LINKS,
    "extract_docx_links": SQL_EXTRACT_DOCX_LINKS,
    "streaming_extract_roundtrip": SQL_STREAMING_EXTRACT,
    "extract_pdf_type3_roundtrip": SQL_EXTRACT_PDF_TYPE3,
    "extract_pdf_rotated_roundtrip": SQL_EXTRACT_PDF_ROTATED,
    "extract_pdf_cmap_roundtrip": SQL_EXTRACT_PDF_CMAP,
    "extract_pdf_filters_roundtrip": SQL_EXTRACT_PDF_FILTERS,
    "extract_fail_reasons": SQL_FAIL_REASONS,
    "pdf_failure_budget": SQL_PDF_FAILURE_BUDGET,
    "extract_route_counts": SQL_ROUTE_COUNTS,
    "extract_status_counts": SQL_STATUS_COUNTS,
    "extract_volume_by_route": SQL_VOLUME_BY_ROUTE,
    "extract_pdf_block_counts": SQL_PDF_BLOCKS,
    "host_topk": SQL_HOST_TOPK,
    "host_volume": SQL_HOST_VOLUME,
    "emails_planted": SQL_EMAILS,
    "cv_fields_planted": SQL_CV_FIELDS,
    "cv_name_planted": SQL_CV_NAME,
    "cv_address_planted": SQL_CV_ADDRESS,
    "cv_entities_planted": SQL_CV_ENTITIES,
    "positions_zip": SQL_POSITIONS_ZIP,
    "sections_planted": SQL_SECTIONS_PLANTED,
    "span_merge_planted": SQL_SPAN_MERGE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_keep_first": SQL_DEDUP_KEEP_FIRST,
    "exact_substring_spans": SQL_EXACT_SUBSTRING_SPANS,
    "exact_substring_dedup": SQL_EXACT_SUBSTRING_DEDUP,
    "cdx_index": SQL_CDX_INDEX,
    "train_shuffle_shards": SQL_TRAIN_SHUFFLE_SHARDS,
    "canonical_text": SQL_CANONICAL_TEXT,
    "url_canonical": SQL_URL_CANONICAL,
    "token_stats": SQL_TOKEN_STATS,
    "quality_scores": SQL_QUALITY,
    "gopher_quality": SQL_GOPHER,
    "repetition_stats": SQL_REPETITION,
    "line_dedup": SQL_LINE_DEDUP,
    "pii_scrub": SQL_PII_SCRUB,
    "curate_corpus": SQL_CURATE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "host_pagerank": SQL_HOST_PAGERANK,
    "robots_noindex": SQL_ROBOTS_NOINDEX,
    "robots_txt_filter": SQL_ROBOTS_TXT,
    "robots_meta": SQL_ROBOTS_META,
    "asof_last_signup": SQL_ASOF_SIGNUP,
    "range_join_windows": SQL_RANGE_JOIN,
    "hypertable_rollup": SQL_HYPERTABLE,
    "link_graph": SQL_LINK_GRAPH,
    "anchor_text_index": SQL_ANCHOR_TEXT_INDEX,
    "latest_capture": SQL_LATEST_CAPTURE,
    "blocklist_filter": SQL_BLOCKLIST,
    "contamination": SQL_CONTAMINATION,
    "decontaminate_count": SQL_DECONTAMINATE,
    "train_val_split": SQL_TRAIN_VAL_SPLIT,
    "corpus_mixture_sample": SQL_MIXTURE_SAMPLE,
    "chunk_windows": SQL_CHUNK_WINDOWS,
    "tfidf_top_terms": SQL_TFIDF,
    "lang_id": SQL_LANG_ID,
    "skills_match": SQL_SKILLS,
    "topk_longest": SQL_TOPK_LONGEST,
    "ngram_jaccard": SQL_NGRAM_JACCARD_CAPPED,
    "winnow_fingerprints": SQL_WINNOW_FPS,
    "winnow_overlap": SQL_WINNOW_OVERLAP,
    # minhash's LSH verification computes exact Jaccard on candidates →
    # equal to the exact pair set when band recall is 100% (holds here;
    # empirically verified at sf0.001/sf0.01, pytest recall guard)
    "incremental_dedup": SQL_INCREMENTAL_DEDUP,
    "streaming_incremental_dedup": SQL_INCREMENTAL_DEDUP,
    "dup_clusters": SQL_DUP_CLUSTERS,
    "cluster_dedup_count": SQL_CLUSTER_DEDUP,
    "minhash_neardup": SQL_NGRAM_JACCARD,
    "simhash_neardup": SQL_SIMHASH,
    "status_cube": SQL_STATUS_CUBE,
    "first_event_per_day": SQL_FIRST_EVENT,
    "sessions_per_user": SQL_SESSIONS,
    "running_value": SQL_RUNNING,
    "moving_avg": SQL_MOVING_AVG,
    "user_event_types": SQL_USER_EVENT_TYPES,
    "event_mode": SQL_EVENT_MODE,
    "ann_cosine_topk": SQL_ANN_TOPK,
    "ann_lsh_topk": SQL_ANN_LSH,
    "ann_ivf_topk": SQL_ANN_IVF,
    "embedding_neardup": SQL_EMB_NEARDUP,
}
