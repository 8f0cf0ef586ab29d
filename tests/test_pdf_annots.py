"""/Annots Link-annotation URI extraction (PDF 1.7 §12.5.6.5):
hyperlinks live in annotation objects, invisible to the text layer."""

from document_text_extraction_spark import corpus, oracle


def _golden(text: str) -> str:
    return "\n".join(corpus.chunk_text(text))


def test_annots_roundtrip_and_links_both_variants():
    """Variant 0 (flate, inline /Annots + one indirect /A) and variant 1
    (raw, indirect /Annots array): golden text intact, URIs in
    fields.link_uris, the /Text note annot contributes nothing."""
    for doc_id in (17, 97):
        text = corpus.synth_text(doc_id, 120, 240)
        rec = oracle.extract_document(corpus.make_pdf_annots(doc_id, text))
        assert rec["status"] == "ok", (doc_id, rec["reason"])
        assert rec["extracted_text"] == _golden(text)
        assert rec["fields"]["link_uris"] == sorted(
            corpus.annot_uris_for(doc_id))
        assert all("reviewer" not in lk
                   for lk in rec["fields"]["link_uris"])


def test_annot_uris_merge_with_regex_links(spark):
    """Stored annotation URIs union (sorted, distinct) with the links
    ``fields_col()`` finds in the text."""
    from document_text_extraction_spark import pipeline
    from document_text_extraction_spark.functions.fields import fields_col
    fields = dict(oracle.EMPTY_FIELDS,
                  link_uris=["a://first", "https://x.example/dup"])
    df = spark.createDataFrame(
        [("see github.com/someone https://x.example/dup", [], fields)],
        "extracted_text string, spans array<struct<kind:string,"
        f"text:string>>, fields {pipeline.FIELDS_TYPE.simpleString()}")
    out = df.select(fields_col().alias("f")).first().f
    assert out["links"] == ["a://first", "github.com/someone",
                            "https://x.example/dup"]


def test_literal_string_unescape():
    assert oracle._unescape_pdf_literal(rb"a\(b\)c\\d") == "a(b)c\\d"
    assert oracle._unescape_pdf_literal(rb"\101\12z") == "A\nz"
    assert oracle._unescape_pdf_literal(rb"plain") == "plain"
    # octal digits are [0-7] only: \8 and \9 are unknown escapes whose
    # backslash drops (PDF 1.7 §7.3.4.2) — must never raise
    assert oracle._unescape_pdf_literal(rb"a\80") == "a80"
    assert oracle._unescape_pdf_literal(rb"\779") == "?9"
    # backslash-newline is a line continuation contributing nothing
    assert oracle._unescape_pdf_literal(b"a\\\nb") == "ab"
    assert oracle._unescape_pdf_literal(b"a\\\r\nb") == "ab"


def test_bad_escape_in_uri_does_not_kill_document():
    """A URI with a non-octal escape must not turn the whole document
    into a parse_failure."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [5 0 R] >>",
        b"<< /Length 26 >>\nstream\nBT 10 10 Td (x) Tj ET\nendstream",
        b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9] "
        b"/A << /S /URI /URI (https://x.example/a\\80) >> >>",
    ]
    text, _, _, links = oracle.extract_pdf_full(
        corpus._assemble_pdf(objs))
    assert text == "x"
    assert links == ["https://x.example/a80"]


def test_non_link_and_non_uri_annots_ignored():
    """A GoTo action link and a Text note both yield no URIs."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Annots [5 0 R 6 0 R 7 0 R] >>",
        b"<< /Length 26 >>\nstream\nBT 10 10 Td (x) Tj ET\nendstream",
        b"<< /Type /Annot /Subtype /Text /Rect [0 0 9 9] "
        b"/Contents (note) >>",
        b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9] "
        b"/A << /S /GoTo /D (page2) >> >>",
        b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9] "
        b"/A << /S /URI /URI (https://x.example/y) >> >>",
    ]
    _, _, _, links = oracle.extract_pdf_full(corpus._assemble_pdf(objs))
    assert links == ["https://x.example/y"]


def test_annots_slot_in_corpus_route():
    doc_id = 177
    text = corpus.synth_text(doc_id)
    rec = oracle.extract_document(corpus.payload_for(doc_id, text))
    assert rec["status"] == "ok"
    assert rec["fields"]["link_uris"] == corpus.annot_uris_for(doc_id)
