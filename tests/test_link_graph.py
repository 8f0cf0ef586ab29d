"""Outlink collection (<a href> in the extraction pass) + JVM href
resolution (functions/urls.resolve_href_col) + the link-graph query."""

import pytest
from pyspark.sql import functions as F

from document_text_extraction_spark import corpus, oracle
from document_text_extraction_spark.functions import urls as U


def test_outlinks_collected_in_document_order():
    rec = oracle.extract_document(corpus.make_html(3, corpus.synth_text(3)))
    ol = rec["fields"]["outlinks"]
    assert ol[0] == "/home" and ol[-1] == "/privacy"
    assert f"https://ads.example.com/click?id=3" in ol
    assert len(ol) == 24


def test_outlinks_quote_styles_and_entities():
    html = (b"<html><body>"
            b"<a href='/single'>s</a>"
            b"<a href=bare>b</a>"
            b'<a href="/q?a=1&amp;b=2">q</a>'
            b"<a name=anchor>no href</a>"
            b"<p>text</p></body></html>")
    _, _, links, anchors, _ = oracle.extract_html_full(html)
    assert links == ["/single", "bare", "/q?a=1&b=2"]
    assert anchors == ["s", "b", "q"]


def test_meta_robots_directive():
    rec = oracle.extract_document(corpus.make_html(6, corpus.synth_text(6)))
    assert rec["fields"]["meta_robots"] == "noindex, nofollow"
    rec = oracle.extract_document(corpus.make_html(7, corpus.synth_text(7)))
    assert rec["fields"]["meta_robots"] == ""
    # quote styles + case + first-wins
    html = (b"<html><head>"
            b"<META NAME=ROBOTS CONTENT='NOINDEX'>"
            b'<meta name="robots" content="all">'
            b"</head><body><p>x</p></body></html>")
    _, _, _, _, robots = oracle.extract_html_full(html)
    assert robots == "noindex"
    # a non-robots meta contributes nothing
    html2 = b'<html><head><meta name="viewport" content="w"></head><body><p>x</p></body></html>'
    assert oracle.extract_html_full(html2)[4] == ""


def test_non_html_routes_have_empty_outlinks():
    rec = oracle.extract_document(
        corpus.make_pdf(16, corpus.synth_text(16)))
    assert rec["fields"]["outlinks"] == []


def test_docx_hyperlinks_resolved_through_rels():
    doc_id = 52  # %40==12, (52//40)%2==1 -> two links
    text = corpus.synth_text(doc_id)
    rec = oracle.extract_document(corpus.make_docx(doc_id, text))
    assert rec["status"] == "ok"
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(text))
    assert rec["fields"]["link_uris"] == sorted(
        corpus.docx_link_uris_for(doc_id))


def test_docx_short_doc_caps_links_at_paragraph_count():
    """A 2-link-slot doc with a single paragraph can only carry one
    hyperlink (one per paragraph) — the oracle SQL applies the same
    cap."""
    doc_id = 52  # 2 declared URIs
    rec = oracle.extract_document(
        corpus.make_docx(doc_id, "just nine words of text in one short line"))
    assert rec["fields"]["link_uris"] == [
        corpus.docx_link_uris_for(doc_id)[0]]


def test_docx_internal_rels_ignored():
    """Only TargetMode=External relationships become links; a missing
    rels part yields no links (plain make_docx slot)."""
    doc_id = 32  # docx without hyperlinks
    rec = oracle.extract_document(
        corpus.make_docx(doc_id, corpus.synth_text(doc_id)))
    assert rec["fields"]["link_uris"] == []
    # internal (no TargetMode) rel must not leak
    import io
    import zipfile
    buf = io.BytesIO()
    doc = (b'<?xml version="1.0"?><w:document xmlns:w="x" xmlns:r="y">'
           b'<w:body><w:p><w:hyperlink r:id="rId1"><w:r><w:t>t</w:t>'
           b"</w:r></w:hyperlink></w:p></w:body></w:document>")
    rels = (b'<?xml version="1.0"?><Relationships>'
            b'<Relationship Id="rId1" Type="z" Target="internal.xml"/>'
            b"</Relationships>")
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", doc)
        z.writestr("word/_rels/document.xml.rels", rels)
    _, _, links = oracle.extract_docx_full(buf.getvalue())
    assert links == []


def test_resolve_href_semantics(spark):
    base = "https://site01.example.org/dir/page"
    cases = [
        ("https://other.example/x", "https://other.example/x"),
        ("mailto:a@b.c", "mailto:a@b.c"),
        ("//cdn.example/lib.js", "https://cdn.example/lib.js"),
        ("/rooted", "https://site01.example.org/rooted"),
        ("#frag", base + "#frag"),
        ("sibling", "https://site01.example.org/dir/sibling"),
    ]
    df = spark.createDataFrame([(base, h) for h, _ in cases],
                               "base string, href string")
    got = [r.out for r in df.select(
        U.resolve_href_col(F.col("base"), F.col("href")).alias("out")
    ).collect()]
    assert got == [want for _, want in cases]


def test_resolve_href_matches_stdlib_urljoin(spark):
    """Cross-validation against urllib.parse.urljoin for the supported
    href shapes (no dot-segments): the JVM expression must agree with
    the stdlib's RFC 3986 resolution."""
    from urllib.parse import urljoin
    bases = [
        "https://h.example/a/b/c",
        "http://h.example:8080/x",
        "https://h.example/",
    ]
    hrefs = [
        "https://o.example/p", "//cdn.example/q", "/root/p", "p",
        "p/q?x=1", "#f", "mailto:a@b.c",
    ]
    cases = [(b, h) for b in bases for h in hrefs]
    df = spark.createDataFrame(cases, "base string, href string")
    got = [r.out for r in df.select(
        U.resolve_href_col(F.col("base"), F.col("href")).alias("out")
    ).collect()]
    want = [urljoin(b, h) for b, h in cases]
    assert got == want


def test_resolve_href_base_without_path(spark):
    df = spark.createDataFrame(
        [("https://h.example", "rel")], "base string, href string")
    got = df.select(U.resolve_href_col(
        F.col("base"), F.col("href")).alias("o")).collect()[0].o
    assert got == "https://h.example/rel"
