"""Unit tests for the pure-Python oracle against generated fixtures.

Mirrors FIXTURES.md §5: the corpus generator provides known ground truth
(main content == 10-word chunking of the source text); the oracle must
recover it byte-identically for every route.
"""

import pytest

from document_text_extraction_spark import corpus, oracle


def golden_text(text: str) -> str:
    return "\n".join(corpus.chunk_text(text))


# ---------------------------------------------------------------------------
# sniff
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "payload,route",
    [
        (b"%PDF-1.4\nxx", "pdf"),
        (b"  \n%PDF-1.7", "pdf"),
        (b"<!DOCTYPE html><html></html>", "html"),
        (b"<html><body>x</body></html>", "html"),
        (b"   <div>x</div>", "html"),
        (b"", "unknown"),
        (b"\x00\xffbinary", "unknown"),
        (None, "unknown"),
    ],
)
def test_sniff(payload, route):
    assert oracle.sniff(payload) == route


# ---------------------------------------------------------------------------
# HTML
# ---------------------------------------------------------------------------

def test_html_minimal():
    doc = b"<html><body><main><p>hello plain world</p></main></body></html>"
    text, spans, *_ = oracle.extract_html_full(doc)
    assert text == "hello plain world"
    assert [s["kind"] for s in spans] == ["main"]


def test_html_boilerplate_classified():
    doc_id, words = 7, " ".join(["alpha"] * 25)
    data = corpus.make_html(doc_id, words)
    text, spans, *_ = oracle.extract_html_full(data)
    assert text == golden_text(words)
    kinds = {s["kind"] for s in spans}
    assert "boilerplate" in kinds and "main" in kinds
    # nav/footer/ad text never leaks into content
    assert "Buy now" not in text and "Privacy" not in text
    assert "Document" not in text  # h1 title is under <header>


def test_html_list_items():
    words = " ".join(f"w{i}" for i in range(30))
    data = corpus.make_html(10, words)  # doc_id % 5 == 0 → <li> layout
    text, spans, *_ = oracle.extract_html_full(data)
    assert text == golden_text(words)
    assert {s["kind"] for s in spans if s["text"].startswith("w")} == {"list_item"}


def test_html_heading_kept_entities_decoded():
    doc = (b"<html><body><article><h2>Results &amp; Methods</h2>"
           b"<p>one two three</p></article></body></html>")
    text, spans, *_ = oracle.extract_html_full(doc)
    assert text == "Results & Methods\none two three"
    assert spans[0]["kind"] == "heading"


def test_html_link_dense_block_dropped():
    doc = (b"<html><body><div><a href='/a'>lots of linked words here</a>"
           b" ok</div><p>real content stays here now</p></body></html>")
    text, *_ = oracle.extract_html_full(doc)
    assert text == "real content stays here now"


@pytest.mark.parametrize("doc,kinds,outlinks,anchors", [
    # stray closers before any opener: depths clamp at 0, so the later
    # <nav> still marks boilerplate and the later anchor still counts
    # as link text (a -1 depth would leave both at 0)
    (b"</nav></a><nav><p>menu entry words</p></nav>"
     b"<div><a href='/x'>all linked words</a></div><p>body text</p>",
     [("boilerplate", "menu entry words"),
      ("boilerplate", "all linked words"), ("main", "body text")],
     ["/x"], ["all linked words"]),
    # link density exactly LINK_DENSITY_MAX (7 of 20 chars) stays main
    (b"<p><a href='/l'>abcdefg</a> hijklmnopqrs</p>",
     [("main", "abcdefg hijklmnopqrs")], ["/l"], ["abcdefg"]),
    # whitespace- and entity-only blocks are dropped
    (b"<p> \n\t </p><p>&nbsp;&#32;</p><li>&#x20;</li><p>kept</p>",
     [("main", "kept")], [], []),
    # an unclosed anchor collects text to the end of the document
    (b"<p>plain words before the <a href='/u'>open anchor</p> <p>more text",
     [("main", "plain words before the open anchor"),
      ("boilerplate", "more text")],
     ["/u"], ["open anchor more text"]),
    # tag names are case-insensitive
    (b"<H2>Upper Title</H2><P>body <A HREF='/up'>x</A> words here</P>"
     b"<NAV>menu</NAV><LI>item</LI>",
     [("heading", "Upper Title"), ("main", "body x words here"),
      ("boilerplate", "menu"), ("list_item", "item")],
     ["/up"], ["x"]),
    # a block boundary inside an anchor separates the anchor's words
    (b"<li><a href='/b'>News<br>Today</a></li>",
     [("boilerplate", "News"), ("boilerplate", "Today")],
     ["/b"], ["News Today"]),
    (b"<a href='/c'><h3>Title</h3><p>Summary</p></a>",
     [("boilerplate", "Title"), ("boilerplate", "Summary")],
     ["/c"], ["Title Summary"]),
    (b"<p>x <a href='/u'>open anchor</p><p>more text",
     [("boilerplate", "x open anchor"), ("boilerplate", "more text")],
     ["/u"], ["open anchor more text"]),
])
def test_html_block_edge_cases(doc, kinds, outlinks, anchors):
    text, spans, got_links, got_anchors, _ = oracle.extract_html_full(doc)
    assert [(s["kind"], s["text"]) for s in spans] == kinds
    assert [s["block"] for s in spans] == list(range(len(kinds)))
    assert text == "\n".join(t for k, t in kinds if k != "boilerplate")
    assert got_links == outlinks
    assert got_anchors == anchors


# ---------------------------------------------------------------------------
# PDF
# ---------------------------------------------------------------------------

def test_pdf_single_column():
    words = " ".join(f"tok{i}" for i in range(40))
    data = corpus.make_pdf(15, words)  # 15 % 3 == 0 → 1 column
    text, spans, n_pages, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)
    assert n_pages == 1
    ys = [s["y0"] for s in spans]
    assert ys == sorted(ys, reverse=True)  # reading order top→bottom


def test_pdf_multi_column_reading_order():
    words = " ".join(f"tok{i}" for i in range(120))  # 12 lines
    data = corpus.make_pdf(16, words)  # 16 % 3 == 1 → 2 columns
    text, spans, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)
    xs = sorted({s["x0"] for s in spans})
    assert len(xs) == 2 and xs[1] - xs[0] > oracle.COLUMN_GAP_PT


def test_pdf_three_columns():
    words = " ".join(f"tok{i}" for i in range(150))
    data = corpus.make_pdf(17, words)  # 17 % 3 == 2 → 3 columns
    text, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)


def test_pdf_multi_page():
    words = " ".join(f"tok{i}" for i in range(900))  # 90 lines > 40/col
    data = corpus.make_pdf(15, words)  # 1 column → 40 lines/page → 3 pages
    text, spans, n_pages, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)
    assert n_pages == 3
    pages = [s["page"] for s in spans]
    assert pages == sorted(pages)


def test_pdf_escapes_and_tj():
    words = "open ( close ) back \\ slash plus (x) done ok yes"
    data = corpus.make_pdf(14, words)
    text, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)


def test_pdf_truncated_raises():
    with pytest.raises(oracle.PdfParseError):
        oracle.extract_pdf_full(b"%PDF-1.4\n1 0 obj\n<< /Type /Cat")


# ---------------------------------------------------------------------------
# fields
# ---------------------------------------------------------------------------

def test_fields_regexes(derived_fields):
    """The regex families derived from the stored text
    (``functions.fields.fields_col``) over an extracted page."""
    text = ("contact a.b+c@example.com or x@y.org call +1 (555) 123-4567 "
            "or 5551234567 see linkedin.com/in/jane-d and github.com/jane")
    f, = derived_fields([corpus.make_html(3, text)])
    assert f["emails"] == ["a.b+c@example.com", "x@y.org"]
    assert "+15551234567" in f["phones"] and "5551234567" in f["phones"]
    assert "linkedin.com/in/jane-d" in f["links"]
    assert "github.com/jane" in f["links"]


# ---------------------------------------------------------------------------
# extract_document end-to-end over every route
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("doc_id", range(0, 60))
def test_document_roundtrip_all_routes(doc_id):
    text = corpus.synth_text(doc_id)
    payload = corpus.payload_for(doc_id, text)
    rec = oracle.extract_document(payload)
    route = corpus.route_for(doc_id)
    if route == "junk":
        assert rec["status"] == "parse_failure"
        assert rec["extracted_text"] == "" and rec["spans"] == []
    else:
        assert rec["status"] == "ok", (doc_id, route)
        assert rec["route"] == route
        assert rec["extracted_text"] == golden_text(text), doc_id
        assert rec["n_blocks"] == len(rec["spans"]) > 0


def test_document_never_raises_on_junk_family():
    for doc_id in range(19, 400, 20):
        rec = oracle.extract_document(corpus.make_junk(doc_id))
        assert rec["status"] == "parse_failure"


def test_big_doc_multipage():
    text = corpus.synth_text(96, 600, 1200)
    payload = corpus.payload_for(96, text)  # 96 % 20 = 16 → pdf
    rec = oracle.extract_document(payload)
    assert rec["status"] == "ok"
    assert rec["extracted_text"] == golden_text(text)
    assert rec["n_pages"] >= 2


# ---------------------------------------------------------------------------
# FlateDecode + page-tree walking
# ---------------------------------------------------------------------------

def test_pdf_flate_roundtrip():
    words = " ".join(f"tok{i}" for i in range(80))
    data = corpus.make_pdf(16, words)  # even doc_id → compressed
    assert b"/FlateDecode" in data
    text, spans, n_pages, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)


def test_pdf_flate_multipage_tree_order():
    words = " ".join(f"tok{i}" for i in range(900))
    data = corpus.make_pdf(18, words)  # even → compressed, 3 cols
    assert b"/FlateDecode" in data
    text, spans, n_pages, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)
    assert n_pages >= 2


def test_pdf_tree_walk_overrides_byte_order():
    """Pages referenced out of byte order must still extract in tree
    order (the general-reader behavior the closed grammar never hits)."""
    def obj(n, body):
        return b"%d 0 obj\n" % n + body + b"\nendobj\n"
    s1 = b"BT /F1 11 Tf 72 700 Td (page one) Tj ET"
    s2 = b"BT /F1 11 Tf 72 700 Td (page two) Tj ET"
    pdf = (b"%PDF-1.4\n"
           # content streams in REVERSED byte order
           + obj(6, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(s2), s2))
           + obj(5, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(s1), s1))
           + obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
           + obj(2, b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>")
           + obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>")
           + obj(4, b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>")
           + b"trailer\n<< /Root 1 0 R >>\n%%EOF")
    text, spans, n_pages, *_ = oracle.extract_pdf_full(pdf)
    assert text == "page one\npage two"
    assert n_pages == 2


def test_pdf_corrupt_flate_is_parse_failure():
    data = bytearray(corpus.make_pdf(16, "a b c d e f"))
    i = data.find(b"stream\n") + 7
    data[i:i + 4] = b"\x00\x00\x00\x00"  # corrupt the zlib header
    rec = oracle.extract_document(bytes(data))
    assert rec["status"] == "parse_failure"


def test_html_gt_inside_quoted_attribute():
    doc = (b"<html><body><p title=\"a>b\">kept text here</p>"
           b"<a href='/x?q=1>2'>link</a></body></html>")
    text, spans, *_ = oracle.extract_html_full(doc)
    assert text == "kept text here"
    # the attribute value never leaks into any block
    assert all("a>b" not in s["text"] for s in spans)


def test_gzip_html_route():
    import gzip
    words = " ".join(f"g{i}" for i in range(35))
    payload = corpus.payload_for(13, words)  # doc_id%20==13 → gzipped
    assert payload[:2] == b"\x1f\x8b"
    assert oracle.sniff(payload) == "html"
    rec = oracle.extract_document(payload)
    assert rec["status"] == "ok" and rec["route"] == "html"
    assert rec["extracted_text"] == golden_text(words)
    # corrupt gzip body → parse_failure, never an exception
    broken = payload[:20] + b"\x00\x01\x02" + payload[30:]
    rec2 = oracle.extract_document(broken)
    assert rec2["status"] == "parse_failure" or rec2["route"] == "unknown"


def test_docx_route():
    words = " ".join(f"d{i}" for i in range(45))
    payload = corpus.payload_for(12, words)  # doc_id%20==12 → docx
    assert payload[:4] == b"PK\x03\x04"
    assert oracle.sniff(payload) == "docx"
    rec = oracle.extract_document(payload)
    assert rec["status"] == "ok" and rec["route"] == "docx"
    assert rec["extracted_text"] == golden_text(words)
    assert all(s["kind"] == "main" for s in rec["spans"])


def test_docx_xml_escapes():
    text = "a <tag> & amp é unicode plus more words here ok"
    rec = oracle.extract_document(corpus.make_docx(12, text))
    assert rec["extracted_text"] == golden_text(text)


def test_docx_corrupt_zip_is_parse_failure():
    payload = corpus.make_docx(12, "a b c d e")[:-60]  # cut central dir
    assert payload[:4] == b"PK\x03\x04"
    rec = oracle.extract_document(payload)
    assert rec["status"] == "parse_failure"


# ---------------------------------------------------------------------------
# PDF 1.5 (object streams + xref stream), indirect /Length, filters
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("doc_id", [18, 38, 58])
def test_pdf15_objstm_roundtrip(doc_id):
    text = corpus.synth_text(doc_id)
    data = corpus.make_pdf15(doc_id, text)
    assert data.startswith(b"%PDF-1.5") and b"/ObjStm" in data
    assert b"/Catalog" not in data.split(b"/ObjStm")[0]  # catalog packed
    rec = oracle.extract_document(data)
    assert rec["status"] == "ok", rec["reason"]
    assert rec["extracted_text"] == golden_text(text)


def test_pdf15_multipage():
    text = corpus.synth_text(96, 600, 1200)
    rec = oracle.extract_document(corpus.make_pdf15(18, text))
    assert rec["status"] == "ok" and rec["n_pages"] >= 2
    assert rec["extracted_text"] == golden_text(text)


def test_pdf_indirect_length_resolved():
    s1 = b"BT /F1 11 Tf 72 700 Td (indirect len works) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 5 0 R >>\nstream\n" + s1
        + b"\nendstream\nendobj\n"
        b"5 0 obj\n%d\nendobj\n" % len(s1)
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF"
    )
    text, *_ = oracle.extract_pdf_full(pdf)
    assert text == "indirect len works"


def test_length_regex_never_captures_object_number():
    # "/Length 123 0 R" must not match "123" nor backtrack to "12"
    assert oracle._LENGTH_RE.search(b"<< /Length 123 0 R >>") is None
    m = oracle._LENGTH_RE.search(b"<< /Length 123 /Filter /FlateDecode >>")
    assert m.group(1) == b"123"


def test_unsupported_filter_is_counted_failure():
    rec = oracle.extract_document(corpus.make_junk(0))  # LZW variant
    assert rec["status"] == "parse_failure"
    assert rec["reason"] == "unsupported_filter"


def test_junk_reason_classes():
    want = {0: "unsupported_filter", 1: "no_streams", 2: "unknown_route",
            3: "unsupported_filter", 4: "unsupported_filter",
            5: "encrypted"}
    for did in range(19, 419, 20):
        rec = oracle.extract_document(corpus.make_junk(did))
        assert rec["status"] == "parse_failure"
        assert rec["reason"] == want[(did // 20) % 6], did


@pytest.mark.parametrize("doc_id", [34, 74, 114])
def test_pdf_cmap_roundtrip(doc_id):
    text = corpus.synth_text(doc_id)
    data = corpus.make_pdf_cmap(doc_id, text)
    assert b"/ToUnicode" in data and b"beginbfchar" in data
    rec = oracle.extract_document(data)
    assert rec["status"] == "ok", rec["reason"]
    assert rec["extracted_text"] == golden_text(text)


def test_pdf_cmap_non_latin_text():
    """The CMap path recovers text no latin-1 literal string can carry
    (CJK + Greek + a supplementary-plane char via surrogate-pair dst)."""
    text = ("数据 处理 引擎 工作 正常 γρήγορα 🚀 δοκιμή 中文 提取 "
            "mixed ascii too")
    rec = oracle.extract_document(corpus.make_pdf_cmap(34, text))
    assert rec["status"] == "ok", rec["reason"]
    assert rec["extracted_text"] == golden_text(text)


def test_pdf_cmap_multipage_and_bfrange():
    text = corpus.synth_text(96, 600, 1200)
    rec = oracle.extract_document(corpus.make_pdf_cmap(34, text))
    assert rec["status"] == "ok" and rec["n_pages"] >= 2
    assert rec["extracted_text"] == golden_text(text)
    # bfrange form parses equivalently to per-char bfchar
    cmap = (b"begincodespacerange <0000> <ffff> endcodespacerange\n"
            b"1 beginbfrange\n<0001> <0003> <0041>\nendbfrange")
    parsed = oracle._parse_cmap(cmap)
    assert parsed["width"] == 2
    assert [parsed["map"][c] for c in (1, 2, 3)] == ["A", "B", "C"]


@pytest.mark.parametrize("mode,marker", [
    ("ahx", b"/ASCIIHexDecode"),
    ("ahx+flate", b"[/ASCIIHexDecode /FlateDecode]"),
    ("a85+flate", b"[/ASCII85Decode /FlateDecode]"),
    ("rle", b"/RunLengthDecode"),
    ("lzw", b"/LZWDecode"),
    ("pred-png", b"/Predictor 15"),
    ("pred-tiff", b"/Predictor 2"),
])
def test_pdf_filter_variants_roundtrip(mode, marker):
    words = " ".join(f"f{i}" for i in range(80))
    data = corpus.make_pdf(16, words, filter_mode=mode)
    assert marker in data
    text, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)


def test_rle_codec_runs_and_literals():
    for payload in (b"", b"a", b"abc", b"aaaa", b"ab" * 300,
                    b"x" * 129, b"lit" + b"z" * 200 + b"tail"):
        assert oracle._run_length_decode(
            corpus._rle_encode(payload)) == payload


def test_lzw_codec_roundtrip_across_width_boundaries():
    """Encoder/decoder stay code-width-synchronized across the 9→10→11→
    12-bit boundaries (EarlyChange=1) and the 4096-entry dict reset."""
    import hashlib as _h
    cases = [
        b"", b"A", b"ABABABABAB", b"aaaaaaaaaaaaaaaa",
        bytes(range(256)) * 3,
        b"the quick brown fox " * 100,          # crosses 511 and 1023
        b"".join(_h.md5(b"%d" % i).digest() for i in range(1500)),  # reset
    ]
    for payload in cases:
        enc = corpus._lzw_encode(payload)
        assert oracle._lzw_decode(enc) == payload, payload[:40]


def test_winansi_differences_roundtrip():
    """Simple-font /Encoding: the /Differences-remapped show bytes must
    decode back to the golden text — inline dict (even ids, Flate) and
    indirect encoding object (odd ids, raw) both."""
    words = " ".join(f"sentinel{i} notes" for i in range(40))
    for doc_id in (14, 15):
        data = corpus.make_pdf_winansi(doc_id, words)
        assert b"/WinAnsiEncoding" in data and b"/Differences" in data
        # substituted letters must NOT appear as plain ASCII shows
        if doc_id % 2 == 1:  # raw streams: inspect bytes directly
            assert b"(sentinel" not in data
        text, *_ = oracle.extract_pdf_full(data)
        assert text == golden_text(words)


def test_glyph_to_char_forms():
    assert oracle._glyph_to_char("a") == "a"
    assert oracle._glyph_to_char("Z") == "Z"
    assert oracle._glyph_to_char("eacute") == "é"
    assert oracle._glyph_to_char("emdash") == "—"
    assert oracle._glyph_to_char("uni0041") == "A"
    assert oracle._glyph_to_char("u1F600") == "😀"
    assert oracle._glyph_to_char("nonexistentglyph") is None
    assert oracle._glyph_to_char("uniZZZZ") is None


def test_simple_encoding_parsing():
    # named encoding: cp1252 high range (0x92 = quoteright)
    enc = oracle._parse_simple_encoding(
        b"<< /Subtype /Type1 /Encoding /WinAnsiEncoding >>", {})
    assert enc["width"] == 1
    assert enc["map"][0x92] == "’" and enc["map"][0x41] == "A"
    assert 0x81 not in enc["map"]  # undefined cp1252 slot drops
    # MacRoman differs from latin-1 in the high range
    mac = oracle._parse_simple_encoding(
        b"<< /Encoding /MacRomanEncoding >>", {})
    assert mac["map"][0x8E] == "é"
    # /Differences consecutive-code semantics after each base code
    d = oracle._parse_simple_encoding(
        b"<< /Encoding << /BaseEncoding /WinAnsiEncoding "
        b"/Differences [65 /b /c 200 /emdash] >> >>", {})
    assert d["map"][65] == "b" and d["map"][66] == "c"
    assert d["map"][200] == "—"
    assert d["map"][67] == "C"  # untouched base entry
    # unknown glyph name removes the code (strict drop, not garbage)
    u = oracle._parse_simple_encoding(
        b"<< /Encoding << /Differences [65 /bogusglyphname] >> >>", {})
    assert 65 not in u["map"]
    # no /Encoding at all → None (raw latin-1 passthrough)
    assert oracle._parse_simple_encoding(b"<< /Subtype /Type1 >>", {}) is None
    # /ToUnicode must take precedence over /Encoding (both present)
    # — covered at the _page_fonts level: simple encoding is only
    # consulted when the CMap lookup yields None.


def test_utf8_bom_html_routes_and_strips():
    """The UTF-8 BOM (the most common BOM in the wild) must not break
    routing or leak into the text."""
    words = " ".join(f"u8bom{i}" for i in range(30))
    payload = b"\xef\xbb\xbf" + corpus.make_html(3, words)
    assert oracle.sniff(payload) == "html"
    rec = oracle.extract_document(payload)
    assert rec["status"] == "ok"
    assert rec["extracted_text"] == golden_text(words)


def test_indirect_decode_parms_resolved():
    """'/DecodeParms N 0 R' must resolve through the object table —
    ignoring it would emit garbled (un-unpredicted) text."""
    import zlib
    content = b"BT /F1 12 Tf 72 700 Td (indirect) Tj ET"
    cols = 10
    enc = zlib.compress(corpus._png_predict_encode(content, cols), 6)
    pdf = (
        b"%%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
        b"endobj\n"
        b"4 0 obj\n<< /Length %d /Filter /FlateDecode "
        b"/DecodeParms 5 0 R >>\nstream\n%s\nendstream\nendobj\n"
        b"5 0 obj\n<< /Predictor 15 /Columns %d >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%%%EOF\n"
        % (len(enc), enc, cols)
    )
    text, *_ = oracle.extract_pdf_full(pdf)
    assert text == "indirect"
    # an unresolvable ref must refuse, not garble
    broken = pdf.replace(b"/DecodeParms 5 0 R", b"/DecodeParms 9 0 R")
    rec = oracle.extract_document(broken)
    assert rec["status"] == "parse_failure"
    assert rec["reason"] in ("unsupported_filter", "bad_filter_data",
                             "parse_error", "bad_flate")


def test_predictor_on_nonpredicting_filter_refused():
    """A predictor declared on RunLength/AHx (which take none) is a
    counted failure, never silent corruption."""
    head = (b"<< /Length 3 /Filter /RunLengthDecode "
            b"/DecodeParms << /Predictor 12 /Columns 4 >> >>")
    with pytest.raises(oracle.PdfParseError) as e:
        oracle._apply_stream_filters(b"\x80", head)
    assert e.value.code == "unsupported_filter"


def test_glyph_uni_multigroup():
    """AGL uniXXXXYYYY names map to character SEQUENCES."""
    assert oracle._glyph_to_char("uni00660069") == "fi"
    assert oracle._glyph_to_char("uni0066006900") is None  # ragged


def test_quote_show_operators():
    """' and \" both advance a line before showing (PDF 1.7 §9.4.3);
    the \" word/char-spacing operands are geometry-only."""
    shows = oracle._interpret_page(
        b'BT 14 TL 72 700 Td (first) Tj 0.5 0.1 (quoted) " (apos) \' ET',
        0)
    assert [(s["text"], s["y"]) for s in shows] == [
        ("first", 700.0), ("quoted", 686.0), ("apos", 672.0)]


def test_tj_kern_word_spacing():
    """Large negative TJ kerns are word gaps and must reinsert spaces;
    small intra-word kerns must not (threshold TJ_WORD_GAP)."""
    words = " ".join(f"tj{i} word" for i in range(60))
    data = corpus.make_pdf_tj_spacing(55, words)
    # the streams genuinely contain no inter-word space glyphs
    body = data.split(b"stream\n", 1)[1]
    assert b"(" in body and b") -" in body
    text, *_ = oracle.extract_pdf_full(data)
    assert text == golden_text(words)
    # unit semantics at the threshold boundary
    shows = oracle._interpret_page(
        b"BT [(a) -119 (b) -120 (c) -500 (d)] TJ ET", 0)
    assert shows[0]["text"] == "ab c d"
    # explicit space + kern never doubles the gap
    shows = oracle._interpret_page(b"BT [(a ) -300 (b)] TJ ET", 0)
    assert shows[0]["text"] == "a b"
    # leading kern emits nothing
    shows = oracle._interpret_page(b"BT [-300 (x)] TJ ET", 0)
    assert shows[0]["text"] == "x"


def test_utf16_bom_html_roundtrip():
    """UTF-16/32 BOM payloads route as html and extract the same golden
    text as their UTF-8 form (WARC charset reality)."""
    words = " ".join(f"bom{i} word" for i in range(40)) + " naïve café"
    raw = corpus.make_html(26, words)
    for enc in ("utf-16", "utf-16-be", "utf-32"):
        payload = raw.decode("utf-8").encode(enc)
        if enc == "utf-16-be":
            payload = b"\xfe\xff" + payload  # BE codec emits no BOM
        assert oracle.sniff(payload) == "html", enc
        rec = oracle.extract_document(payload)
        assert rec["status"] == "ok", (enc, rec["reason"])
        assert rec["extracted_text"] == golden_text(words), enc
    # no BOM → bytes pass through untouched (identity)
    assert oracle._transcode_bom(raw) is raw
    # gzip + BOM stack: transfer decode then charset decode
    import gzip
    stacked = gzip.compress(raw.decode("utf-8").encode("utf-16"), mtime=0)
    rec = oracle.extract_document(stacked)
    assert rec["status"] == "ok"
    assert rec["extracted_text"] == golden_text(words)


def test_form_xobject_text_roundtrip():
    """Text split across nested Form XObjects must reassemble into the
    same reading order as the plain layout; the forms must actually
    carry text (Do is load-bearing, not decorative)."""
    words = " ".join(f"fx{i} marker" for i in range(120))
    for doc_id in (17, 16):  # raw and flate-compressed variants
        data = corpus.make_pdf_form(doc_id, words)
        assert b"/Subtype /Form" in data
        if doc_id % 2 == 1:  # raw streams: the Do ops are visible bytes
            assert b"Do" in data
        text, *_ = oracle.extract_pdf_full(data)
        assert text == golden_text(words)
    # load-bearing check: raw (uncompressed) variant — page content
    # alone is missing the form-carried lines
    data = corpus.make_pdf_form(17, words)
    page_only = [s for s, *_ in oracle.page_contents(data)]
    inline_text = b"\n".join(page_only)
    # line li=1 (words fx5..fx9) lives in /Fx1, not the page stream
    assert b"fx5 marker fx6" not in inline_text


def test_form_xobject_mechanics():
    """Unknown names and image XObjects are no-ops; self-referential
    forms cannot loop (visited-set + depth guard)."""
    # image Do + undefined name Do: both ignored
    shows = oracle._interpret_page(
        b"BT /F1 12 Tf 72 700 Td (keep) Tj ET\n/Im9 Do\n/Nope Do", 0,
        fonts={}, xobjects={})
    assert [s["text"] for s in shows] == ["keep"]
    # a form that invokes itself: one level only, no recursion blowup
    xo = {"/F": {"content": b"BT (loop) Tj ET /F Do",
                 "fonts": {}, "xobjects": {}}}
    xo["/F"]["xobjects"] = xo  # self-cycle at interpret level
    shows = oracle._interpret_page(b"/F Do", 0, fonts={}, xobjects=xo)
    assert [s["text"] for s in shows] == ["loop"] * 4  # depth-capped


def test_inline_image_skipped_wholesale():
    """BI…ID <binary> EI sample bytes may contain string-openers and
    operator lookalikes; text before AND after the image must survive
    (PDF 1.7 §8.9.7 inline images — scanned-page hybrids)."""
    binary = b"\x00\xff(((\x89PNG Tj ET BT [ \x01EI-not-it\x02"
    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj ET\n"
        b"BI /W 4 /H 4 /BPC 8 /CS /DeviceGray ID " + binary + b" EI\n"
        b"BT /F1 12 Tf 72 680 Td (after) Tj ET"
    )
    shows = oracle._interpret_page(content, 0)
    assert [s["text"] for s in shows] == ["before", "after"]
    # unterminated image: consume the tail, never crash or mis-show
    shows2 = oracle._interpret_page(
        b"BT (keep) Tj ET BI /W 1 ID \x00( garbage", 0)
    assert [s["text"] for s in shows2] == ["keep"]
    # EI embedded in the binary without whitespace framing is not EOD
    shows3 = oracle._interpret_page(
        b"BI /W 1 ID xEIx more EI\nBT (tail) Tj ET", 0)
    assert [s["text"] for s in shows3] == ["tail"]


def test_predictor_codec_roundtrip():
    """Every PNG filter type (the encoder cycles 0..4 by row) and TIFF
    horizontal differencing invert exactly, including row padding."""
    payload = bytes(range(256)) * 3 + b"tail bytes that force padding"
    cols = 59
    png = corpus._png_predict_encode(payload, cols)
    assert len(png) % (cols + 1) == 0
    dec = oracle._apply_predictor(
        png, b"<< /Predictor 15 /Columns %d >>" % cols)
    assert dec.rstrip(b" ") == payload.rstrip(b" ")
    tiff = corpus._tiff_predict_encode(payload, cols)
    dec2 = oracle._apply_predictor(
        tiff, b"<< /Predictor 2 /Columns %d >>" % cols)
    assert dec2.rstrip(b" ") == payload.rstrip(b" ")


def test_predictor_error_paths():
    # truncated PNG-predicted data → counted bad_filter_data
    with pytest.raises(oracle.PdfParseError) as e:
        oracle._apply_predictor(b"\x00abc", b"<< /Predictor 12 /Columns 59 >>")
    assert e.value.code == "bad_filter_data"
    # unknown predictor value → unsupported_filter (honest failure)
    with pytest.raises(oracle.PdfParseError) as e:
        oracle._apply_predictor(b"abc", b"<< /Predictor 7 /Columns 3 >>")
    assert e.value.code == "unsupported_filter"
    # TIFF predictor with sub-byte samples: refused, not corrupted
    with pytest.raises(oracle.PdfParseError) as e:
        oracle._apply_predictor(
            b"abc", b"<< /Predictor 2 /Columns 8 /BitsPerComponent 4 >>")
    assert e.value.code == "unsupported_filter"
    # Predictor 1 / no parms = identity
    assert oracle._apply_predictor(b"abc", None) == b"abc"
    assert oracle._apply_predictor(b"abc", b"<< /Predictor 1 >>") == b"abc"


def test_decode_parms_array_alignment():
    """/DecodeParms arrays align null|dict entries with the /Filter
    array (PDF 1.7 §7.4.1)."""
    head = (b"<< /Length 9 /Filter [/ASCIIHexDecode /FlateDecode] "
            b"/DecodeParms [null << /Predictor 15 /Columns 4 >>] >>")
    parms = oracle._decode_parms_list(head, 2)
    assert parms[0] is None
    assert b"/Predictor 15" in parms[1]
    single = oracle._decode_parms_list(
        b"<< /Filter /FlateDecode /DP << /Predictor 2 /Columns 3 >> >>", 1)
    assert b"/Predictor 2" in single[0]
    assert oracle._decode_parms_list(b"<< /Filter /FlateDecode >>", 1) == [None]
    # key order is free: DecodeParms may precede Filter
    pre = oracle._decode_parms_list(
        b"<< /DecodeParms << /Predictor 2 /Columns 3 >> /Length 9 "
        b"/Filter /FlateDecode >>", 1)
    assert b"/Predictor 2" in pre[0]
    # 3-filter array with parms only for the middle entry
    mid = oracle._decode_parms_list(
        b"<< /Filter [/ASCIIHexDecode /FlateDecode /RunLengthDecode] "
        b"/DP [null << /Predictor 12 /Columns 4 >> null] >>", 3)
    assert mid[0] is None and b"Predictor 12" in mid[1] and mid[2] is None


def test_ascii85_decode_forms():
    import base64
    raw = b"hello \x00\x00\x00\x00 world \xff"
    enc = base64.a85encode(raw)
    assert oracle._ascii85_decode(enc + b"~>") == raw
    assert oracle._ascii85_decode(b"<~" + enc + b"~>") == raw
    assert oracle._ascii85_decode(enc[:6] + b"\n " + enc[6:] + b"~>") == raw
    with pytest.raises(oracle.PdfParseError):
        oracle._ascii85_decode(b"\x01\x02~>")


def test_jbig2_junk_is_counted_unsupported():
    rec = oracle.extract_document(corpus.make_junk(0))
    assert rec["status"] == "parse_failure"
    assert rec["reason"] == "unsupported_filter"


def test_ascii_hex_decode_forms():
    assert oracle._ascii_hex_decode(b"48 65 6c\n6c6f>") == b"Hello"
    assert oracle._ascii_hex_decode(b"486>") == b"H`"  # odd pad
    with pytest.raises(oracle.PdfParseError):
        oracle._ascii_hex_decode(b"zz>")


def test_encrypted_pdf_is_counted_failure():
    data = bytearray(corpus.make_pdf(15, "a b c d e f g h"))
    data += b"trailer\n<< /Encrypt 9 0 R /Root 1 0 R >>\n%%EOF\n"
    rec = oracle.extract_document(bytes(data))
    assert rec["status"] == "parse_failure"
    assert rec["reason"] == "encrypted"


def test_gzip_docx_route():
    words = " ".join(f"gd{i}" for i in range(25))
    payload = corpus.payload_for(32, words)  # doc_id%40==32 → gzip docx
    assert payload[:2] == b"\x1f\x8b"
    assert oracle.sniff(payload) == "docx"
    rec = oracle.extract_document(payload)
    assert rec["status"] == "ok" and rec["route"] == "docx"
    assert rec["extracted_text"] == golden_text(words)


def test_sections_in_single_pass_output(spark):
    """O58 per-document: the single pass stores spans, not sections;
    ``sections_df`` over those spans opens a section at each heading in
    main content, puts pre-heading blocks in _preamble and normalizes
    keyword names."""
    from pyspark.sql import types as T
    from document_text_extraction_spark.pipeline import SPAN_TYPE
    from document_text_extraction_spark.operators.sections import (
        sections_df)
    doc = (b"<html><body><article><p>intro text here</p>"
           b"<h2>Work Experience</h2><p>built systems</p>"
           b"<p>shipped features</p><h2>Odd Header</h2>"
           b"<p>tail content</p></article></body></html>")
    rec = oracle.extract_document(doc)
    assert rec["status"] == "ok"
    assert "sections" not in rec
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("spans", T.ArrayType(SPAN_TYPE))])
    table = spark.createDataFrame([("https://x/1", rec["spans"])], schema)
    secs = sections_df(table).orderBy("section_id").collect()
    assert [s["section"] for s in secs] == [
        "_preamble", "experience", "odd_header"]
    assert secs[0]["heading"] is None
    assert secs[1]["heading"] == "Work Experience"
    assert secs[1]["body"] == "built systems\nshipped features"
    assert secs[1]["n_blocks"] == 3  # heading + 2 body blocks
    assert secs[2]["body"] == "tail content"


def test_plain_zip_is_unknown():
    import io, zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("other.txt", "hi")
    assert oracle.sniff(buf.getvalue()) == "unknown"


def test_hex_string_odd_digits_and_garbage():
    """PDF §7.3.4.3: odd hex digit count implies a final 0; non-hex
    garbage inside <...> skips the token, never crashes the page."""
    toks = list(oracle._tokenize_content(b"BT <48656C6C6F2> Tj ET"))
    strs = [v for k, v in toks if k == "str"]
    assert strs == ["Hello "]  # trailing 0x20 from the assumed 0
    toks = list(oracle._tokenize_content(b"BT <XYZ> Tj (ok) Tj ET"))
    strs = [v for k, v in toks if k == "str"]
    assert strs == ["ok"]


def test_comment_cr_only_eol():
    """PDF §7.2.3: CR alone ends a line — a % comment must not swallow
    the CR-terminated next line's operators."""
    content = (b"BT /F1 12 Tf % note\r72 720 Td (Hello) Tj ET\n"
               b"BT 72 700 Td (World) Tj ET")
    shows = oracle._interpret_page(content, 0)
    assert [s["text"] for s in shows] == ["Hello", "World"]


def test_bfrange_array_destination_form():
    """PDF §9.10.3: bfrange's array form <lo> <hi> [<d1> <d2> ...] maps
    each code to its own target (and must not be misread as the
    increment form)."""
    cmap = (b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"1 beginbfrange <0041> <0042> [<0058> <0059>] endbfrange\n"
            b"1 beginbfrange <0050> <0051> <0061> endbfrange")
    parsed = oracle._parse_cmap(cmap)
    assert parsed["map"] == {
        0x41: "X", 0x42: "Y", 0x50: "a", 0x51: "b"}


def test_gzip_docx_with_long_preamble_routes_docx():
    """A gzip-wrapped DOCX whose word/document.xml member name sits
    past 2 KB of decompressed preamble must still route docx."""
    import gzip
    import io
    import zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        z.writestr("[Content_Types].xml",
                   "<Types>" + "<Override/>" * 300 + "</Types>")
        z.writestr("word/document.xml", "<w:document/>")
    raw = buf.getvalue()
    assert raw.index(b"word/document.xml") > 2048
    assert oracle.sniff(raw) == "docx"
    assert oracle.sniff(gzip.compress(raw, mtime=0)) == "docx"


def test_html_golden_contract_holds_for_markup_text():
    """make_html escapes interpolated text (like _xml_escape/_pdf_escape
    on the other routes), so the chunk_text golden contract holds for
    text carrying markup characters — previously tags were swallowed."""
    cases = [
        "alpha <b>beta</b> gamma four five six seven eight nine ten",
        "price &amp; terms apply now one two three four five",
        "a <p> b c d e f g h i j",
    ]
    for t in cases:
        rec = oracle.extract_document(corpus.make_html(1, t))
        assert rec["status"] == "ok"
        assert rec["extracted_text"] == "\n".join(corpus.chunk_text(t)), t


def test_synth_rows_big_doc_interval_param():
    rows = list(corpus.synth_rows(120, big_doc_every=40))
    big = [r for r in rows if len(r["text"]) > 2500]
    assert len(big) == 3  # doc_ids 39, 79, 119


def test_meta_charset_transcode_legacy_pages():
    """<meta charset> sniff: legacy codecs transcode to UTF-8 before
    tokenizing; the quote-wrapped golden text proves the transcode ran
    (a missed transcode yields U+FFFD mojibake, not the glyphs)."""
    for codec in corpus.CHARSET_VARIANTS:
        _, op, cl = corpus.CHARSET_VARIANTS[codec]
        t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rec = oracle.extract_document(corpus.make_html_charset(3, t, codec))
        assert rec["status"] == "ok", codec
        want = "\n".join(op + ln + cl for ln in corpus.chunk_text(t))
        assert rec["extracted_text"] == want, codec


def test_meta_charset_labels_and_fallbacks():
    """Label handling: case-insensitive aliases map, utf-8/ascii and
    unknown labels leave bytes untouched (documented U+FFFD fallback),
    and the sniff only reads the first 1KB."""
    sj = "日本".encode("shift_jis")
    page = (b'<html><head><meta charset="SHIFT-JIS"></head><body><p>'
            + sj + b'</p></body></html>')
    out = oracle._transcode_meta_charset(page)
    assert "日本".encode("utf-8") in out
    # utf-8 label: unchanged bytes
    u = b'<html><head><meta charset=utf-8></head><body>x</body></html>'
    assert oracle._transcode_meta_charset(u) is u
    # unknown label: unchanged (stated gap, not a crash)
    w = b'<html><head><meta charset=klingon-8></head><body>x</body></html>'
    assert oracle._transcode_meta_charset(w) is w
    # declaration beyond the 1KB sniff window is ignored
    far = (b"<html><head>" + b" " * 1100
           + b'<meta charset="shift_jis"></head><body>'
           + sj + b"</body></html>")
    assert oracle._transcode_meta_charset(far) is far


def test_meta_charset_does_not_touch_non_html_routes():
    """PDF/DOCX payloads go through _decode_transfer only — a stray
    'charset=' byte string inside a binary stream must never trigger
    a transcode (the html-only composition in extract_document)."""
    t = "one two three four five six seven eight nine ten"
    pdf = corpus.make_pdf(77, t)
    rec = oracle.extract_document(pdf)
    assert rec["status"] == "ok" and rec["route"] == "pdf"
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(t))


def test_pdf_ocr_budget_classification():
    """A PDF that parses but shows no text is a parse_failure with the
    OCR-budget split: raster_only (image XObject declared) vs
    no_text_layer (text-capable page, empty content) — never a silent
    ok-with-empty-text row."""
    r = oracle.extract_document(corpus.make_pdf_no_text(9, raster=True))
    assert (r["status"], r["reason"]) == ("parse_failure", "raster_only")
    e = oracle.extract_document(corpus.make_pdf_no_text(9, raster=False))
    assert (e["status"], e["reason"]) == ("parse_failure", "no_text_layer")
    # whitespace-only shows also classify (text strips to empty)
    assert r["extracted_text"] == "" and r["n_pages"] == 0
    # a normal text PDF stays ok
    ok = oracle.extract_document(
        corpus.make_pdf(9, "a b c d e f g h i j"))
    assert ok["status"] == "ok" and ok["reason"] is None
