"""Hypothesis property tests: the batch boundary carries the oracle's
record on *arbitrary* byte inputs (not just generator output), and core
kernels hold their invariants under adversarial structure."""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from document_text_extraction_spark import corpus, kernels, oracle

_SETTINGS = dict(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# fragments that stress the HTML tokenizer: nesting, entities, unclosed
# tags, comments, scripts, weird attributes
_HTML_BITS = st.sampled_from([
    "<p>", "</p>", "<div class='x y'>", "</div>", "<a href='/x'>",
    "</a>", "<nav>", "</nav>", "<li>", "</li>", "<ul>", "</ul>",
    "<h2>", "</h2>", "<br>", "<script>var x=1;</script>",
    "<style>p{}</style>", "<!-- c -->", "&amp;", "&lt;", "&#65;",
    "word", "two words", "  ", "\n", "<main>", "</main>", "<footer>",
    "</footer>", "<em>", "</em>", "<table><tr><td>", "</td></tr></table>",
    "<p", ">", "<>", "</", "<!DOCTYPE html>", "é中文",
])


def _equiv(payloads: list[bytes]) -> None:
    out = kernels.extract_batch(
        pd.Series([f"u{i}" for i in range(len(payloads))]),
        pd.Series(payloads),
    )
    for i, p in enumerate(payloads):
        ref = oracle.extract_document(p)
        got = out.iloc[i]
        assert got["status"] == ref["status"], p
        assert got["extracted_text"] == ref["extracted_text"], p
        assert got["spans"] == ref["spans"], p
        assert got["fields"] == ref["fields"], p


@given(st.lists(st.lists(_HTML_BITS, min_size=0, max_size=40), min_size=1,
                max_size=8))
@settings(**_SETTINGS)
def test_kernel_equals_oracle_on_adversarial_html(docs):
    _equiv([("<html><body>" + "".join(bits) + "</body></html>").encode()
            for bits in docs])


@given(st.lists(st.binary(min_size=0, max_size=400), min_size=1,
                max_size=10))
@settings(**_SETTINGS)
def test_kernel_equals_oracle_on_random_bytes(payloads):
    _equiv(payloads)


@given(st.binary(min_size=0, max_size=300))
@settings(**_SETTINGS)
def test_truncated_pdfs_never_crash(suffix):
    base = corpus.make_pdf(14, "alpha beta gamma delta " * 6)
    for cut in (10, 50, len(base) // 2, len(base) - 5):
        payload = base[:cut] + suffix
        rec = oracle.extract_document(payload)
        assert rec["status"] in ("ok", "parse_failure")
        _equiv([payload])


@given(st.text(alphabet=st.characters(
    whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x2FF),
    min_size=1, max_size=300))
@settings(**_SETTINGS)
def test_roundtrip_any_clean_text_html(words_raw):
    """Any single-spaced unicode text survives the HTML-route
    generate→extract roundtrip byte-identically."""
    words = words_raw.split()
    if not words:
        return
    text = " ".join(words)
    rec = oracle.extract_document(corpus.payload_for(3, text))
    assert rec["status"] == "ok"
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(text))


@given(st.text(alphabet=st.characters(
    whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0xFF),
    min_size=1, max_size=300))
@settings(**_SETTINGS)
def test_roundtrip_any_clean_text_pdf(words_raw):
    """PDF route: the closed PDF-1.4 grammar writes latin-1 literal
    strings (full Unicode needs font/CMap machinery, out of scope), so
    the property holds for any latin-1 text."""
    words = words_raw.split()
    if not words:
        return
    text = " ".join(words)
    rec = oracle.extract_document(corpus.payload_for(16, text))
    assert rec["status"] == "ok"
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(text))


@given(st.text(alphabet=st.characters(
    whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0xFF),
    min_size=1, max_size=300),
    st.integers(min_value=0, max_value=1))
@settings(**_SETTINGS)
def test_roundtrip_any_clean_text_pdf_winansi(words_raw, parity):
    """Simple-font /Encoding route: WinAnsi + /Differences substitution
    inverts exactly for any cp1252-encodable text (letters/digits in
    the latin-1 range all are), for both the inline+Flate and the
    indirect-encoding-object variants."""
    words = words_raw.split()
    if not words:
        return
    text = " ".join(words)
    rec = oracle.extract_document(
        corpus.make_pdf_winansi(14 + parity, text))
    assert rec["status"] == "ok", rec["reason"]
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(text))


@given(st.text(alphabet=st.characters(
    whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0xFF),
    min_size=1, max_size=300))
@settings(**_SETTINGS)
def test_roundtrip_any_clean_text_pdf_form(words_raw):
    """Form-XObject route: text split across nested Do-invoked forms
    reassembles byte-identically for any latin-1 text."""
    words = words_raw.split()
    if not words:
        return
    text = " ".join(words)
    rec = oracle.extract_document(corpus.make_pdf_form(17, text))
    assert rec["status"] == "ok", rec["reason"]
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(text))


@given(st.text(alphabet=st.characters(
    whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0xFF),
    min_size=1, max_size=300))
@settings(**_SETTINGS)
def test_roundtrip_any_clean_text_pdf_tj_spacing(words_raw):
    """TJ-kern word spacing: spaces reconstructed from kern magnitude
    roundtrip byte-identically for any latin-1 text."""
    words = words_raw.split()
    if not words:
        return
    text = " ".join(words)
    rec = oracle.extract_document(corpus.make_pdf_tj_spacing(55, text))
    assert rec["status"] == "ok", rec["reason"]
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(text))


@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1,
                max_size=200))
@settings(**_SETTINGS)
def test_chunk_text_partition_property(ids):
    """chunk_text is a partition: concatenation restores the word list."""
    words = [f"w{i}" for i in ids]
    text = " ".join(words)
    lines = corpus.chunk_text(text)
    assert " ".join(lines) == text
    assert all(len(ln.split(" ")) <= corpus.WORDS_PER_LINE for ln in lines)


@given(st.text(alphabet=st.characters(
    whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0xFF),
    min_size=1, max_size=300))
@settings(**_SETTINGS)
def test_roundtrip_any_clean_text_pdf15(words_raw):
    """PDF 1.5 route (object streams + xref stream): same latin-1
    roundtrip property as the 1.4 path."""
    words = words_raw.split()
    if not words:
        return
    text = " ".join(words)
    rec = oracle.extract_document(corpus.make_pdf15(18, text))
    assert rec["status"] == "ok", rec["reason"]
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(text))


@given(st.text(alphabet=st.characters(
    whitelist_categories=("Lu", "Ll", "Nd", "Lo")), min_size=1,
    max_size=200))
@settings(**_SETTINGS)
def test_roundtrip_any_unicode_text_pdf_cmap(words_raw):
    """The CMap route carries FULL Unicode (any letter/digit category,
    any plane) — the property the plain latin-1 route cannot give."""
    words = words_raw.split()
    if not words:
        return
    text = " ".join(words)
    rec = oracle.extract_document(corpus.make_pdf_cmap(34, text))
    assert rec["status"] == "ok", rec["reason"]
    assert rec["extracted_text"] == "\n".join(corpus.chunk_text(text))
    _equiv([corpus.make_pdf_cmap(34, text)])


@given(st.binary(min_size=0, max_size=300))
@settings(**_SETTINGS)
def test_truncated_pdf15_never_crashes(suffix):
    """Cutting an ObjStm/xref-stream file anywhere (and appending junk)
    must yield ok or a counted parse_failure — never an exception —
    identically in oracle and kernel."""
    base = corpus.make_pdf15(18, "alpha beta gamma delta " * 6)
    for cut in (12, 80, len(base) // 2, len(base) - 7):
        payload = base[:cut] + suffix
        rec = oracle.extract_document(payload)
        assert rec["status"] in ("ok", "parse_failure")
        _equiv([payload])


@given(st.binary(min_size=0, max_size=5000))
@settings(**_SETTINGS)
def test_lzw_codec_roundtrip_property(payload):
    """corpus._lzw_encode ∘ oracle._lzw_decode == identity on arbitrary
    bytes (exercises KwKwK, width growth and compressible runs)."""
    assert oracle._lzw_decode(corpus._lzw_encode(payload)) == payload
    assert oracle._lzw_decode(corpus._lzw_encode(payload * 3)) == payload * 3


@given(st.binary(min_size=1, max_size=4000),
       st.integers(min_value=1, max_value=300))
@settings(**_SETTINGS)
def test_predictor_codec_roundtrip_property(payload, cols):
    """PNG (all five row filters) and TIFF predictor encode∘decode is
    the identity on arbitrary bytes, modulo the documented trailing
    space padding to a whole row."""
    png = oracle._apply_predictor(
        corpus._png_predict_encode(payload, cols),
        b"<< /Predictor 15 /Columns %d >>" % cols)
    assert png[:len(payload)] == payload
    assert png[len(payload):].strip(b" ") == b""
    tiff = oracle._apply_predictor(
        corpus._tiff_predict_encode(payload, cols),
        b"<< /Predictor 2 /Columns %d >>" % cols)
    assert tiff[:len(payload)] == payload
    assert tiff[len(payload):].strip(b" ") == b""


_PDF_OPS = st.sampled_from([
    "BT", "ET", "12 Tf", "/F1", "72 700 Td", "0 -14 TD", "T*", "14 TL",
    "(text here) Tj", "(a\\(b\\)c) Tj", "[(x) -20 (y)] TJ", "' ",
    "1 0 0 1 50 50 Tm", "% comment", "<< /x 1 >>", "<48656c6c6f>",
    "q", "Q", "0.5 g", "()Tj", "((nested)) Tj",
    "BI /W 2 /H 2 ID \x00\xff(\x89 EI", "BI /W 1 ID zz",  # inline images
])


@given(st.lists(_PDF_OPS, min_size=0, max_size=60))
@settings(**_SETTINGS)
def test_arbitrary_content_streams_never_crash(ops):
    """Any op soup inside a structurally-valid PDF parses or fails
    cleanly, identically in oracle and kernel."""
    content = " ".join(ops).encode("latin-1")
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
           + b"trailer\n<< >>\n%%EOF")
    _equiv([pdf])
