"""Full text-matrix / CTM semantics (PDF 1.7 §8.3.4, §9.4.2): rotated
and scaled content must extract in DEVICE-space reading order, with
``q``/``Q`` state save/restore and form ``/Matrix`` composition."""

import zlib

from document_text_extraction_spark import corpus, oracle


def _golden(text: str) -> str:
    return "\n".join(corpus.chunk_text(text))


def test_matrix_roundtrip_all_variants():
    """Every rotation/scale variant (90/180/270/30/60 deg, s in
    {0.5,1,2}) recovers byte-identical golden text."""
    for k in range(len(corpus._MATRIX_VARIANTS)):
        doc_id = 54 + 80 * k
        text = corpus.synth_text(doc_id, 60, 120)
        rec = oracle.extract_document(corpus.make_pdf_matrix(doc_id, text))
        assert rec["status"] == "ok", (doc_id, rec["reason"])
        assert rec["extracted_text"] == _golden(text), doc_id


def test_matrix_multipage_roundtrip():
    doc_id = 54
    text = corpus.synth_text(doc_id, 600, 900)
    rec = oracle.extract_document(corpus.make_pdf_matrix(doc_id, text))
    assert rec["status"] == "ok"
    assert rec["extracted_text"] == _golden(text)
    assert rec["n_pages"] > 1


def test_matrix_spans_are_device_space():
    """Span origins must be DEVICE coordinates (the make_pdf layout
    grid), not the rotated text-space numbers written in the stream."""
    doc_id = 54 + 80 * 2  # 270 deg, s=0.5 — text space wildly different
    text = corpus.synth_text(doc_id, 60, 120)
    rec = oracle.extract_document(corpus.make_pdf_matrix(doc_id, text))
    assert rec["status"] == "ok"
    for s in rec["spans"]:
        assert any(abs(s["x0"] - cx) < 0.05 for cx in corpus.COL_X), s["x0"]
        assert s["y0"] < corpus.TOP_Y + 0.05


def _mini_pdf(content: bytes) -> bytes:
    return corpus._assemble_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ])


def test_q_restores_ctm():
    """A cm inside q..Q must not leak: the post-Q show returns to the
    outer coordinate system."""
    content = (b"BT 10 700 Td (first) Tj ET\n"
               b"q 0 1 -1 0 0 0 cm BT 650 -10 Td (rot) Tj ET Q\n"
               b"BT 10 650 Td (after) Tj ET")
    text, spans, *_ = oracle.extract_pdf_full(_mini_pdf(content))
    by = {s["text"]: (s["x0"], s["y0"]) for s in spans}
    assert by["first"] == (10.0, 700.0)
    # rotated: device = (650, -10) under 90-deg cm -> (10, 650)... the
    # point (650,-10) maps to (0*650 + -1*-10, 1*650 + 0*-10) = (10, 650)
    assert by["rot"] == (10.0, 650.0)
    assert by["after"] == (10.0, 650.0)
    # reading order: first (y=700), then rot/after (y=650, x tie -> seq)
    assert text.split("\n")[0] == "first"


def test_nested_cm_composes():
    content = (b"q 2 0 0 2 0 0 cm q 1 0 0 1 5 7 cm "
               b"BT 10 20 Td (x) Tj ET Q Q")
    _, spans, *_ = oracle.extract_pdf_full(_mini_pdf(content))
    # translate(5,7) then scale(2): device = 2*(10+5), 2*(20+7)
    assert spans[0]["x0"] == 30.0 and spans[0]["y0"] == 54.0


def test_form_matrix_composes():
    """A form XObject's /Matrix premultiplies the CTM at Do time."""
    form = b"BT 0 0 Td (inform) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /XObject << /Fx 5 0 R >> >> >>",
        b"<< /Length 9 >>\nstream\n/Fx Do\nendstream",
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 100 100] "
        b"/Matrix [1 0 0 1 40 50] /Length %d >>\nstream\n%s\nendstream"
        % (len(form), form),
    ]
    _, spans, *_ = oracle.extract_pdf_full(corpus._assemble_pdf(objs))
    assert spans[0]["x0"] == 40.0 and spans[0]["y0"] == 50.0


def test_translation_only_would_scramble():
    """The matrix slot is a real discriminator: the text-space Td/Tm
    coordinates written in the stream do NOT reproduce the layout grid
    (so a translation-only interpreter cannot sort this correctly)."""
    doc_id = 54  # 90 deg
    text = corpus.synth_text(doc_id, 60, 120)
    raw = corpus.make_pdf_matrix(doc_id, text)
    streams = oracle.page_streams(raw)
    nums = []
    import re
    for m in re.finditer(rb"([-\d.]+)\s+([-\d.]+)\s+Td", streams[0]):
        nums.append((float(m.group(1)), float(m.group(2))))
    assert nums, "expected Td ops in the stream"
    on_grid = [
        any(abs(x - cx) < 0.05 for cx in corpus.COL_X) for x, _ in nums
    ]
    assert not any(on_grid)


def test_matrix_slot_in_corpus_route():
    # 54/214 % 160 == 54 → matrix slot (134 belongs to the /Rotate
    # slot); compression alternates on doc_id//160 so BOTH stream
    # encodings occur in-corpus
    for doc_id, compressed in ((54, True), (214, False)):
        text = corpus.synth_text(doc_id)
        raw = corpus.payload_for(doc_id, text)
        rec = oracle.extract_document(raw)
        assert rec["status"] == "ok"
        assert rec["extracted_text"] == _golden(text)
        stream = oracle._STREAM_RE.findall(raw)[0]
        body = zlib.decompress(stream) if compressed else stream
        assert b" cm" in body
        assert (b"/FlateDecode" in raw) == compressed
