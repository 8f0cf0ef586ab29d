"""The Arrow-batch boundary: ``kernels.extract_batch`` keeps row order
and url alignment, emits the full column set (also for an empty batch)
and carries ``oracle.extract_document``'s record for every row
(FIXTURES.md §5 ``batch_equivalence``).
"""

import pandas as pd
import pytest

from document_text_extraction_spark import corpus, kernels, oracle


def _batch(rows):
    urls = pd.Series([r["url"] for r in rows])
    payloads = pd.Series([r["html"] for r in rows])
    return kernels.extract_batch(urls, payloads)


def _check_equivalence(rows):
    out = _batch(rows)
    assert list(out["url"]) == [r["url"] for r in rows]
    for i, r in enumerate(rows):
        ref = oracle.extract_document(r["html"])
        got = out.iloc[i]
        assert got["status"] == ref["status"], (i, r["url"])
        assert got["route"] == ref["route"], i
        assert got["reason"] == ref["reason"], i
        assert got["extracted_text"] == ref["extracted_text"], i
        assert int(got["n_pages"]) == ref["n_pages"], i
        assert int(got["n_blocks"]) == ref["n_blocks"], i
        assert got["spans"] == ref["spans"], i
        assert got["fields"] == ref["fields"], i


def test_batch_equivalence_200_mixed_docs():
    _check_equivalence(list(corpus.synth_rows(200)))


def test_batch_equivalence_big_docs():
    rows = [corpus.make_page(d, corpus.synth_text(d, 500, 900))
            for d in range(90, 120)]
    _check_equivalence(rows)


def test_batch_all_junk():
    rows = [corpus.make_page(d, corpus.synth_text(d))
            for d in range(19, 419, 20)]
    out = _batch(rows)
    assert (out["status"] == "parse_failure").all()
    assert (out["extracted_text"] == "").all()
    assert set(out["reason"]) == {
        "unsupported_filter", "no_streams", "unknown_route", "encrypted"}


def test_batch_order_independence():
    rows = list(corpus.synth_rows(60))
    fwd = _batch(rows).sort_values("url").reset_index(drop=True)
    rev = _batch(rows[::-1]).sort_values("url").reset_index(drop=True)
    for c in ["url", "status", "route", "extracted_text", "n_blocks"]:
        assert list(fwd[c]) == list(rev[c]), c


def test_fields_planted(derived_fields):
    """Planted email and phone, derived by ``fields_col()`` from the
    extracted text."""
    text = "reach me at jane.doe@example.com or +1 (555) 123-4567 ok fine"
    f, = derived_fields([corpus.make_page(3, text)["html"]])
    assert f["emails"] == ["jane.doe@example.com"]
    # both reference phone patterns fire (intl + parenthesized local) —
    # union semantics, matching final.py:202-212
    assert f["phones"] == ["+15551234567", "5551234567"]


def test_fields_name_entities_skills_planted(derived_fields):
    """O53/O51/O52/O49 families derived by ``fields_col()`` from the
    extracted text (short texts keep the planted phrases inside one
    10-word line)."""
    texts = [
        "Riley Nguyen",  # one 10-word chunk line → first extracted line
        "Studied at University of Oxford then more",
        "Senior Data Engineer at Acme Ltd since",
        "uses spark and python with sql daily",
    ]
    f0, f1, f2, f3 = derived_fields(
        [corpus.make_html(9, t) for t in texts])
    assert f0["name"] == "Riley Nguyen"
    assert f1["institutions"] == ["University of Oxford"]
    assert f2["positions"] == ["Senior Data Engineer"]
    assert f2["companies"] == ["Acme Ltd"]
    assert f3["skills"] == ["spark", "python", "sql"]


def test_empty_batch():
    out = kernels.extract_batch(pd.Series([], dtype=object),
                                pd.Series([], dtype=object))
    assert len(out) == 0
    assert list(out.columns)[:5] == ["url", "status", "route", "reason",
                                     "extracted_text"]


@pytest.mark.parametrize("seed", [0, 1])
def test_hypothesis_like_fuzz_payloads(seed):
    """Arbitrary byte payloads never raise and match the oracle."""
    import hashlib
    rows = []
    for i in range(50):
        h = hashlib.md5(b"%d:%d" % (seed, i)).digest() * (i % 7 + 1)
        rows.append({"url": f"u{i}", "html": h, "text": ""})
    out = _batch(rows)
    for i, r in enumerate(rows):
        ref = oracle.extract_document(r["html"])
        assert out.iloc[i]["status"] == ref["status"]
        assert out.iloc[i]["extracted_text"] == ref["extracted_text"]


def test_tag_regex_possessive_equivalence_and_linearity():
    """The possessive attrs form of _TAG_RE (r6 optimization) matches
    the exact language of the old per-char alternation
    ``(?:\"[^\"]*\"|'[^']*'|[^>\"'])*`` — and fails in linear time on
    unterminated tags, where a greedy run-based form would backtrack
    exponentially."""
    import random
    import re
    import time

    legacy = re.compile(
        r"<(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>")
    rng = random.Random(11)
    alpha = "abAB01 <>/\"'=&-\n\t"
    for _ in range(5000):
        s = "".join(rng.choice(alpha)
                    for _ in range(rng.randrange(0, 90)))
        assert legacy.split(s) == oracle._TAG_RE.split(s), repr(s)
    # adversarial: long unterminated tags must not blow up
    for s in ("<a " + "x" * 20000, "<a \"" + "y" * 20000,
              "<a b='c'" + "d" * 20000 + " e"):
        t0 = time.perf_counter()
        got = oracle._TAG_RE.split(s)
        assert time.perf_counter() - t0 < 0.2
        assert got == legacy.split(s)
