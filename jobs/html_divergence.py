"""Quantify HTML tokenizer divergence vs a real tree-walking parser
(VERDICT r4 #6).

The extractor tokenizes with a quote-aware regex + flush-on-tag
closure (oracle.extract_html_full) instead of an HTML5 tree builder.
This harness re-implements the SAME block/boilerplate semantics on top
of stdlib ``html.parser.HTMLParser`` (a spec-ish tokenizer with CDATA
handling, entity decoding, and attribute parsing) and fuzz-compares
extracted text over a corpus of pathological-markup classes. Any
difference isolates tokenization/tree divergence, not semantics.

Run: ``python jobs/html_divergence.py [n_per_class]`` — prints a
per-class divergence table (the LIMITS.md §2 numbers).
"""

from __future__ import annotations

import random
import os
import sys
from html.parser import HTMLParser

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_text_extraction_spark import oracle  # noqa: E402


class _TwinExtractor(HTMLParser):
    """oracle.extract_html_full's block semantics on HTMLParser."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.spans: list[tuple[str, str]] = []
        self.pieces: list[tuple[str, bool, bool]] = []
        self.boiler_depth = 0
        self.link_depth = 0
        self.base_kind = "text"
        self.skip_depth = 0  # inside script/style

    # -- the same flush/classify as the oracle --------------------
    def _flush(self) -> None:
        if not self.pieces:
            return
        full = oracle._norm_ws("".join(p[0] for p in self.pieces))
        if not full:
            self.pieces = []
            return
        link_chars = len(oracle._norm_ws(
            "".join(p[0] for p in self.pieces if p[1])))
        any_boiler = any(p[2] for p in self.pieces)
        density = link_chars / len(full)
        if any_boiler or density > oracle.LINK_DENSITY_MAX:
            kind = "boilerplate"
        elif self.base_kind == "heading":
            kind = "heading"
        elif self.base_kind == "list_item":
            kind = "list_item"
        else:
            kind = "main"
        self.spans.append((kind, full))
        self.pieces = []

    def _on_tag(self, name: str, closing: bool) -> None:
        if name in oracle.BLOCK_TAGS:
            self._flush()
            if not closing:
                if name in oracle.HEADING_TAGS:
                    self.base_kind = "heading"
                elif name == "li":
                    self.base_kind = "list_item"
                else:
                    self.base_kind = "text"
            else:
                self.base_kind = "text"
        if name in oracle.BOILER_CONTAINERS:
            if closing:
                self.boiler_depth = max(0, self.boiler_depth - 1)
            else:
                self.boiler_depth += 1
        elif name == "a":
            if closing:
                self.link_depth = max(0, self.link_depth - 1)
            else:
                self.link_depth += 1

    def handle_starttag(self, tag, attrs):
        if tag in ("script", "style"):
            self.skip_depth += 1
            return
        self._on_tag(tag, False)

    def handle_startendtag(self, tag, attrs):
        if tag in ("script", "style"):
            return
        self._on_tag(tag, False)

    def handle_endtag(self, tag):
        if tag in ("script", "style"):
            self.skip_depth = max(0, self.skip_depth - 1)
            return
        self._on_tag(tag, True)

    def handle_data(self, data):
        if self.skip_depth or not data:
            return
        self.pieces.append((data, self.link_depth > 0,
                            self.boiler_depth > 0))

    def text(self) -> str:
        self._flush()
        return "\n".join(t for k, t in self.spans
                         if k in oracle.CONTENT_KINDS)


def twin_extract(data: bytes) -> str:
    p = _TwinExtractor()
    p.feed(data.decode("utf-8", errors="replace"))
    p.close()
    return p.text()


WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india "
         "juliet kilo lima mike november oscar papa quebec").split()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def gen_case(rng: random.Random, cls: str) -> bytes:
    w = lambda n=6: _words(rng, n)  # noqa: E731
    body = {
        "misnested_formatting":
            f"<p><b><i>{w()}</b> {w()}</i> {w()}</p>"
            f"<p><em><strong>{w()}</em></strong> {w()}</p>",
        "attr_gt_quoted":
            f'<p><a href="/x?a>b&c=1" title=\'t>u\'>{w(3)}</a> '
            f"{w(12)}</p><p data-x=\"1>2\">{w()}</p>",
        "attr_unquoted":
            f"<p><a href=/page-{rng.randint(0, 99)} class=big>{w(3)}"
            f"</a> {w(12)}</p>",
        "implied_end_tags":
            f"<p>{w()}<p>{w()}<ul><li>{w(3)}<li>{w(3)}</ul><p>{w()}",
        "unclosed_at_eof":
            f"<div><p>{w()}<b>{w(4)}",
        "comment_with_tags":
            f"<p>{w()}</p><!-- <div><p>{w()}</p></div> --><p>{w()}</p>",
        "script_with_markup_strings":
            f"<p>{w()}</p><script>var a = '<div>x</div>'; "
            f"if (1 < 2 && 3 > 2) {{}}</script><p>{w()}</p>",
        "stray_lt_in_text":
            f"<p>{w(4)} a < b and x <3 y {w(4)}</p>",
        "mixed_case_tags":
            f"<P>{w()}</P><NAV>{w(3)}</NAV><Li>{w(3)}</Li>",
        "nested_anchors":
            f"<p><a href='/a'>{w(2)}<a href='/b'>{w(2)}</a>{w(2)}</a> "
            f"{w(14)}</p>",
        "void_and_self_closing":
            f"<p>{w()}<br>{w()}<br/>{w()}<img src=x>{w()}</p>",
        "entities":
            f"<p>{w(3)} &amp; &#65;&#x42; &quot;{w(3)}&quot; &nbsp; "
            f"&unknownref; {w(3)}</p>",
        "misnested_boiler":
            f"<div><nav>{w(3)}</div></nav><p>{w()}</p>",
        "unclosed_boiler":
            f"<nav>{w(3)}<p>{w()}</p>",
    }
    if cls == "random_soup":
        tags = ["p", "div", "b", "i", "span", "li", "ul", "nav", "a",
                "h2", "em", "td", "table"]
        parts = []
        for _ in range(rng.randint(10, 30)):
            r = rng.random()
            if r < 0.45:
                parts.append(w(rng.randint(1, 8)) + " ")
            elif r < 0.75:
                t = rng.choice(tags)
                attr = ""
                if rng.random() < 0.4:
                    q = rng.choice(['"', "'"])
                    attr = (f" href={q}/x?a={rng.randint(0, 9)}"
                            f"{'>' if rng.random() < 0.3 else ''}{q}")
                parts.append(f"<{t}{attr}>")
            else:
                parts.append(f"</{rng.choice(tags)}>")
        return ("<html><body>" + "".join(parts)
                + "</body></html>").encode()
    if cls == "truncated_page":
        full = (f"<html><body><p>{w(20)}</p><div><a href='/x'>{w(3)}"
                f"</a>{w(20)}</div></body></html>").encode()
        return full[:rng.randint(20, len(full) - 1)]
    return (f"<html><body>{body[cls]}</body></html>").encode()


CLASSES = ["misnested_formatting", "attr_gt_quoted", "attr_unquoted",
           "implied_end_tags", "unclosed_at_eof", "comment_with_tags",
           "script_with_markup_strings", "stray_lt_in_text",
           "mixed_case_tags", "nested_anchors",
           "void_and_self_closing", "entities", "misnested_boiler",
           "unclosed_boiler", "random_soup", "truncated_page"]


def measure(n_per_class: int = 200, seed: int = 42,
            verbose: bool = True):
    rng = random.Random(seed)
    results: dict[str, tuple[int, int, bytes | None]] = {}
    for cls in CLASSES:
        diverged, example = 0, None
        for _ in range(n_per_class):
            page = gen_case(rng, cls)
            a, _ = oracle.extract_html(page)
            b = twin_extract(page)
            if a != b:
                diverged += 1
                if example is None:
                    example = page
        results[cls] = (diverged, n_per_class, example)
    if verbose:
        total_d = sum(d for d, _, _ in results.values())
        total_n = sum(n for _, n, _ in results.values())
        print(f"{'class':32s} {'diverged':>9s} {'rate':>8s}")
        for cls, (d, n, ex) in results.items():
            print(f"{cls:32s} {d:>6d}/{n:<3d} {d / n:>7.1%}")
            if d and ex:
                print(f"   e.g. {ex[:90]!r}")
                ta, _ = oracle.extract_html(ex)
                print(f"   ours: {ta[:80]!r}")
                print(f"   twin: {twin_extract(ex)[:80]!r}")
        print(f"{'TOTAL':32s} {total_d:>6d}/{total_n:<4d} "
              f"{total_d / total_n:>7.1%}")
    return results


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    measure(n)
