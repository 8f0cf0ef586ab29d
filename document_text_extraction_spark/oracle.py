"""Pure-Python single-document reference extractor (the golden source).

Role: the analogue of the reference extractor's committed golden
outputs — every Spark execution path must match this module
**byte-identically per url** at every scale and parallelism
(SURVEY.md §5).  It is the only implementation of the extraction map:
``kernels.extract_batch`` calls :func:`extract_document` once per
document inside ``mapInPandas``.

Semantics kept from the reference (the "what", SURVEY.md §7.1):

* content routing by magic-byte sniffing (the analogue of suffix
  dispatch);
* layout pipeline: block detection → column boundaries from coordinate
  gaps (>40pt) → per-column reading-order sort → span concatenation;
* boilerplate vs main content via density scoring — the web-native form of
  "histogram valley = separator": per-block link-density (anchor chars /
  total chars) with boilerplate-ancestor containers, Readability/
  Boilerpipe family;
* the link facts only the bytes carry: ``<a href>`` outlinks and their
  anchor text, the ``<meta name=robots>`` directive, PDF /Annots and
  DOCX-relationship URIs. The regex field families are derived from the
  stored text in the JVM (``functions.fields.fields_col``);
* error rows, never exceptions escaping per-document work.
"""

from __future__ import annotations

import html as _htmllib
import re

PARSER_VERSION = "dte-spark-0.1"

# ---------------------------------------------------------------------------
# Routing (content sniff)
# ---------------------------------------------------------------------------

def sniff(data: bytes) -> str:
    """Route by payload magic: ``pdf`` | ``html`` | ``unknown``.

    gzip payloads (1f 8b — common for WARC-stored pages) are sniffed by
    their *decompressed* head; decoding happens again in the extractor
    (``_decode_transfer``), keeping sniff a pure routing function."""
    if data is None:
        return "unknown"
    if data[:2] == b"\x1f\x8b":
        import zlib
        try:
            # bounded peek: enough decompressed head to route. The
            # bound must cover a real DOCX's preamble — Word files
            # routinely carry >2 KB of [Content_Types].xml + rels
            # before the word/document.xml member name appears, so a
            # 2 KB peek misrouted gzip-wrapped DOCX as unknown; 64 KB
            # is still O(1) work per document.
            d = zlib.decompressobj(wbits=31)
            data = d.decompress(bytes(data[:96 * 1024]), 64 * 1024)
        except zlib.error:
            return "unknown"
    if data[:4] == b"PK\x03\x04":
        # OOXML container: zip whose member names include the Word
        # document part (names live in local headers, scan is cheap)
        return "docx" if b"word/document.xml" in data else "unknown"
    data = _transcode_bom(bytes(data[:4096]))
    head = data[:1024].lstrip()
    if head.startswith(b"%PDF-"):
        return "pdf"
    low = head[:256].lower()
    if low.startswith((b"<!doctype", b"<html", b"<")):
        return "html"
    return "unknown"


def _transcode_bom(data: bytes) -> bytes:
    """BOM charset normalization → UTF-8 bytes (real crawls carry a
    steady share of BOM'd pages; the downstream byte-level tag scan
    assumes UTF-8). UTF-8 BOM (by far the most common) is stripped;
    UTF-16/UTF-32 transcode. No BOM → unchanged. The utf-16/utf-32
    codecs consume the BOM themselves; order matters — the UTF-32LE
    BOM starts with the UTF-16LE one."""
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:]
    if data[:4] in (b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff"):
        return data.decode("utf-32", errors="replace").encode("utf-8")
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return data.decode("utf-16", errors="replace").encode("utf-8")
    return data


def _decode_transfer(data: bytes) -> bytes:
    """Undo transfer encoding (gzip) and BOM charsets (UTF-16/32 →
    UTF-8) before content parsing."""
    if data[:2] == b"\x1f\x8b":
        import gzip
        data = gzip.decompress(data)
    return _transcode_bom(data)


# <meta charset=X> / <meta http-equiv=Content-Type content="...;
# charset=X"> in the document head — the label real legacy pages
# declare. Quote/space tolerant; first match wins (browser behavior).
_META_CHARSET_RE = re.compile(
    br"<meta[^>]{0,200}?charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:\-]+)",
    re.IGNORECASE)

# label → python codec for the legacy tail worth carrying (the labels
# cover >99% of non-UTF-8 declarations in web crawls: CJK DBCS +
# cyrillic + latin-1 family). Unknown labels stay undecoded (U+FFFD
# replacement, the documented pre-round-4 behavior).
_CHARSET_CODECS = {
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "x-sjis": "shift_jis",
    "windows-31j": "cp932", "cp932": "cp932",
    "euc-jp": "euc_jp", "eucjp": "euc_jp", "x-euc-jp": "euc_jp",
    "euc-kr": "euc_kr", "ks_c_5601-1987": "euc_kr",
    "gb2312": "gbk", "gbk": "gbk", "gb18030": "gb18030",
    "big5": "big5", "big5-hkscs": "big5hkscs",
    "windows-1250": "cp1250", "windows-1251": "cp1251",
    "cp1251": "cp1251", "windows-1252": "cp1252", "cp1252": "cp1252",
    "windows-1254": "cp1254", "windows-1256": "cp1256",
    "iso-8859-1": "latin-1", "latin-1": "latin-1", "latin1": "latin-1",
    "iso-8859-2": "iso8859-2", "iso-8859-15": "iso8859-15",
    "koi8-r": "koi8-r", "koi8-u": "koi8-u",
    "tis-620": "cp874",
}


def _transcode_meta_charset(data: bytes) -> bytes:
    """``<meta charset=…>`` sniff → UTF-8 transcode for BOM-less legacy
    pages (LIMITS.md §2 closed): Shift_JIS/EUC-JP/GBK/cp1251/… bodies
    previously reached the tokenizer as UTF-8-with-U+FFFD mojibake.
    Sniff window is the first 1024 bytes like the route sniffer;
    UTF-8/ASCII labels (the overwhelming majority) return unchanged, so
    the hot path costs one bounded regex scan. HTML-only by
    construction — callers apply it on the html branch (PDF/DOCX are
    binary containers where a byte regex for 'charset' would be
    meaningless)."""
    m = _META_CHARSET_RE.search(data[:1024])
    if not m:
        return data
    label = m.group(1).decode("ascii", "replace").lower()
    codec = _CHARSET_CODECS.get(label)
    if codec is None:  # utf-8/ascii/unknown → already-handled or stated gap
        return data
    return data.decode(codec, errors="replace").encode("utf-8")


# ---------------------------------------------------------------------------
# byte-distribution charset sniff for BOM-less, declaration-free pages
# (LIMITS.md §2 tail closed in r5). Deterministic chardet-style scoring:
# candidate decodes are graded by weighted script-range hit rates over
# the NON-ASCII chars, with (a) a strict validity gate (>2% replacement
# chars eliminates a codec — genuine single-byte Cyrillic text is
# invalid Shift_JIS/EUC/GBK because 0x20 is never a legal trail byte),
# (b) an adjacency gate separating dense Cyrillic words from sparse
# Latin accents (both decode "valid" in each other's codec), and
# (c) small common-hanzi sets breaking the GBK/Big5 tie (both decode
# each other's bytes as valid CJK; only the right one hits the
# frequent simplified/traditional characters). Pure byte/str functions
# — every HTML payload reaches them via _decode_transfer_html.
# ---------------------------------------------------------------------------

_COMMON_SIMP = set("这们个来为时后么没于还发过学对里着会国说经现点业"
                   "东车电华报问题应难长张马")
_COMMON_TRAD = set("這們個來為時後麼沒於還發過學對裡著會國說經現點業"
                   "東車電華報問題應難長張馬")

_JP_W = ((0x3040, 0x309F, 2.0), (0x30A0, 0x30FF, 1.5),
         (0xFF61, 0xFF9F, 0.0), (0x4E00, 0x9FFF, 1.0),
         (0x3000, 0x303F, 1.0), (0xFF01, 0xFF60, 1.0))
_KR_W = ((0xAC00, 0xD7AF, 2.0), (0x1100, 0x11FF, 1.5),
         (0x4E00, 0x9FFF, 1.0), (0x3000, 0x303F, 1.0),
         (0xFF01, 0xFF60, 1.0))
_ZH_W = ((0x4E00, 0x9FFF, 1.0), (0x3000, 0x303F, 1.0),
         (0xFF01, 0xFF60, 1.0))
_CYR_W = ((0x0430, 0x044F, 1.0), (0x0451, 0x0451, 1.0),
          (0x0410, 0x042F, 0.3), (0x0401, 0x0401, 0.3),
          (0x00AB, 0x00AB, 0.5), (0x00BB, 0x00BB, 0.5))
_LATIN_W = ((0x00C0, 0x00D6, 1.0), (0x00D8, 0x00F6, 1.0),
            (0x00F8, 0x00FF, 1.0), (0x0152, 0x0153, 1.0),
            (0x2018, 0x201D, 0.5), (0x00AB, 0x00AB, 0.5),
            (0x00BB, 0x00BB, 0.5))

_SNIFF_WINDOW = 65536


def _script_score(dec: str, weights, common=None) -> float:
    """Weighted in-script fraction of the decode's non-ASCII chars;
    -1 if too little signal or the decode needed replacements (an
    invalid byte sequence for this codec)."""
    non = [c for c in dec if ord(c) >= 0x80]
    if len(non) < 8:
        return -1.0
    if sum(1 for c in non if c == "�") / len(non) > 0.02:
        return -1.0
    tot = 0.0
    for c in non:
        if common and c in common:
            tot += 2.0
            continue
        o = ord(c)
        for lo, hi, w in weights:
            if lo <= o <= hi:
                tot += w
                break
    return tot / len(non)


def _sniff_charset(data: bytes) -> str | None:
    """Best-guess codec for a BOM-less, declaration-free page, or None
    when the bytes are valid UTF-8 / ASCII / carry too little non-ASCII
    signal / score below the confidence floor (0.4). Deterministic:
    fixed candidate order breaks exact ties."""
    win = bytes(data[:_SNIFF_WINDOW])
    t = win
    for _ in range(4):  # tolerate a window-cut multibyte tail
        try:
            t.decode("utf-8", "strict")
            return None
        except UnicodeDecodeError:
            t = t[:-1]
    n = len(win)
    high_idx = [i for i, b in enumerate(win) if b >= 0x80]
    if len(high_idx) < 8:
        return None
    adjacent = sum(
        1 for i in high_idx
        if (i > 0 and win[i - 1] >= 0x80)
        or (i + 1 < n and win[i + 1] >= 0x80)
    ) / len(high_idx)

    def dec(codec: str) -> str:
        try:
            return win.decode(codec, "replace")
        except Exception:
            return ""

    cands = [
        ("shift_jis", _script_score(dec("shift_jis"), _JP_W)),
        ("euc_jp", _script_score(dec("euc_jp"), _JP_W)),
        ("euc_kr", _script_score(dec("euc_kr"), _KR_W)),
        ("gbk", _script_score(dec("gbk"), _ZH_W, _COMMON_SIMP)),
        ("big5", _script_score(dec("big5"), _ZH_W, _COMMON_TRAD)),
    ]
    if adjacent >= 0.2:  # dense non-ASCII words → Cyrillic family
        cands.append(("cp1251", _script_score(dec("cp1251"), _CYR_W)))
        cands.append(("koi8-r", _script_score(dec("koi8-r"), _CYR_W)))
    else:  # sparse accents between ASCII letters → Western family
        cands.append(("cp1252", _script_score(dec("cp1252"), _LATIN_W)))
    best_score, best = -1.0, None
    for name, sc in cands:  # first-listed wins exact ties
        if sc > best_score:
            best_score, best = sc, name
    return best if best_score >= 0.4 else None


def _transcode_sniffed_charset(data: bytes) -> bytes:
    """Declaration-free fallback: byte-distribution sniff → UTF-8
    transcode. No-op for UTF-8/ASCII/low-signal/low-confidence pages
    (the sniffer's None cases)."""
    codec = _sniff_charset(data)
    if codec is None:
        return data
    return data.decode(codec, errors="replace").encode("utf-8")


def _decode_transfer_html(data: bytes) -> bytes:
    """The html-branch decode stack: transfer layer (gzip), BOM
    charsets, the meta-declared legacy charset, and — when nothing is
    declared and the bytes are not valid UTF-8 — the deterministic
    byte-distribution sniff."""
    data = _decode_transfer(data)
    m = _META_CHARSET_RE.search(data[:1024])
    if m:  # declared wins, even when the label is unknown/utf-8
        return _transcode_meta_charset(data)
    return _transcode_sniffed_charset(data)


# ---------------------------------------------------------------------------
# HTML extraction
# ---------------------------------------------------------------------------

# Containers whose entire subtree is boilerplate.
BOILER_CONTAINERS = frozenset(
    {"nav", "header", "footer", "aside", "form", "head", "title"}
)
# Tags that open/close a text block (flush points).
BLOCK_TAGS = frozenset(
    {"p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
     "main", "body", "article", "section", "nav", "header", "footer",
     "aside", "table", "tr", "td", "th", "br", "blockquote", "pre",
     "title", "head", "html", "form"}
)
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
LINK_DENSITY_MAX = 0.35          # block is boilerplate above this
CONTENT_KINDS = frozenset({"main", "heading", "list_item"})
COLUMN_GAP_PT = 40.0             # final.py:61 gap threshold

_COMMENT_RE = re.compile(rb"<!--.*?-->", re.S)
_DECL_RE = re.compile(rb"<![^>]*>")  # <!DOCTYPE ...> and other declarations
_SCRIPT_RE = re.compile(rb"<script\b.*?</script\s*>", re.S | re.I)
_STYLE_RE = re.compile(rb"<style\b.*?</style\s*>", re.S | re.I)
# quote-aware: a '>' inside "..." or '...' attribute values does not end
# the tag; exactly 3 capture groups (extract_html_full's split walk
# strides on that shape)
_TAG_RE = re.compile(
    # attrs: runs of plain chars are one possessive gulp instead of the
    # per-char alternation (1.3x on the tag split — the hottest regex in
    # the HTML path), and the possessive quantifiers make unterminated
    # tags fail in linear time (the greedy run-based form would
    # backtrack exponentially on `<a xxxx...` with no `>`). Matches the
    # exact same language: the alternatives' first-char sets are
    # disjoint, so greedy == possessive on every input (fuzz-pinned).
    r"<(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:[^>\"']++|\"[^\"]*+\"|'[^']*+')*+)>"
)


def _norm_ws(s: str) -> str:
    # ≡ re.sub(r"\s+", " ", s).strip(): sre \s and str.isspace() share the
    # same Unicode whitespace table, and the C-level split/join is
    # ~3.5x faster than the regex sub
    return " ".join(s.split())


_HREF_RE = re.compile(
    r"""href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""", re.I)
_META_NAME_ROBOTS_RE = re.compile(
    r"""name\s*=\s*["']?robots["']?""", re.I)
_META_CONTENT_RE = re.compile(
    r"""content\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""", re.I)


def extract_html_full(data: bytes) -> tuple[str, list[dict],
                                            list[str], list[str], str]:
    """Tokenize HTML, segment into blocks, classify each block.

    Returns ``(extracted_text, spans, outlinks, anchors,
    meta_robots)`` where extracted_text joins the content-kind blocks
    with ``'\\n'`` in document order, spans carry every non-empty
    block with its kind, outlinks are the entity-unescaped ``href``
    values of ``<a>`` tags in document order (raw as written —
    resolution against the page url is a dataset-level JVM expression,
    ``functions.urls.resolve_href_col``), anchors[i] is the
    whitespace-normalized visible text of outlinks[i]'s element (the
    anchor-text-index input; text attributes to the innermost OPEN
    href-bearing anchor, and an anchor left unclosed keeps collecting
    until end of document), and meta_robots is the lowercased content
    of the first ``<meta name=robots>`` tag ('' if absent) — the
    crawl-hygiene directive (noindex/nofollow) a pipeline must honor.
    """
    raw = _COMMENT_RE.sub(b" ", data)
    raw = _DECL_RE.sub(b" ", raw)
    raw = _SCRIPT_RE.sub(b" ", raw)
    raw = _STYLE_RE.sub(b" ", raw)
    doc = raw.decode("utf-8", errors="replace")

    spans: list[dict] = []
    outlinks: list[str] = []
    anchor_pieces: list[list[str]] = []   # raw text per href-anchor
    astack: list[tuple[int, int]] = []    # (anchor idx, depth at open)
    meta_robots = ""
    boiler_depth = 0
    link_depth = 0
    base_kind = "main"            # kind hint from the opening block tag
    pieces: list[str] = []        # raw text of the open block
    link_pieces: list[str] = []   # the part of it inside <a>
    any_boiler = False            # any piece under a boilerplate container

    # hot loop: split once (C-level), then walk the [text, closing, name,
    # attrs] strides — 3 capture groups always yield 4k+1 parts. A
    # closing </p> sentinel after the final text segment flushes the
    # last block inside the loop. Locals and prebound sets beat
    # finditer+group by ~30%, the strided zip beats index arithmetic by
    # ~15%.
    parts = _TAG_RE.split(doc)
    unescape = _htmllib.unescape
    block_tags, boiler_tags, heading_tags = (
        BLOCK_TAGS, BOILER_CONTAINERS, HEADING_TAGS)
    for txt, closing, name, attrs in zip(
            parts[::4], parts[1::4] + ["/"], parts[2::4] + ["p"],
            parts[3::4] + [""]):
        if txt:
            # most pieces carry no entity; skip the call for those
            t = unescape(txt) if "&" in txt else txt
            if t:
                pieces.append(t)
                if link_depth > 0:
                    link_pieces.append(t)
                    if astack:
                        anchor_pieces[astack[-1][0]].append(t)
                if boiler_depth > 0:
                    any_boiler = True
        if not name.islower():   # tag names are already lowercase on
            name = name.lower()  # real pages; skip the allocation
        if name in block_tags:
            if pieces:
                full = _norm_ws("".join(pieces))
                if full:
                    kind = base_kind
                    if any_boiler:
                        kind = "boilerplate"
                    elif link_pieces:
                        # normalized link-text length = token lengths
                        # plus one gap between each pair, with no join
                        toks = "".join(link_pieces).split()
                        if toks and ((sum(map(len, toks)) + len(toks) - 1)
                                     / len(full) > LINK_DENSITY_MAX):
                            kind = "boilerplate"
                    spans.append({
                        "page": 0, "block": len(spans),
                        "x0": 0.0, "y0": 0.0, "x1": 0.0, "y1": 0.0,
                        "kind": kind, "text": full,
                    })
                pieces = []
                link_pieces = []
                any_boiler = False
            # a block boundary inside an open anchor separates words
            for ai, _ in astack:
                anchor_pieces[ai].append(" ")
            if not closing and name in heading_tags:
                base_kind = "heading"
            elif not closing and name == "li":
                base_kind = "list_item"
            else:
                base_kind = "main"
        if name in boiler_tags:
            if closing:
                if boiler_depth > 0:
                    boiler_depth -= 1
            else:
                boiler_depth += 1
        elif name == "a":
            if closing:
                if astack and astack[-1][1] == link_depth:
                    astack.pop()
                if link_depth > 0:
                    link_depth -= 1
            else:
                link_depth += 1
                hm = _HREF_RE.search(attrs)
                if hm is not None:
                    href = unescape(
                        hm.group(1) or hm.group(2) or hm.group(3) or "")
                    if href:
                        outlinks.append(href)
                        anchor_pieces.append([])
                        astack.append((len(anchor_pieces) - 1,
                                       link_depth))
        elif (name == "meta" and not closing and not meta_robots
                and _META_NAME_ROBOTS_RE.search(attrs)):
            cm = _META_CONTENT_RE.search(attrs)
            if cm is not None:
                meta_robots = unescape(
                    cm.group(1) or cm.group(2) or cm.group(3) or ""
                ).lower()

    text = "\n".join(s["text"] for s in spans if s["kind"] in CONTENT_KINDS)
    anchors = [_norm_ws("".join(ps)) for ps in anchor_pieces]
    return text, spans, outlinks, anchors, meta_robots


# ---------------------------------------------------------------------------
# PDF extraction — from-scratch content-stream parser
# ---------------------------------------------------------------------------

class PdfParseError(ValueError):
    """Structured parse failure; ``code`` lands in ``lineage.reason`` so
    failure classes are countable downstream (error-row protocol with
    attribution, cf. reference counters ``batch_multi_column.py:573-592``).
    """

    def __init__(self, msg: str, code: str = "parse_error"):
        super().__init__(msg)
        self.code = code


_STREAM_RE = re.compile(rb"stream\r?\n(.*?)(?:\r?\n)?endstream", re.S)
_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b(.*?)endobj", re.S)
_REF_RE = re.compile(rb"(\d+)\s+0\s+R\b")


_STREAM_START_RE = re.compile(rb"stream\r?\n")
# direct /Length only: the double negative-lookahead rejects indirect
# refs ("/Length 5 0 R" must not capture 5, nor backtrack to a digit
# prefix — "/Length 123 0 R" must not capture "12")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![0-9])(?!\s+0\s+R)")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+0\s+R\b")
_INT_OBJ_RE = re.compile(rb"\s*(\d+)\s*$")

# the /Filter entry: a single name or an array (applied in listed
# order when decoding, PDF 1.7 §7.4)
_FILTER_ENTRY_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_HEXWS_RE = re.compile(rb"\s+")
# /DecodeParms (or its /DP abbreviation): a single flat dict, an
# array of dict|null aligned with the /Filter array, or an indirect
# reference to either (PDF 1.7 §7.4.1)
_DECODEPARMS_RE = re.compile(rb"/(?:DecodeParms|DP)\s*(?=(<<|\[))")
_DECODEPARMS_REF_RE = re.compile(rb"/(?:DecodeParms|DP)\s+(\d+)\s+0\s+R")
_PARMS_ITEM_RE = re.compile(rb"null|<<.*?>>|\d+\s+0\s+R", re.S)
_PARMS_REF_RE = re.compile(rb"(\d+)\s+0\s+R")


def _resolve_parms_obj(item: bytes, objs: dict | None) -> bytes | None:
    """Indirect parms entry ('N 0 R') → the referenced dict bytes."""
    rm = _PARMS_REF_RE.fullmatch(item.strip())
    if rm is None:
        return item
    body = (objs or {}).get(int(rm.group(1)))
    if body is None:
        return None
    dm = re.search(rb"<<.*?>>", body, re.S)
    return dm.group(0) if dm else None


def _decode_parms_list(head: bytes, n: int,
                       objs: dict | None = None) -> list:
    """The per-filter /DecodeParms dicts (bytes) aligned with the n
    filter names; None where absent/null. Indirect references (the
    entry itself, or items inside the array) resolve through ``objs``
    — an unresolvable ref yields None and the predictor check in
    ``_apply_stream_filters`` turns that into a counted failure rather
    than silently-garbled output."""
    out: list = [None] * n
    m = _DECODEPARMS_RE.search(head)
    if m is None:
        rm = _DECODEPARMS_REF_RE.search(head)
        if rm is None:
            return out
        body = (objs or {}).get(int(rm.group(1)))
        if body is None:
            # declared but unresolvable: poison so the caller refuses
            # (predictor 99 is invalid → counted unsupported_filter)
            return [b"<< /Predictor 99 >>"] * n if n else out
        dm = re.search(rb"(<<.*?>>|\[.*?\])", body, re.S)
        if dm is None:
            return out
        head = b"/DecodeParms " + dm.group(0)
        m = _DECODEPARMS_RE.search(head)
        if m is None:
            return out
    if m.group(1) == b"<<":
        end = head.find(b">>", m.end())
        if end != -1 and n:
            out[0] = head[m.end():end + 2]
        return out
    close = head.find(b"]", m.end())
    body = head[m.end() + 1: close if close != -1 else len(head)]
    for i, item in enumerate(_PARMS_ITEM_RE.finditer(body)):
        if i >= n:
            break
        if item.group(0) != b"null":
            out[i] = _resolve_parms_obj(item.group(0), objs)
    return out


def _parm_int(parm: bytes, key: bytes, default: int) -> int:
    m = re.search(rb"/" + key + rb"\s+(\d+)", parm)
    return int(m.group(1)) if m else default


def _apply_predictor(data: bytes, parm) -> bytes:
    """Undo the /Predictor transform declared in a filter's DecodeParms
    (PDF 1.7 §7.4.4.4): 1/absent = none, 2 = TIFF horizontal
    differencing, 10–15 = PNG row filters (the per-row filter-type byte
    decides — all PNG values decode identically). Real-world files use
    these mostly on xref/object streams, occasionally on content
    streams; the reference inherits them from MuPDF."""
    if not parm:
        return data
    pred = _parm_int(parm, b"Predictor", 1)
    if pred <= 1:
        return data
    colors = _parm_int(parm, b"Colors", 1)
    bpc = _parm_int(parm, b"BitsPerComponent", 8)
    columns = _parm_int(parm, b"Columns", 1)
    rowlen = (columns * colors * bpc + 7) // 8
    if rowlen <= 0:
        raise PdfParseError("bad predictor Columns", code="bad_filter_data")
    if pred == 2:
        if bpc != 8:
            raise PdfParseError(
                "TIFF predictor with BitsPerComponent != 8",
                code="unsupported_filter")
        out = bytearray(data)
        for base in range(0, len(out), rowlen):
            end = min(base + rowlen, len(out))
            for i in range(base + colors, end):
                out[i] = (out[i] + out[i - colors]) & 0xFF
        return bytes(out)
    if not 10 <= pred <= 15:
        raise PdfParseError(f"unsupported predictor {pred}",
                            code="unsupported_filter")
    if len(data) % (rowlen + 1):
        raise PdfParseError("PNG-predicted stream length mismatch",
                            code="bad_filter_data")
    bpp = max(1, (colors * bpc) // 8)
    out = bytearray()
    prev = bytearray(rowlen)
    for off in range(0, len(data), rowlen + 1):
        ftype = data[off]
        row = bytearray(data[off + 1: off + 1 + rowlen])
        if ftype == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[i] = (row[i] + pr) & 0xFF
        elif ftype != 0:  # 0 = None
            raise PdfParseError(f"bad PNG filter type {ftype}",
                                code="bad_filter_data")
        out += row
        prev = row
    return bytes(out)


def _ascii_hex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode: hex digits up to the EOD '>', whitespace
    ignored, odd final digit padded with 0 (PDF 1.7 §7.4.2)."""
    body = _HEXWS_RE.sub(b"", data.split(b">")[0])
    if len(body) % 2:
        body += b"0"
    try:
        return bytes.fromhex(body.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfParseError(f"bad ASCIIHex stream: {e}",
                            code="bad_filter_data") from e


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode: Adobe base-85 with optional <~ prefix and ~> EOD,
    whitespace ignored (PDF 1.7 §7.4.3)."""
    import base64
    body = _HEXWS_RE.sub(b"", data)
    if body.startswith(b"<~"):
        body = body[2:]
    end = body.find(b"~")
    if end != -1:
        body = body[:end]
    try:
        return base64.a85decode(body)
    except ValueError as e:
        raise PdfParseError(f"bad ASCII85 stream: {e}",
                            code="bad_filter_data") from e


def _lzw_decode(data: bytes) -> bytes:
    """LZWDecode (PDF 1.7 §7.4.4 / TIFF variant): MSB-first variable
    9–12 bit codes, 256=clear, 257=EOD, EarlyChange=1 (the code width
    grows one code early — the PDF default)."""
    out = bytearray()
    CLEAR, EOD = 256, 257
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    bits = 9
    prev: bytes | None = None
    buf = 0
    nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= bits:
            nbits -= bits
            code = (buf >> nbits) & ((1 << bits) - 1)
            buf &= (1 << nbits) - 1
            if code == CLEAR:
                table = table[:258]
                bits = 9
                prev = None
                continue
            if code == EOD:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise PdfParseError("bad initial LZW code",
                                        code="bad_filter_data")
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                elif code == len(table):
                    entry = prev + prev[:1]  # KwKwK case
                else:
                    raise PdfParseError("LZW code out of range",
                                        code="bad_filter_data")
                table.append(prev + entry[:1])
            out += entry
            prev = entry
            # EarlyChange=1: width grows when the NEXT code to assign
            # would be (1<<bits)-1
            if len(table) >= (1 << bits) - 1 and bits < 12:
                bits += 1
    return bytes(out)


def _run_length_decode(data: bytes) -> bytes:
    """RunLengthDecode: length byte l<128 → copy l+1 literal bytes;
    l>128 → repeat next byte 257-l times; 128 = EOD (PDF 1.7 §7.4.5)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        if length == 128:
            break
        if length < 128:
            out += data[i + 1 : i + 2 + length]
            i += 2 + length
        else:
            out += data[i + 1 : i + 2] * (257 - length)
            i += 2
    return bytes(out)


def _apply_stream_filters(data: bytes, head: bytes,
                          objs: dict | None = None) -> bytes:
    """Decode the stream's /Filter chain in listed order. Supported:
    every *text-relevant* filter — FlateDecode, LZWDecode,
    ASCIIHexDecode, ASCII85Decode, RunLengthDecode — plus TIFF/PNG
    /Predictor transforms on the compressed ones (per-filter
    /DecodeParms, inline or indirect via ``objs``); the remaining
    filters are raster-image codecs (DCT, CCITT, JBIG2, JPX) or
    encryption (Crypt) and raise a counted ``unsupported_filter``
    failure, never silently-corrupt output — a predictor declared on a
    filter that takes none is likewise refused, not ignored. The
    reference inherits the full set from MuPDF/pdfplumber."""
    fm = _FILTER_ENTRY_RE.search(head)
    if fm is None:
        return data
    names = [m.group(1) for m in _FILTER_NAME_RE.finditer(fm.group(1))]
    parms = _decode_parms_list(head, len(names), objs)
    for name, parm in zip(names, parms):
        if name == b"FlateDecode":
            import zlib
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise PdfParseError(f"bad FlateDecode stream: {e}",
                                    code="bad_flate") from e
            data = _apply_predictor(data, parm)
        elif name == b"LZWDecode":
            data = _apply_predictor(_lzw_decode(data), parm)
        else:
            if parm and _parm_int(parm, b"Predictor", 1) > 1:
                raise PdfParseError(
                    "predictor on a filter that takes none",
                    code="unsupported_filter")
            if name == b"ASCIIHexDecode":
                data = _ascii_hex_decode(data)
            elif name == b"ASCII85Decode":
                data = _ascii85_decode(data)
            elif name == b"RunLengthDecode":
                data = _run_length_decode(data)
            else:
                raise PdfParseError(
                    f"unsupported stream filter "
                    f"/{name.decode('latin-1')}",
                    code="unsupported_filter")
    return data


def _decode_object_stream(body: bytes,
                          objs: dict[int, bytes] | None = None,
                          strict: bool = True) -> bytes | None:
    """Extract and filter-decode an object's stream.

    Uses the declared /Length to slice exact bytes — the regex's
    optional trailing-newline trim would corrupt binary (compressed)
    streams whose last byte happens to be \\r or \\n. Indirect /Length
    refs ("/Length 5 0 R") are resolved through ``objs``. Filter
    failures raise (strict=True, the page-tree path: honest failure) or
    skip the stream (strict=False, the damaged-file fallback path)."""
    sm = _STREAM_START_RE.search(body)
    if sm is None:
        return None
    head = body[: sm.start()]
    length = None
    rm = _LENGTH_REF_RE.search(head)
    if rm is not None and objs is not None:
        target = objs.get(int(rm.group(1)))
        if target is not None:
            im = _INT_OBJ_RE.match(target)
            if im is not None:
                length = int(im.group(1))
    if length is None:
        lm = _LENGTH_RE.search(head)
        if lm is not None:
            length = int(lm.group(1))
    if length is not None:
        data = body[sm.end() : sm.end() + length]
    else:
        m = _STREAM_RE.search(body)
        if m is None:
            return None
        data = m.group(1)
    try:
        return _apply_stream_filters(data, head, objs)
    except PdfParseError:
        if strict:
            raise
        return None


_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_object_streams(objs: dict[int, bytes]) -> set[int]:
    """PDF 1.5+: unpack /Type /ObjStm containers into ``objs``.

    Compressed objects (catalog, page dicts, fonts) live *inside* an
    object stream's payload, invisible to the top-level object scan.
    The payload layout is ``N`` (objnum, byte-offset) integer pairs,
    then the object bodies starting at /First. Returns the object
    numbers of container objects (ObjStm + XRef streams) so the
    byte-order fallback never tokenizes container payloads as content.
    """
    containers: set[int] = set()
    for num, body in list(objs.items()):
        sm = _STREAM_START_RE.search(body)
        head = body[: sm.start()] if sm else body
        if b"/XRef" in head:
            containers.add(num)
            continue
        if b"/ObjStm" not in head:
            continue
        containers.add(num)
        nm = _OBJSTM_N_RE.search(head)
        fm = _OBJSTM_FIRST_RE.search(head)
        if nm is None or fm is None:
            raise PdfParseError("ObjStm missing /N or /First",
                                code="bad_objstm")
        payload = _decode_object_stream(body, objs)
        if payload is None:
            raise PdfParseError("ObjStm without stream data",
                                code="bad_objstm")
        n, first = int(nm.group(1)), int(fm.group(1))
        header_ints = payload[:first].split()
        if len(header_ints) < 2 * n:
            raise PdfParseError("short ObjStm header", code="bad_objstm")
        pairs = [
            (int(header_ints[2 * i]), int(header_ints[2 * i + 1]))
            for i in range(n)
        ]
        for i, (onum, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(payload) - first
            # top-level definitions win (spec: xref decides; for our
            # lenient scan, a regular object with the same number is
            # the visible one)
            objs.setdefault(onum, payload[first + off : first + end])
    return containers


# ---- ToUnicode CMap support (non-latin text, O2 parity with MuPDF) ----

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEXTRIPLE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
# the bfrange ARRAY destination form (§9.10.3): <lo> <hi> [<d> <d> ...]
_HEXARRAY_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[((?:\s*<[0-9A-Fa-f]+>)+)"
    rb"\s*\]")
_HEXITEM_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_CODESPACE_RE = re.compile(
    rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", re.S)
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_FONTDICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONTREF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+0\s+R")
_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+0\s+R")


def _parse_cmap(stream: bytes) -> dict:
    """Parse a /ToUnicode CMap (bfchar + bfrange) into
    ``{"width": bytes_per_code, "map": {code:int -> str}}``.

    Destination hex is UTF-16BE (PDF 1.7 §9.10.3) — this is how a
    general reader recovers non-latin text; the reference inherits it
    from MuPDF (``approach4_v1.py:21-31``)."""
    width = 2
    cm = _CODESPACE_RE.search(stream)
    if cm is not None:
        width = max(1, len(cm.group(1)) // 2)
    mapping: dict[int, str] = {}
    for block in _BFCHAR_RE.findall(stream):
        for src, dst in _HEXPAIR_RE.findall(block):
            mapping[int(src, 16)] = bytes.fromhex(
                dst.decode()).decode("utf-16-be", errors="replace")
    for block in _BFRANGE_RE.findall(stream):
        # array-destination form first (<lo> <hi> [<d1> <d2> ...]):
        # one explicit target per code — the form real generators emit
        # for non-contiguous targets. Matched spans are excised so the
        # triple scan below cannot misread an array's first element as
        # an increment-form destination.
        def _apply_array(m: "re.Match[bytes]") -> bytes:
            lo_i, hi_i = int(m.group(1), 16), int(m.group(2), 16)
            items = _HEXITEM_RE.findall(m.group(3))
            for off, dst in zip(range(hi_i - lo_i + 1), items):
                mapping[lo_i + off] = bytes.fromhex(
                    dst.decode()).decode("utf-16-be", errors="replace")
            return b""
        block = _HEXARRAY_RE.sub(_apply_array, block)
        for lo, hi, dst in _HEXTRIPLE_RE.findall(block):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            base = int(dst, 16)
            dlen = len(dst)
            for off in range(hi_i - lo_i + 1):
                mapping[lo_i + off] = bytes.fromhex(
                    format(base + off, f"0{dlen}x")
                ).decode("utf-16-be", errors="replace")
    return {"width": width, "map": mapping}


# ---- Simple-font /Encoding support (WinAnsi/MacRoman + /Differences,
# PDF 1.7 §9.6.6; the reference inherits it from MuPDF) ----

_ENCODING_NAME_RE = re.compile(
    rb"/Encoding\s*/(WinAnsiEncoding|MacRomanEncoding|StandardEncoding)")
_ENCODING_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+0\s+R")
_ENCODING_DICT_RE = re.compile(rb"/Encoding\s*<<(.*?)>>", re.S)
_BASEENC_RE = re.compile(rb"/BaseEncoding\s*/(\w+)")
_DIFFS_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.S)
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([A-Za-z0-9._]+)")

# Adobe Glyph List subset: the non-trivial names a Latin-script simple
# font realistically uses in /Differences (single-letter names and
# uniXXXX/uXXXXXX are handled algorithmically in _glyph_to_char).
_GLYPH_TO_UNI = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # Latin-1 supplement and common typographic glyphs
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦",
    "section": "§", "dieresis": "¨", "copyright": "©",
    "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯",
    "degree": "°", "plusminus": "±", "acute": "´",
    "mu": "µ", "micro": "µ", "paragraph": "¶",
    "periodcentered": "·", "cedilla": "¸",
    "ordmasculine": "º", "guillemotright": "»",
    "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
    "Atilde": "Ã", "Adieresis": "Ä", "Aring": "Å",
    "AE": "Æ", "Ccedilla": "Ç", "Egrave": "È",
    "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î",
    "Idieresis": "Ï", "Eth": "Ð", "Ntilde": "Ñ",
    "Ograve": "Ò", "Oacute": "Ó", "Ocircumflex": "Ô",
    "Otilde": "Õ", "Odieresis": "Ö", "multiply": "×",
    "Oslash": "Ø", "Ugrave": "Ù", "Uacute": "Ú",
    "Ucircumflex": "Û", "Udieresis": "Ü", "Yacute": "Ý",
    "Thorn": "Þ", "germandbls": "ß",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "adieresis": "ä", "aring": "å",
    "ae": "æ", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "eth": "ð", "ntilde": "ñ",
    "ograve": "ò", "oacute": "ó", "ocircumflex": "ô",
    "otilde": "õ", "odieresis": "ö", "divide": "÷",
    "oslash": "ø", "ugrave": "ù", "uacute": "ú",
    "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
    "thorn": "þ", "ydieresis": "ÿ",
    "OE": "Œ", "oe": "œ", "Scaron": "Š",
    "scaron": "š", "Ydieresis": "Ÿ", "Zcaron": "Ž",
    "zcaron": "ž", "florin": "ƒ", "circumflex": "ˆ",
    "tilde": "˜", "endash": "–", "emdash": "—",
    "quoteleft": "‘", "quoteright": "’",
    "quotesinglbase": "‚", "quotedblleft": "“",
    "quotedblright": "”", "quotedblbase": "„",
    "dagger": "†", "daggerdbl": "‡", "bullet": "•",
    "ellipsis": "…", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "fraction": "⁄", "Euro": "€", "trademark": "™",
    "minus": "−", "fi": "ﬁ", "fl": "ﬂ",
}


def _glyph_to_char(name: str):
    """Adobe-Glyph-List name → character: single letters/digits map to
    themselves, ``uniXXXX``/``uXXXX(XX)`` decode algorithmically, the
    rest through the table; None = unknown (code drops, like an
    unmapped CMap entry)."""
    if len(name) == 1:
        return name
    if name.startswith("uni") and len(name) >= 7:
        hexpart = name[3:]
        if len(hexpart) % 4:
            return None
        try:
            # multi-group form maps a code to a SEQUENCE (AGL §3:
            # e.g. uni00660069 = "fi")
            return "".join(chr(int(hexpart[i:i + 4], 16))
                           for i in range(0, len(hexpart), 4))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return _GLYPH_TO_UNI.get(name)


def _base_encoding_map(name: str) -> dict:
    """code → char for a named base encoding. WinAnsi is cp1252 and
    MacRoman is mac-roman (exact). StandardEncoding (and the absent
    default) approximates as latin-1 — matching the parser's historical
    raw-byte behavior for unencoded fonts."""
    codec = {"WinAnsiEncoding": "cp1252",
             "MacRomanEncoding": "mac-roman"}.get(name, "latin-1")
    out: dict[int, str] = {}
    for code in range(32, 256):
        try:
            out[code] = bytes([code]).decode(codec)
        except UnicodeDecodeError:
            pass  # the five undefined cp1252 slots: code drops
    return out


def _parse_simple_encoding(font_body: bytes, objs: dict) -> dict | None:
    """Build a width-1 cmap from a simple font's /Encoding entry —
    named encoding, or dict (inline or indirect) with /BaseEncoding +
    /Differences. None when the font has no /Encoding (raw latin-1
    passthrough, the no-op default)."""
    nm = _ENCODING_NAME_RE.search(font_body)
    if nm is not None:
        return {"width": 1,
                "map": _base_encoding_map(nm.group(1).decode("ascii"))}
    enc_body = None
    dm = _ENCODING_DICT_RE.search(font_body)
    if dm is not None:
        enc_body = dm.group(0)
    else:
        rm = _ENCODING_REF_RE.search(font_body)
        if rm is not None:
            enc_body = objs.get(int(rm.group(1)))
    if enc_body is None:
        return None
    bm = _BASEENC_RE.search(enc_body)
    base = bm.group(1).decode("ascii") if bm else "StandardEncoding"
    mapping = _base_encoding_map(base)
    dfm = _DIFFS_RE.search(enc_body)
    if dfm is not None:
        code = 0
        for num, glyph in _DIFF_TOK_RE.findall(dfm.group(1)):
            if num:
                code = int(num)
                continue
            ch = _glyph_to_char(glyph.decode("latin-1"))
            if ch is not None:
                mapping[code] = ch
            else:
                mapping.pop(code, None)
            code += 1
    return {"width": 1, "map": mapping}


def _page_fonts(page_body: bytes, objs: dict[int, bytes],
                cmap_cache: dict) -> dict:
    """Resolve the page's /Resources /Font dict → {name: cmap|None}."""
    res = page_body
    rm = _RESOURCES_REF_RE.search(page_body)
    if rm is not None and int(rm.group(1)) in objs:
        res = objs[int(rm.group(1))]
    fm = _FONTDICT_RE.search(res)
    if fm is None:
        return {}
    fonts: dict[str, dict | None] = {}
    for name, ref in _FONTREF_RE.findall(fm.group(1)):
        fname = "/" + name.decode("latin-1")
        fnum = int(ref)
        if fnum in cmap_cache:
            fonts[fname] = cmap_cache[fnum]
            continue
        cmap = None
        body = objs.get(fnum)
        if body is not None:
            tm = _TOUNICODE_RE.search(body)
            if tm is not None and int(tm.group(1)) in objs:
                stream = _decode_object_stream(
                    objs[int(tm.group(1))], objs, strict=True)
                if stream is not None:
                    cmap = _parse_cmap(stream)
            if cmap is None:
                # simple-font /Encoding (WinAnsi/MacRoman/Differences);
                # a /ToUnicode map always takes precedence
                cmap = _parse_simple_encoding(body, objs)
        cmap_cache[fnum] = cmap
        fonts[fname] = cmap
    return fonts


# ---- Form XObject support (text in /Do-invoked forms, PDF 1.7 §8.10;
# letterheads/stamps/LaTeX output put real text there — the reference
# gets it from MuPDF) ----

_XOBJDICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_FORM_SUBTYPE_RE = re.compile(rb"/Subtype\s*/Form\b")
_FORM_MATRIX_RE = re.compile(
    rb"/Matrix\s*\[\s*" + rb"\s+".join([rb"([-\d.]+)"] * 6) + rb"\s*\]"
)


def _page_xobjects(body: bytes, objs: dict[int, bytes],
                   cmap_cache: dict, seen: frozenset = frozenset()) -> dict:
    """Resolve /Resources /XObject form entries → {"/Name": {content,
    fonts, xobjects}}. Image XObjects are excluded (no text); nested
    forms resolve recursively with a visited-set cycle guard. A form
    whose stream fails to decode propagates the error — unsupported
    means a counted failure, never silently-lost text."""
    res = body
    rm = _RESOURCES_REF_RE.search(body)
    if rm is not None and int(rm.group(1)) in objs:
        res = objs[int(rm.group(1))]
    xm = _XOBJDICT_RE.search(res)
    if xm is None:
        return {}
    out: dict[str, dict] = {}
    for name, ref in _FONTREF_RE.findall(xm.group(1)):
        num = int(ref)
        if num in seen:
            continue
        xbody = objs.get(num)
        if xbody is None or _FORM_SUBTYPE_RE.search(xbody) is None:
            continue
        stream = _decode_object_stream(xbody, objs, strict=True)
        if stream is None:
            continue
        mm = _FORM_MATRIX_RE.search(xbody)
        try:
            matrix = tuple(float(g) for g in mm.groups()) if mm else None
        except ValueError:
            matrix = None
        out["/" + name.decode("latin-1")] = {
            "content": stream,
            "fonts": _page_fonts(xbody, objs, cmap_cache),
            "xobjects": _page_xobjects(xbody, objs, cmap_cache,
                                       seen | {num}),
            "matrix": matrix,
        }
    return out


# ---- Link annotations (/Annots → /Subtype /Link → /A /S /URI; PDF 1.7
# §12.5.6.5) — real-world hyperlinks live here, not in the text layer
# (the reference reads them via MuPDF's page.get_links()) ----

_ANNOTS_RE = re.compile(rb"/Annots\s*(\[[^\]]*\]|\d+\s+0\s+R)")
_LINK_SUBTYPE_RE = re.compile(rb"/Subtype\s*/Link\b")
_ACTION_RE = re.compile(rb"/A\s*(<<|\d+\s+0\s+R)")
_URI_ACTION_RE = re.compile(rb"/S\s*/URI\b")
_URI_STR_RE = re.compile(rb"/URI\s*\(((?:[^()\\]|\\.)*)\)")
_LIT_ESC = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
            b"(": "(", b")": ")", b"\\": "\\"}


def _unescape_pdf_literal(raw: bytes) -> str:
    """Backslash escapes + octal codes of a literal string
    (PDF 1.7 §7.3.4.2), latin-1 byte semantics. Octal runs are 1–3
    digits from [0-7] only (``\\779`` is ``\\77`` + '9'; ``\\8`` is an
    unknown escape whose backslash drops); backslash-newline is a line
    continuation contributing nothing."""
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        ch = raw[i : i + 1]
        if ch != b"\\":
            out.append(ch.decode("latin-1"))
            i += 1
            continue
        nxt = raw[i + 1 : i + 2]
        if nxt in (b"0", b"1", b"2", b"3", b"4", b"5", b"6", b"7"):
            j = i + 1
            # j < n guaranteed by the loop bound, so the slice is
            # non-empty (an empty slice would be `in` any bytes)
            while j < min(i + 4, n) and raw[j : j + 1] in b"01234567":
                j += 1
            out.append(chr(int(raw[i + 1 : j], 8) & 0xFF))
            i = j
        elif nxt in (b"\n", b"\r"):
            i += 2
            if nxt == b"\r" and raw[i : i + 1] == b"\n":
                i += 1  # \<CR><LF> is one continuation
        elif nxt in _LIT_ESC:
            out.append(_LIT_ESC[nxt])
            i += 2
        else:
            i += 2  # unknown escape: drop the backslash (spec behavior)
            out.append(nxt.decode("latin-1"))
    return "".join(out)


def _page_annot_uris(body: bytes, objs: dict[int, bytes]) -> list[str]:
    """URI strings of the page's /Subtype /Link annotations, in /Annots
    array order. Inline and indirect /Annots arrays and /A action dicts
    both resolve; non-link annotations and non-URI actions contribute
    nothing."""
    am = _ANNOTS_RE.search(body)
    if am is None:
        return []
    arr = am.group(1)
    if not arr.startswith(b"["):
        ref_obj = objs.get(int(_REF_RE.match(arr).group(1)))
        if ref_obj is None:
            return []
        arr = ref_obj
    uris: list[str] = []
    for r in _REF_RE.finditer(arr):
        abody = objs.get(int(r.group(1)))
        if abody is None or _LINK_SUBTYPE_RE.search(abody) is None:
            continue
        act = _ACTION_RE.search(abody)
        if act is None:
            continue
        action = abody
        if act.group(1) != b"<<":
            action = objs.get(int(_REF_RE.match(act.group(1)).group(1)))
            if action is None:
                continue
        if _URI_ACTION_RE.search(action) is None:
            continue
        um = _URI_STR_RE.search(action)
        if um is not None:
            uris.append(_unescape_pdf_literal(um.group(1)))
    return uris


_ROTATE_RE = re.compile(rb"/Rotate\s+(-?\d+)\b")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*" + rb"\s+".join([rb"([-\d.]+)"] * 4) + rb"\s*\]"
)


def _node_geometry(body: bytes) -> tuple:
    """(rotate|None, (w,h)|None) declared DIRECTLY on a page-tree node.
    /Rotate and /MediaBox are inheritable attributes (PDF 1.7 Table
    30): scanners commonly set /Rotate once on the /Pages node."""
    rm = _ROTATE_RE.search(body)
    rotate = (int(rm.group(1)) % 360) if rm else None
    box = None
    bm = _MEDIABOX_RE.search(body)
    if bm:
        try:
            x0, y0, x1, y1 = (float(g) for g in bm.groups())
            box = (x1 - x0, y1 - y0)
        except ValueError:
            pass
    return rotate, box


def _merge_geometry(body: bytes, inherited: tuple) -> tuple:
    """Child-ward merge: a node's direct /Rotate//MediaBox override the
    inherited values."""
    rotate, box = _node_geometry(body)
    inh_rot, inh_box = inherited
    return (rotate if rotate is not None else inh_rot,
            box if box is not None else inh_box)


def _page_geometry(body: bytes,
                   inherited: tuple = (None, None)
                   ) -> tuple[int, float, float]:
    """(rotate, width, height) of a page, resolving direct entries over
    inherited ones; /MediaBox defaults to US Letter, /Rotate to 0."""
    rotate, box = _merge_geometry(body, inherited)
    w, h = box if box else (612.0, 792.0)
    return (rotate or 0), w, h


def _apply_page_rotation(shows: list[dict], rotate: int,
                         w: float, h: float) -> None:
    """Map show coordinates from PDF user space into VIEWED space for a
    /Rotate page (clockwise display rotation), in place — reading order
    then sorts in the orientation a human (or MuPDF, which composes the
    page rotation for the reference) actually reads."""
    if rotate == 90:
        for s in shows:
            s["x"], s["y"] = s["y"], w - s["x"]
    elif rotate == 180:
        for s in shows:
            s["x"], s["y"] = w - s["x"], h - s["y"]
    elif rotate == 270:
        for s in shows:
            s["x"], s["y"] = h - s["y"], s["x"]


def page_contents(data: bytes) -> list[tuple]:
    """(content stream, font map, form-XObject map, link-annotation
    URIs, (rotate, width, height)) per page, in PAGE order.

    Strategy (lenient, deterministic):
    1. scan all ``N 0 obj … endobj`` objects;
    2. unpack PDF 1.5+ object streams (/Type /ObjStm) so compressed
       catalogs/page dicts resolve like regular objects — this makes
       xref-stream files readable without parsing the xref itself
       (the object scan already finds every top-level object);
    3. walk /Root → /Pages → /Kids (recursing into nested Pages nodes)
       → each page's /Contents ref(s) — the honest page order — and its
       /Resources /Font dict (for /ToUnicode CMaps, non-latin text);
    4. if the tree is unwalkable (no catalog, broken refs), fall back to
       all stream-bearing objects in byte order (excluding ObjStm/XRef
       containers), with no font info.

    FlateDecode streams are decompressed (zlib, stdlib); other filters
    raise ``PdfParseError(code='unsupported_filter')`` — a counted
    parse failure rather than silently wrong output.
    """
    objs: dict[int, bytes] = {}
    obj_order: list[int] = []
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        if num not in objs:
            obj_order.append(num)
        objs[num] = m.group(2)
    containers = _expand_object_streams(objs) if objs else set()
    cmap_cache: dict = {}

    def tree_order() -> list[tuple[bytes, dict]] | None:
        catalog = None
        for body in objs.values():
            if b"/Type" in body and b"/Catalog" in body:
                catalog = body
                break
        if catalog is None:
            return None
        m = re.search(rb"/Pages\s+(\d+)\s+0\s+R", catalog)
        if m is None:
            return None
        out: list[tuple[bytes, dict]] = []

        def walk(num: int, depth: int = 0,
                 inherited: tuple = (None, None),
                 inh_fonts: dict | None = None,
                 inh_xobjs: dict | None = None) -> bool:
            if depth > 64 or num not in objs:
                return False
            body = objs[num]
            if b"/Kids" in body:
                km = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
                if km is None:
                    return False
                # /Rotate, /MediaBox and /Resources all inherit down
                # the page tree (PDF 1.7 Table 30) — real generators
                # put the shared font dict on the /Pages node
                child_inh = _merge_geometry(body, inherited)
                node_fonts = _page_fonts(body, objs, cmap_cache)
                node_xobjs = _page_xobjects(body, objs, cmap_cache)
                child_fonts = {**(inh_fonts or {}), **node_fonts}
                child_xobjs = {**(inh_xobjs or {}), **node_xobjs}
                for r in _REF_RE.finditer(km.group(1)):
                    if not walk(int(r.group(1)), depth + 1, child_inh,
                                child_fonts or None, child_xobjs or None):
                        return False
                return True
            cm = re.search(rb"/Contents\s+(\[[^\]]*\]|\d+\s+0\s+R)", body)
            if cm is None:
                return True  # page with no content
            parts = []
            for r in _REF_RE.finditer(cm.group(1)):
                ref = int(r.group(1))
                if ref not in objs:
                    return False
                s = _decode_object_stream(objs[ref], objs, strict=True)
                if s is not None:
                    parts.append(s)
            out.append((b"\n".join(parts),
                        {**(inh_fonts or {}),
                         **_page_fonts(body, objs, cmap_cache)},
                        {**(inh_xobjs or {}),
                         **_page_xobjects(body, objs, cmap_cache)},
                        _page_annot_uris(body, objs),
                        _page_geometry(body, inherited)))
            return True

        if not walk(int(m.group(1))):
            return None
        return out if out else None

    ordered = tree_order()
    if ordered is not None:
        return ordered
    # fallback: stream-bearing objects in byte order (closed grammar /
    # damaged files); raw top-level streams if object scan found nothing
    if objs:
        streams = []
        for num in obj_order:
            if num in containers:
                continue
            s = _decode_object_stream(objs[num], objs, strict=False)
            if s is not None:
                streams.append((s, {}, {}, [], (0, 612.0, 792.0)))
        if streams:
            return streams
    return [(s, {}, {}, [], (0, 612.0, 792.0))
            for s in _STREAM_RE.findall(data)]


def page_streams(data: bytes) -> list[bytes]:
    """Content streams in PAGE order (font/xobject info dropped — see
    :func:`page_contents`)."""
    return [c for c, *_ in page_contents(data)]

# trailer-dict encryption marker ("/Encrypt N 0 R"); anchored to the
# indirect-ref shape so content-stream text can't false-positive
_ENCRYPT_RE = re.compile(rb"/Encrypt\s+\d+\s+\d+\s+R\b")

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NAME_RE = re.compile(rb"/[^\s()<>\[\]{}/%]*")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")
_EOL_RE = re.compile(rb"\r\n|\r|\n")


def _scan_string(buf: bytes, i: int) -> tuple[str, int]:
    """Scan a PDF literal string starting at ``buf[i] == '('``.

    Handles escape sequences (\\( \\) \\\\ \\n \\r \\t \\b \\f \\ddd) and
    balanced unescaped parentheses per PDF 1.4 §3.2.3.
    """
    assert buf[i : i + 1] == b"("
    # fast path: no escapes, no nesting before the close paren (the
    # overwhelmingly common case) — one find + one slice
    j = buf.find(b")", i + 1)
    if j != -1:
        seg = buf[i + 1 : j]
        if b"\\" not in seg and b"(" not in seg:
            return seg.decode("latin-1"), j + 1
    out = bytearray()
    depth = 1
    i += 1
    esc_map = {
        ord("n"): 10, ord("r"): 13, ord("t"): 9,
        ord("b"): 8, ord("f"): 12,
        ord("("): 40, ord(")"): 41, ord("\\"): 92,
    }
    while i < len(buf):
        c = buf[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= len(buf):
                break
            c2 = buf[i]
            if c2 in esc_map:
                out.append(esc_map[c2])
                i += 1
            elif 0x30 <= c2 <= 0x37:  # octal
                oct_digits = bytearray([c2])
                i += 1
                while i < len(buf) and len(oct_digits) < 3 and 0x30 <= buf[i] <= 0x37:
                    oct_digits.append(buf[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif c2 in (10, 13):  # line continuation
                i += 1
                if c2 == 13 and i < len(buf) and buf[i] == 10:
                    i += 1
            else:
                out.append(c2)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                i += 1
                break
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return out.decode("latin-1"), i


_WS_BYTES = frozenset(b" \t\r\n\x00\x0c")


_ID_TOKEN_RE = re.compile(rb"(?<![A-Za-z])ID(?![A-Za-z])")


def _skip_inline_image(buf: bytes, i: int) -> int:
    """Index just past the ``EI`` that closes an inline image whose
    ``BI`` ended at ``i`` (PDF 1.7 §8.9.7). The raw sample bytes after
    ``ID`` are unframed binary — they may contain ``(``/``[``/operator
    lookalikes that would desync the tokenizer — so scan for an ``EI``
    delimited by whitespace on the left and whitespace/EOF on the
    right; unterminated images consume the rest of the stream (the
    lenient choice: never raise from the tokenizer)."""
    m = _ID_TOKEN_RE.search(buf, i)
    if m is None:
        return len(buf)
    k = m.end()
    if k < len(buf) and buf[k] in _WS_BYTES:
        k += 1  # the single whitespace byte the spec puts after ID
    n = len(buf)
    while True:
        j = buf.find(b"EI", k)
        if j < 0:
            return n
        before_ws = j > 0 and buf[j - 1] in _WS_BYTES
        after_ok = j + 2 >= n or buf[j + 2] in _WS_BYTES
        if before_ws and after_ok:
            return j + 2
        k = j + 2


def _tokenize_content(buf: bytes) -> list:
    """Return ('num', float) | ('str', str) | ('name', str) |
    ('op', str) | ('[', None) | (']', None) tokens of a content stream
    as a LIST (a generator costs a resume per token — the tokenizer is
    the PDF hot loop, and list-building measured ~15% faster
    end-to-end).

    Inline images (``BI … ID <binary> EI``) are skipped wholesale so
    their unframed sample bytes cannot desync the scan — real scanned-
    page hybrids carry text between images (the reference gets this
    from MuPDF).

    Hot loop uses int byte comparisons (indexing bytes yields int;
    slicing per char would allocate)."""
    out: list = []
    emit = out.append
    i, n = 0, len(buf)
    ws = _WS_BYTES
    while i < n:
        ci = buf[i]
        if ci in ws:
            i += 1
            continue
        if ci == 0x28:  # (
            s, i = _scan_string(buf, i)
            emit(("str", s))
        elif ci == 0x5B:  # [
            emit(("[", None))
            i += 1
        elif ci == 0x5D:  # ]
            emit(("]", None))
            i += 1
        elif ci == 0x2F:  # /
            m = _NAME_RE.match(buf, i)
            emit(("name", m.group().decode("latin-1")))
            i = m.end()
        elif ci == 0x25:  # %
            # comment runs to EOL — CR, LF or CRLF are all legal PDF
            # EOLs (§7.2.3); searching only for LF would swallow the
            # next line's operators on CR-only files
            m = _EOL_RE.search(buf, i)
            i = n if m is None else m.end()
        elif ci == 0x3C:  # <
            # hex string or dict — skip to matching close (not emitted by
            # our generator; tolerated for robustness)
            if buf[i : i + 2] == b"<<":
                j = buf.find(b">>", i)
                i = n if j < 0 else j + 2
            else:
                j = buf.find(b">", i)
                if j < 0:
                    i = n
                else:
                    hx = re.sub(rb"\s", b"", buf[i + 1: j])
                    if len(hx) % 2:
                        hx += b"0"  # odd digit count: final 0 assumed
                    try:
                        s = bytes.fromhex(hx.decode())
                    except ValueError:
                        # non-hex garbage inside <...>: spec-invalid —
                        # skip the token rather than crash the page
                        s = b""
                    if s:
                        emit(("str", s.decode("latin-1")))
                    i = j + 1
        else:
            m = _NUM_RE.match(buf, i)
            if m and m.end() > i:
                emit(("num", float(m.group())))
                i = m.end()
                continue
            m = _OP_RE.match(buf, i)
            if m and m.end() > i:
                op = m.group().decode("latin-1")
                if op == "BI":  # inline image: skip to its EI wholesale
                    i = _skip_inline_image(buf, m.end())
                    continue
                emit(("op", op))
                i = m.end()
            else:
                i += 1  # unknown byte — skip
    return out


_MAT_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m1: tuple, m2: tuple) -> tuple:
    """PDF matrix concatenation (apply ``m1`` then ``m2``): row-vector
    convention of PDF 1.7 §8.3.4, [a b 0; c d 0; e f 1]."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2,
    )


def _mat_translate(tx: float, ty: float, m: tuple) -> tuple:
    """``translate(tx,ty) × m`` without the general-product FLOPs — and,
    for translation-only ``m``, bit-identical to the pre-matrix
    accumulator arithmetic (e+tx, f+ty)."""
    a, b, c, d, e, f = m
    return (a, b, c, d, tx * a + ty * c + e, tx * b + ty * d + f)


def _apply_cmap(s: str, cmap: dict) -> str:
    """Map a raw show string (latin-1-preserved bytes) through a
    /ToUnicode CMap: fixed-width codes → Unicode; unmapped codes drop
    (deterministic, mirrors a strict CMap lookup)."""
    raw = s.encode("latin-1", errors="ignore")
    w, m = cmap["width"], cmap["map"]
    out = []
    for i in range(0, len(raw) - w + 1, w):
        ch = m.get(int.from_bytes(raw[i:i + w], "big"))
        if ch is not None:
            out.append(ch)
    return "".join(out)


def _interpret_page(content: bytes, page: int,
                    fonts: dict | None = None,
                    xobjects: dict | None = None,
                    depth: int = 0,
                    ctm: tuple = _MAT_ID) -> list[dict]:
    """Interpret text operators of one page's content stream into raw
    show-spans ``{page, x, y, text}``.

    Full matrix semantics (PDF 1.7 §8.3.4/§9.4.2): the CTM is tracked
    through ``cm`` with a ``q``/``Q`` graphics-state stack, the text and
    text-line matrices (Tm/Tlm) through ``BT Td TD Tm T* ' "`` — show
    coordinates are the DEVICE-space origin of ``Tm × CTM``, so
    rotated/scaled content sorts into the same reading order a raster
    renderer would produce (reference behavior via MuPDF). ``fonts``
    maps /Name → parsed ToUnicode CMap (or None); ``Tf`` switches the
    active map and show strings decode through it (non-latin text).
    ``xobjects`` maps /Name → form-XObject entries; ``Do`` interprets
    the form's content
    recursively (its own fonts, falling back to the page's;
    depth-capped) under ``form /Matrix × CTM`` so form-carried text
    lands in the same coordinate-sorted reading order."""
    shows: list[dict] = []
    stack: list = []
    in_array: list | None = None
    tm = tlm = _MAT_ID     # text matrix / text line matrix
    gs_stack: list[tuple] = []
    leading = 0.0
    in_text = False
    cur_cmap: dict | None = None
    fonts = fonts or {}
    for kind, val in _tokenize_content(content):
        if kind == "[":
            in_array = []
            continue
        if kind == "]":
            stack.append(in_array)
            in_array = None
            continue
        if in_array is not None:
            if kind in ("num", "str"):
                in_array.append(val)
            continue
        if kind in ("num", "str", "name"):
            stack.append(val)
            continue
        op = val
        if op == "BT":
            in_text = True
            tm = tlm = _MAT_ID
            leading = 0.0
        elif op == "ET":
            in_text = False
        elif op in ("Td", "TD"):
            if len(stack) >= 2:
                ty = stack[-1]
                tx = stack[-2]
                if isinstance(tx, float) and isinstance(ty, float):
                    tm = tlm = _mat_translate(tx, ty, tlm)
                    if op == "TD":
                        leading = -ty
        elif op == "Tm":
            if len(stack) >= 6 and all(
                    isinstance(v, float) for v in stack[-6:]):
                tm = tlm = tuple(stack[-6:])
        elif op == "T*":
            tm = tlm = _mat_translate(0.0, -leading, tlm)
        elif op == "TL":
            if stack and isinstance(stack[-1], float):
                leading = stack[-1]
        elif op == "cm":
            if len(stack) >= 6 and all(
                    isinstance(v, float) for v in stack[-6:]):
                ctm = _mat_mul(tuple(stack[-6:]), ctm)
        elif op == "q":
            gs_stack.append(ctm)
        elif op == "Q":
            if gs_stack:
                ctm = gs_stack.pop()
        elif op == "Tf":
            # [..., /Name, size] — switch the active ToUnicode map
            if len(stack) >= 2 and isinstance(stack[-2], str):
                cur_cmap = fonts.get(stack[-2])
        elif op == "Do":
            if (xobjects and depth < 4 and stack
                    and isinstance(stack[-1], str)):
                xo = xobjects.get(stack[-1])
                if xo is not None:
                    fmat = xo.get("matrix")
                    shows.extend(_interpret_page(
                        xo["content"], page,
                        xo["fonts"] or fonts,
                        xo["xobjects"] or xobjects,
                        depth + 1,
                        _mat_mul(fmat, ctm) if fmat else ctm))
        elif op in ("Tj", "'", '"'):
            if op != "Tj":
                # ' and " (aw ac string ") both move to the next line
                # before showing (PDF 1.7 §9.4.3); the " spacing args
                # are geometry only
                tm = tlm = _mat_translate(0.0, -leading, tlm)
            if stack and isinstance(stack[-1], str) and in_text:
                txt = (_apply_cmap(stack[-1], cur_cmap)
                       if cur_cmap else stack[-1])
                trm = _mat_mul(tm, ctm)
                shows.append({"page": page, "x": trm[4], "y": trm[5],
                              "text": txt})
        elif op == "TJ":
            if stack and isinstance(stack[-1], list) and in_text:
                parts = []
                for e in stack[-1]:
                    if isinstance(e, str):
                        parts.append(_apply_cmap(e, cur_cmap)
                                     if cur_cmap else e)
                    elif (isinstance(e, float)
                          and e <= TJ_WORD_GAP
                          and parts and not parts[-1].endswith(" ")):
                        # large negative kern = an encoded word gap
                        parts.append(" ")
                trm = _mat_mul(tm, ctm)
                shows.append({"page": page, "x": trm[4], "y": trm[5],
                              "text": "".join(parts)})
        stack.clear()
    return shows


# TJ array offsets are thousandths of a text-space unit, negative =
# rightward gap. Many generators encode inter-word SPACES as kerns
# instead of literal space glyphs; below this threshold the gap is a
# word break (~0.12 em — space glyphs are ~0.25 em, intra-word kerns
# are tens of units). MuPDF applies the same heuristic for the
# reference.
TJ_WORD_GAP = -120.0


def _column_clusters(xs: list[float], gap: float = COLUMN_GAP_PT) -> list[float]:
    """Cluster sorted unique x-origins; a new column starts when the gap to
    the previous origin exceeds ``gap`` (O29, ``final.py:44-69``).
    Returns the cluster start boundaries."""
    uniq = sorted(set(xs))
    if not uniq:
        return []
    starts = [uniq[0]]
    prev = uniq[0]
    for x in uniq[1:]:
        if x - prev > gap:
            starts.append(x)
        prev = x
    return starts


def extract_pdf_full(data: bytes) -> tuple[str, list[dict], int, list[str]]:
    """Parse the PDF text layer; returns (extracted_text, spans,
    n_pages, link_annotation_uris).

    Page order comes from the /Root→/Pages→/Kids tree walk with a
    byte-order fallback for damaged files (``page_streams``); FlateDecode
    streams are decompressed. Reading order: page → column (x-gap
    clustering, >40pt) → y descending → x — the total deterministic key
    required for byte-identity (O36).
    """
    if not data.lstrip()[:5] == b"%PDF-":
        raise PdfParseError("missing %PDF- magic", code="bad_magic")
    if _ENCRYPT_RE.search(data):
        # encrypted documents would tokenize into garbage; refuse with
        # a counted reason instead (decryption is out of scope)
        raise PdfParseError("encrypted document", code="encrypted")
    pages_fonts = page_contents(data)
    if not pages_fonts:
        raise PdfParseError("no content streams", code="no_streams")
    shows: list[dict] = []
    links: list[str] = []
    for page, (content, fonts, xobjects, uris, geom) in enumerate(
            pages_fonts):
        page_shows = _interpret_page(content, page, fonts, xobjects)
        _apply_page_rotation(page_shows, *geom)
        shows.extend(page_shows)
        links.extend(uris)
    spans: list[dict] = []
    by_page: dict[int, list[dict]] = {}
    for s in shows:
        by_page.setdefault(s["page"], []).append(s)
    for page in sorted(by_page):
        page_shows = by_page[page]
        starts = _column_clusters([s["x"] for s in page_shows])
        for s in page_shows:
            col = 0
            for ci, cs in enumerate(starts):
                if s["x"] >= cs - 1e-9:
                    col = ci
            s["col"] = col
        page_shows.sort(key=lambda s: (s["col"], -s["y"], s["x"]))
        for s in page_shows:
            t = s["text"].strip()
            if not t:
                continue
            spans.append({
                "page": s["page"], "block": len(spans),
                "x0": float(s["x"]), "y0": float(s["y"]),
                "x1": float(s["x"]), "y1": float(s["y"]),
                "kind": "block", "text": t,
            })
    text = "\n".join(s["text"] for s in spans)
    return text, spans, len(pages_fonts), links


# ---------------------------------------------------------------------------
# DOCX extraction (O3) — stdlib zip + regex over the OOXML body
# ---------------------------------------------------------------------------

_WP_RE = re.compile(r"<w:p[ >].*?</w:p>|<w:p/>", re.S)
_WT_RE = re.compile(r"<w:t(?:\s[^>]*)?>(.*?)</w:t>", re.S)
_WHYPER_RE = re.compile(r'<w:hyperlink\s[^>]*r:id="([^"]+)"')
_REL_RE = re.compile(
    r'<Relationship\s[^>]*Id="([^"]+)"[^>]*Target="([^"]+)"[^>]*/?>')
_REL_EXTERNAL_RE = re.compile(r'TargetMode="External"')


def extract_docx_full(data: bytes) -> tuple[str, list[dict], list[str]]:
    """Paragraph text from word/document.xml, one block per <w:p>
    (reference: python-docx paragraphs, ``approach4_v1.py:33-42``),
    plus hyperlink targets: ``<w:hyperlink r:id>`` references resolved
    through the external-mode relationships in
    ``word/_rels/document.xml.rels`` — where .docx hyperlinks actually
    live (python-docx exposes the same via part.rels)."""
    import io
    import zipfile
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            xml = z.read("word/document.xml").decode("utf-8",
                                                     errors="replace")
            try:
                rels_xml = z.read("word/_rels/document.xml.rels").decode(
                    "utf-8", errors="replace")
            except KeyError:
                rels_xml = ""
    except (zipfile.BadZipFile, KeyError) as e:
        raise PdfParseError(f"bad docx container: {e}",
                            code="bad_container") from e
    rels: dict[str, str] = {}
    for m in _REL_RE.finditer(rels_xml):
        frag = m.group(0)
        if _REL_EXTERNAL_RE.search(frag):
            rels[m.group(1)] = _htmllib.unescape(m.group(2))
    links = [rels[rid] for rid in _WHYPER_RE.findall(xml)
             if rid in rels]
    spans: list[dict] = []
    for pm in _WP_RE.finditer(xml):
        runs = _WT_RE.findall(pm.group(0))
        full = _norm_ws(_htmllib.unescape("".join(runs)))
        if not full:
            continue
        spans.append({
            "page": 0, "block": len(spans),
            "x0": 0.0, "y0": 0.0, "x1": 0.0, "y1": 0.0,
            "kind": "main", "text": full,
        })
    return "\n".join(s["text"] for s in spans), spans, links


# ---------------------------------------------------------------------------
# Per-document driver (the pure map the whole engine distributes)
# ---------------------------------------------------------------------------

EMPTY_FIELDS = {
    "link_uris": [], "outlinks": [], "anchors": [], "meta_robots": "",
}


def fail_reason(exc: Exception) -> str:
    """Stable failure-class code for ``lineage.reason``."""
    import zlib
    if isinstance(exc, PdfParseError):
        return exc.code
    if isinstance(exc, (zlib.error, EOFError, OSError)):
        # gzip transfer-decode failures (gzip raises BadGzipFile ⊂ OSError)
        return "bad_transfer"
    return "parse_error"


_IMAGE_XOBJ_RE = re.compile(rb"/Subtype\s*/Image\b")


def classify_pdf_no_text(data: bytes) -> str:
    """Failure class for a PDF that parses but yields NO text — the
    OCR-budget split (VERDICT r3 #8): ``raster_only`` when the file
    declares an image XObject (a scanned page a future OCR route could
    address — the addressable market), else ``no_text_layer`` (a
    text-capable page with an empty layer). The image declaration
    lives in a plain object dict (never inside a compressed stream),
    so one bounded byte regex suffices."""
    try:
        data = _decode_transfer(bytes(data))
    except Exception:
        pass
    return ("raster_only" if _IMAGE_XOBJ_RE.search(data)
            else "no_text_layer")


def extract_document(data: bytes) -> dict:
    """bytes → extraction record; never raises (EP3 error-row protocol).

    The record holds status, route, reason, extracted_text, spans,
    fields, n_pages and n_blocks. ``fields`` holds only what the bytes
    alone tell (``link_uris``, ``outlinks``, ``anchors``,
    ``meta_robots``). Sections and the regex field families are not
    part of it: they are derived from the text and spans at dataset
    level (``operators.sections.sections_df``,
    ``functions.fields.fields_col``).

    ``reason`` is None on success, else a stable failure-class code
    (unknown_route | unsupported_filter | encrypted | bad_flate |
    bad_objstm | bad_container | bad_transfer | bad_magic | no_streams
    | raster_only | no_text_layer | parse_error).
    """
    route = sniff(data)
    link_uris: list[str] = []
    outlinks: list[str] = []
    anchors: list[str] = []
    meta_robots = ""
    try:
        if route == "html":
            text, spans, outlinks, anchors, meta_robots = (
                extract_html_full(_decode_transfer_html(data)))
            n_pages = 1
        elif route == "docx":
            # gzip-wrapped DOCX is routed by its decompressed head, so
            # the extractor must decode the transfer layer too
            text, spans, link_uris = extract_docx_full(
                _decode_transfer(data))
            n_pages = 1
        elif route == "pdf":
            text, spans, n_pages, link_uris = extract_pdf_full(
                _decode_transfer(data))
            if not text:
                # parsed fine but nothing shown: the OCR-budget split
                return {
                    "status": "parse_failure", "route": route,
                    "reason": classify_pdf_no_text(data),
                    "extracted_text": "", "spans": [],
                    "fields": dict(EMPTY_FIELDS),
                    "n_pages": 0, "n_blocks": 0,
                }
        else:
            return {
                "status": "parse_failure", "route": route,
                "reason": "unknown_route",
                "extracted_text": "", "spans": [],
                "fields": dict(EMPTY_FIELDS),
                "n_pages": 0, "n_blocks": 0,
            }
        return {
            "status": "ok", "route": route, "reason": None,
            "extracted_text": text, "spans": spans,
            # raw hrefs in document order, duplicates kept — the
            # link-graph input (resolution against the page url is a
            # JVM expression)
            "fields": {"link_uris": link_uris, "outlinks": outlinks,
                       "anchors": anchors, "meta_robots": meta_robots},
            "n_pages": n_pages, "n_blocks": len(spans),
        }
    except Exception as e:
        return {
            "status": "parse_failure", "route": route,
            "reason": fail_reason(e),
            "extracted_text": "", "spans": [],
            "fields": dict(EMPTY_FIELDS),
            "n_pages": 0, "n_blocks": 0,
        }
