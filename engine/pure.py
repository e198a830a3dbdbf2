"""Pure, Spark-free primitives shared by the engine and the refspec oracle.

These four functions ARE the cross-language invariant surface pinned by
SURVEY.md §2 groups F1-F4 and BASELINE.json:15 ("byte-identical extracted
text per url"):

- :func:`canon`        — F1 URL canonicalization (RFC-3986-ish, pinned dialect)
- :func:`hash64`       — F2 cross-language 64-bit URL hash (sha256-based)
- :func:`html_to_text` — F3 HTML → visible text (pinned extractor dialect)
- :func:`extract_links`— F4 HTML → canonical absolute outlinks

The Spark engine wraps them in vectorized pandas UDFs (engine/udfs.py); the
refspec oracle (refspec/crawler.py) and the fixture generator
(fixtures/gen.py) call them directly.  Byte-identity across the two paths is
therefore *by construction*, and tests/test_properties.py additionally
asserts the vectorized path equals the scalar path on the same inputs.

No imports beyond the stdlib.  Determinism: no wall clock, no unseeded RNG,
no dict-order dependence in outputs (all collections sorted before emit).
"""

from __future__ import annotations

import hashlib
import re
import struct
from html import unescape
from html.parser import HTMLParser
from urllib.parse import urljoin, urlsplit

__all__ = [
    "canon",
    "hash64",
    "hash64_hex",
    "stable_hash",
    "html_to_text",
    "extract_links",
    "extract_text_and_links",
]

# --------------------------------------------------------------------------
# F1 — URL canonicalization
# --------------------------------------------------------------------------

_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_HEX = frozenset("0123456789abcdefABCDEF")
_DEFAULT_PORT = {"http": 80, "https": 443}


def _norm_pct(s: str) -> str:
    """Uppercase %XX escapes; decode escapes of unreserved characters.

    Malformed escapes (% not followed by two hex digits) pass through
    verbatim — pinned behavior, mirrored nowhere else, so both sides agree
    trivially by calling this one function.
    """
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 3 <= n:
            h = s[i + 1 : i + 3]
            if h[0] in _HEX and h[1] in _HEX:
                b = int(h, 16)
                ch = chr(b)
                if ch in _UNRESERVED:
                    out.append(ch)
                else:
                    out.append("%" + h.upper())
                i += 3
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    output: list[str] = []
    buf = path
    while buf:
        if buf.startswith("../"):
            buf = buf[3:]
        elif buf.startswith("./"):
            buf = buf[2:]
        elif buf.startswith("/./"):
            buf = "/" + buf[3:]
        elif buf == "/.":
            buf = "/"
        elif buf.startswith("/../"):
            buf = "/" + buf[4:]
            if output:
                output.pop()
        elif buf == "/..":
            buf = "/"
            if output:
                output.pop()
        elif buf in (".", ".."):
            buf = ""
        else:
            if buf.startswith("/"):
                j = buf.find("/", 1)
            else:
                j = buf.find("/")
            if j == -1:
                output.append(buf)
                buf = ""
            else:
                output.append(buf[:j])
                buf = buf[j:]
    return "".join(output)


def canon(url: str | None) -> str | None:
    """Pinned URL canonicalization (SURVEY.md §2 F1).

    Rules, in order: reject non-http(s) / host-less / unparseable → None;
    lowercase scheme and host; drop userinfo; strip default ports (80/443);
    drop fragment; normalize %-escapes (uppercase, decode unreserved);
    collapse dot-segments; empty path → "/"; sort query pairs by (key,
    value) and drop an empty query.

    Idempotent: canon(canon(u)) == canon(u) (property-tested).
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    try:
        host = parts.hostname
        port = parts.port
    except ValueError:
        return None
    if not host:
        return None
    host = _norm_pct(host.lower())
    netloc = host
    if port is not None and port != _DEFAULT_PORT[scheme]:
        netloc = f"{host}:{port}"

    path = _remove_dot_segments(_norm_pct(parts.path))
    if not path:
        path = "/"

    query = _norm_pct(parts.query)
    if query:
        pairs = []
        for piece in query.split("&"):
            if not piece:
                continue
            k, sep, v = piece.partition("=")
            pairs.append((k, v if sep else None))
        pairs.sort(key=lambda kv: (kv[0], "" if kv[1] is None else kv[1]))
        query = "&".join(k if v is None else f"{k}={v}" for k, v in pairs)
    if query:
        return f"{scheme}://{netloc}{path}?{query}"
    return f"{scheme}://{netloc}{path}"


# --------------------------------------------------------------------------
# F2 — cross-language 64-bit hash
# --------------------------------------------------------------------------


def hash64(s: str) -> int:
    """Signed int64 from the first 8 bytes (big-endian) of sha256(utf-8).

    Pinned instead of xxhash64 (package unavailable — SURVEY.md §0.4) and
    instead of JVM-side hashing so Python (refspec, fixture gen) and Spark
    (pandas UDF) agree bit-for-bit.  Cross-checked in SQL against
    ``substr(sha2(s, 256), 1, 16)`` (hex of the same 8 bytes).
    """
    return struct.unpack(">q", hashlib.sha256(s.encode("utf-8")).digest()[:8])[0]


def hash64_hex(s: str) -> str:
    """First 16 hex chars of sha256(utf-8) — the SQL-oracle-able twin of
    :func:`hash64` (DuckDB ``substr(sha256(s),1,16)`` ==
    Spark ``substr(sha2(s,256),1,16)``)."""
    return hashlib.sha256(s.encode("utf-8")).hexdigest()[:16]


def stable_hash(s: str) -> int:
    """Unsigned 64-bit variant used by the deterministic fixture generator."""
    return hash64(s) & 0xFFFFFFFFFFFFFFFF


# --------------------------------------------------------------------------
# F3 — HTML → text (pinned dialect)
# --------------------------------------------------------------------------

_SKIP_TAGS = frozenset({"script", "style"})
_BLOCK_TAGS = frozenset(
    {
        "html", "head", "body", "title", "p", "div", "br", "hr",
        "h1", "h2", "h3", "h4", "h5", "h6",
        "ul", "ol", "li", "dl", "dt", "dd",
        "table", "thead", "tbody", "tr", "td", "th",
        "blockquote", "pre", "section", "article", "header", "footer",
        "nav", "aside", "main", "form", "figure", "figcaption",
    }
)


class _CombinedExtractor(HTMLParser):
    """The HTMLParser reference path of the pinned dialect (F3 and F4).

    Text (script/style skipped, block boundaries flushed, whitespace
    collapsed) and raw <a href> targets react to disjoint aspects of the
    same event stream, so one ``feed`` yields both — each page is parsed
    once whichever of the two the caller wants."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._blocks: list[str] = []
        self._buf: list[str] = []
        self._skip = 0
        self.hrefs: list[str] = []

    def _flush(self) -> None:
        raw = "".join(self._buf)
        self._buf = []
        collapsed = " ".join(raw.split())
        if collapsed:
            self._blocks.append(collapsed)

    def handle_starttag(self, tag, attrs):  # noqa: D102
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.hrefs.append(v)
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):  # noqa: D102
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):  # noqa: D102
        if not self._skip:
            self._buf.append(data)

    def text(self) -> str:
        self._flush()
        return "\n".join(self._blocks)


# --- fast-path scanner -----------------------------------------------------
#
# The extractor dialect is PINNED to stdlib html.parser semantics (the class
# above is the reference implementation), but html.parser costs ~9 ms per
# ~29 KB markup-dense page — and parsing is ~90% of the crawl round's CPU
# (BENCH/scaling_4to16.json cpu_python).  The scanner below computes the
# identical result with a handful of C-level regex passes for pages inside a
# strictly GUARDED dialect subset, and returns None (→ callers run the
# HTMLParser reference path) the moment a page steps outside it.  Every
# guard is conservative: comments/declarations/PIs, single-quoted or
# unquoted attribute values, '>' or '<' inside quoted values, any '&' in
# text data (charref chunk-boundary semantics), leftover/self-closed/nested
# script-style, NUL bytes, malformed tags — all fall back.  Equivalence
# fast-vs-reference is asserted on every fixture page plus adversarial and
# hypothesis-generated inputs in tests/test_pure_fast.py.

# one well-formed tag: start tag with only double-quoted (no '<'/'>')
# attribute values and optional self-slash, or a bare end tag.  Consumes
# exactly one '<' and contains none after it — so sub('') leaving no '<'
# proves every '<' in the page opened a well-formed tag.
_FAST_TAG_RE = re.compile(
    r"<(?:"
    r"[a-zA-Z][a-zA-Z0-9]*"
    r'(?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*(?:\s*=\s*"[^\"<>\x01]*")?)*'
    r"\s*/?"
    r"|"
    r"/[a-zA-Z][a-zA-Z0-9]*\s*"
    r")>"
)
# script/style cdata span: open tag (NOT self-closed) through the FIRST
# matching close tag — html.parser's cdata mode ends at the first
# '</\s*{elem}\s*>' too (a '</scriptfoo>' does not end it on either side)
_FAST_SKIP_SPAN_RE = re.compile(
    r"<(script|style)(?=[\s/>])[^>]*(?<!/)>.*?</\s*\1\s*>",
    re.I | re.S,
)
_FAST_SKIP_LEFT_RE = re.compile(r"</?\s*(?:script|style)(?=[\s/>])", re.I)
# block-tag matcher, twice: a case-insensitive general form, and a
# first-letter-grouped case-sensitive form ~3x faster on the hot path
# (chosen when the page provably contains no uppercase tag names).
# tests/test_pure_fast.py::test_block_regexes_agree pins the two to the
# exact same tag-name set.
_FAST_BLOCK_CI_RE = re.compile(
    r"</?(?:" + "|".join(sorted(_BLOCK_TAGS)) + r")(?=[\s/>])[^<>]*>",
    re.I,
)
_FAST_BLOCK_CS_RE = re.compile(
    r"</?(?:"
    r"h(?:tml|ead(?:er)?|r|[1-6])"
    r"|b(?:ody|lockquote|r)"
    r"|t(?:itle|able|head|body|r|d|h)"
    r"|d(?:iv|l|t|d)"
    r"|p(?:re)?"
    r"|ul|ol|li|section|nav|main"
    r"|a(?:rticle|side)"
    r"|f(?:ooter|orm|ig(?:ure|caption))"
    r")(?=[\s/>])[^<>]*>"
)
_FAST_UPPER_TAG_RE = re.compile(r"<[/]?[a-zA-Z0-9]*[A-Z]")
# attr-less tags — the overwhelming majority on a markup-dense page; a
# cheap first guard pass so the expensive strict pattern only scans the
# residue that actually carries attributes
_FAST_SIMPLE_TAG_RE = re.compile(r"</?[a-zA-Z][a-zA-Z0-9]*\s*/?>")
# after the strict guard every tag span is '<' .. first '>' with no
# '<'/'>' inside, so inline removal needs no alternation at all
_FAST_ANY_TAG_RE = re.compile(r"<[^>]*>")
_FAST_A_RE = re.compile(r"<a(?=[\s/>])[^>]*>", re.I)
_FAST_HREF_RE = re.compile(r'\shref\s*=\s*"([^"]*)"', re.I)


def _fast_scan(html: str) -> tuple[str, list[str]] | None:
    """(text, raw hrefs) for pages inside the guarded dialect subset,
    else None → caller must run the HTMLParser reference path."""
    if "\x00" in html or "\x01" in html:
        return None
    stripped = _FAST_SKIP_SPAN_RE.sub("", html)
    if _FAST_SKIP_LEFT_RE.search(stripped):
        # unmatched / self-closed / nested script-style → reference path
        return None
    # strictness guard: every '<' must open a well-formed tag (html.parser
    # emits tags with malformed attribute quoting as DATA — e.g. an
    # unclosed '="' — so tolerant matching here would silently diverge;
    # the strict pattern validates quote structure).  Two tiers purely for
    # speed: sub out the attr-less tags first, then strict-validate the
    # few attribute-carrying tags in the residue.  The placeholder \x01
    # (guarded absent from the input, and excluded from the strict
    # pattern's value class) keeps removal from splicing adjacent text
    # into a fake well-formed tag.
    rest = _FAST_TAG_RE.sub("", _FAST_SIMPLE_TAG_RE.sub("\x01", stripped))
    if "<" in rest or "&" in rest:
        # malformed tag somewhere, or charrefs in text data (whose
        # per-chunk unescape semantics we don't reproduce) → reference
        return None
    hrefs: list[str] = []
    for m in _FAST_A_RE.finditer(stripped):
        tag = m.group(0)
        for hm in _FAST_HREF_RE.finditer(tag):
            v = hm.group(1)
            if v:
                hrefs.append(unescape(v) if "&" in v else v)
    block_re = (
        _FAST_BLOCK_CI_RE
        if _FAST_UPPER_TAG_RE.search(stripped)
        else _FAST_BLOCK_CS_RE
    )
    text_src = _FAST_ANY_TAG_RE.sub("", block_re.sub("\x00", stripped))
    blocks: list[str] = []
    for seg in text_src.split("\x00"):
        collapsed = " ".join(seg.split())
        if collapsed:
            blocks.append(collapsed)
    return "\n".join(blocks), hrefs


def _scan(html: bytes | str) -> tuple[str, list[str]]:
    """(text, raw hrefs) of one page: decode bytes, try the guarded fast
    scanner, else run the _CombinedExtractor reference path."""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", "replace")
    fast = _fast_scan(html)
    if fast is not None:
        return fast
    p = _CombinedExtractor()
    p.feed(html)
    p.close()
    return p.text(), p.hrefs


def html_to_text(html: bytes | str | None) -> str | None:
    """Pinned extractor dialect (SURVEY.md §2 F3): stdlib ``html.parser``,
    script/style dropped, whitespace runs collapsed to single spaces,
    block-level boundaries emit ``\\n``.  None → None."""
    if html is None:
        return None
    return _scan(html)[0]


# --------------------------------------------------------------------------
# F4 — HTML → canonical outlinks
# --------------------------------------------------------------------------


def _canon_links(hrefs: list[str], base_url: str | None) -> list[str]:
    """Resolve + canonicalize + dedupe + sort href targets (shared by
    extract_links and extract_text_and_links — one dialect)."""
    out: set[str] = set()
    for href in hrefs:
        try:
            absolute = urljoin(base_url or "", href)
        except ValueError:
            continue
        c = canon(absolute)
        if c is not None:
            out.add(c)
    return sorted(out)


def compress_html(html: bytes | str | None) -> bytes | None:
    """zlib(level=1) the page body for the compressed pages index.

    Real crawl stores keep page bodies compressed at rest and in flight
    (Common Crawl's WARC files are gzip members); the engine does the
    same: the fetch join, shuffle, cache, and Arrow transfer all carry
    html_z (~10x smaller on web text), and only the extractor — the one
    consumer of the bytes — inflates it.  JFR profiling showed the
    uncompressed alternative spends the wide level's CPU materializing
    every cached html value through UnsafeRow.getBinary/copyMemory each
    round (BENCH/BASELINE.md round-4 notes).  Level 1 favors decompression
    speed; compression runs once, at index build."""
    import zlib

    if html is None:
        return None
    if isinstance(html, str):
        html = html.encode("utf-8")
    return zlib.compress(bytes(html), 1)


def decompress_html(blob: bytes | None) -> str | None:
    """Inverse of compress_html: exact round-trip (zlib is lossless), so
    extraction over html_z is byte-identical to extraction over html —
    asserted in tests/test_pure_fast.py::test_html_z_roundtrip."""
    import zlib

    if blob is None:
        return None
    return zlib.decompress(bytes(blob)).decode("utf-8", "replace")


def extract_text_and_links(
    html: bytes | str | None, base_url: str | None
) -> tuple[str | None, list[str] | None]:
    """(html_to_text(html), extract_links(html, base_url)) in ONE parse.

    Equivalent by construction to calling F3 and F4 separately (same event
    handling, same _canon_links); the crawl round uses this so each page is
    parsed once, not twice."""
    if html is None:
        return None, None
    text, hrefs = _scan(html)
    return text, _canon_links(hrefs, base_url)


def extract_links(html: bytes | str | None, base_url: str | None) -> list[str] | None:
    """All <a href> targets, resolved against *base_url*, canonicalized
    (F1), deduplicated, sorted.  None html → None."""
    if html is None:
        return None
    return _canon_links(_scan(html)[1], base_url)
