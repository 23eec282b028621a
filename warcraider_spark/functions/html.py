"""HTML parsing operator (SURVEY §2.4) — the heavy UDF.

Replaces the reference's four-stage fallback cascade (ammonia clean →
strict quick-xml → tidy repair → soup DOM, /root/reference/src/lib.rs:
184-553) with ONE robust event parser (Python stdlib ``html.parser``,
which is lenient like tidy+soup). Per SURVEY §2.4 the fidelity target is
the *output columns* of the cascade, not the cascade itself; the golden
contract is the reference's own moneysmart snapshot
(/root/reference/tests/snapshots/tests__html_parser_snapshots.snap).

Event-routing semantics replicated from the strict parser
(lib.rs:244-383), including its quirks:
- text collected while ``in_body`` (initially TRUE — pre-<head> text
  counts); head/script/link set in_body=False; only head/script ENDS
  restore it — a bare ``<link>`` in body suppresses text until the next
  such end tag (lib.rs:302-324). style/noscript/noframes are ammonia
  clean_content_tags (lib.rs:134-137): deleted WITH content before any
  parser runs, so they contribute nothing anywhere and never touch
  in_body (the lib.rs noscript branch is dead code on the cleaned
  document, so a noscript end cannot restore text collection after a
  <link>);
- meta key = LAST present of name/http-equiv/itemprop/property in
  attribute order, value = content, both non-empty (lib.rs:268-289);
- links: every a[href], document order, duplicates kept — the SOUP-path
  semantics (lib.rs:435-439) that the golden snapshot pins; the strict
  path's '_'/'#' prefix filter is available separately as
  extract.filter_link_prefixes. Scheme filtering replicates ammonia's
  default ALLOWLIST: an href whose scheme is outside the set
  loses the attribute, relative URLs pass (lib.rs:61-153 + 188 — the
  cleaner runs on every page before parsing);
- resource_urls: src/href of script/link tags (lib.rs:303-314; style is
  ammonia-deleted before the parser, so it can contribute none);
- headings: h1-h6 raw inner text grouped BY LEVEL then document order —
  the soup path iterates h1s, then h2s, … (lib.rs:471-487), which is the
  order the golden pins;
- per-event text trimming (quick-xml ``trim_text(true)``), empties dropped.

Attribute BYTES are path-keyed: ammonia cleans EVERY page before any
parser runs (lib.rs:188), so the strict quick-xml pass reads html5ever's
re-serialized output and takes its values raw
(``from_utf8_lossy(&a.value)``, lib.rs:294/303-314 — never
``unescape_and_decode_value``). A strict-OK page therefore emits
attribute-derived strings (links, resource_urls, meta keys AND values)
in html5ever's attribute-serializer escaping: ``&``→``&amp;``,
U+00A0→``&nbsp;``, ``"``→``&quot;`` of the DECODED value (the tokenizer
decoded the page's own charrefs first), everything else literal —
``href="p?a=1&amp;b=2"`` stays ``&amp;``. Same pre-clean reason,
duplicate same-name attributes resolve keep-FIRST on strict pages
(html5ever's duplicate rule drops the NEW attr; quick-xml never sees a
dupe, so its checked-iterator keep-first TRUNCATION is unreachable).
Pages that fail the strict replay take the tidy leg, which re-parses the
RAW bytes: tidy's default ``repeated-attributes: keep-last`` repair
applies and values stay entity-DECODED (the soup fallback,
lib.rs:419-553, decodes; tidy's own re-serialized entity byte stream is
a documented COVERAGE sliver). Comment termination is path-keyed the
same way: the spec tokenizer closes ``<!-->``/``<!--->`` immediately
(abrupt-closing-of-empty-comment) and at ``--!>``
(incorrectly-closed-comment), swallowing to EOF only on genuine
eof-in-comment; tidy's lexer needs ``--`` + ``>`` and otherwise reads
forever — strict pages get the spec reading, tidy pages tidy's.

``html_errors`` carries tidy-STYLE diagnostics (``tidy_diagnostics``
below): the reference captures the stderr of an external ``tidy``
subprocess (lib.rs:197-206,240) and the moneysmart golden pins its exact
content. We reproduce the four diagnostic classes that stderr contains —
repeated-attribute drops, ``'<' + '/' + letter`` inside CDATA content,
``<link>`` lacking ``rel``, and empty-element trims — with tidy's own
message text, ordering (parse-time warnings in document order, then
attribute checks, then trims) and tab-expanded (tabstop 8) line/column
accounting, verified byte-for-byte against the golden snapshot. The
trigger condition matches too: ``strict_parse_ok`` replays the
strict quick-xml first pass, and diagnostics are emitted only when it
fails — a page the strict parser accepts reports "" exactly like the
reference (tidy never runs, lib.rs:193-207).

The oversize guard (>2 MB skips parsing, main.rs:376-381) lives in
plans.pipeline as a native ``when()`` OUTSIDE the UDF, so Catalyst short-
circuits without crossing into Python.
"""

from __future__ import annotations

import bisect
import re
from html.parser import HTMLParser

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    MapType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "HTML_RESULT_SCHEMA",
    "parse_html_py",
    "parse_html_udf",
    "empty_html_result",
    "tidy_diagnostics",
    "strict_parse_ok",
    "parse_path",
    "quickxml_fatal_hazard",
]

HTML_RESULT_SCHEMA = StructType(
    [
        StructField("ok", BooleanType(), False),
        StructField("html_errors", StringType(), False),
        StructField("title", StringType(), False),
        StructField("text", ArrayType(StringType()), False),
        StructField("headings_text", ArrayType(StringType()), False),
        StructField("links", ArrayType(StringType()), False),
        StructField("resource_urls", ArrayType(StringType()), False),
        StructField("meta_tags", MapType(StringType(), StringType()), False),
    ]
)

_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_META_KEY_ATTRS = ("name", "http-equiv", "itemprop", "property")
# ammonia URL policy: the reference runs
# cleaner.clean() on EVERY page before parsing (lib.rs:188), and ammonia
# filters URL-valued attributes against an ALLOWLIST of schemes (its
# Builder default — url_schemes), not a denylist: an href whose scheme
# is outside the set has the attribute stripped (the <a> survives, its
# text stays), so exotic-scheme links (whatsapp://, steam://, file:)
# are DROPPED. Relative URLs (no scheme) always pass. Scheme detection
# per RFC 3986: [A-Za-z][A-Za-z0-9+.-]* followed by ':' — "C:\\path"
# parses as scheme "c" and is stripped, exactly as url::Url::parse gives
# ammonia.
_ALLOWED_SCHEMES = frozenset(
    "bitcoin ftp ftps geo http https im irc ircs magnet mailto mms mx news "
    "nntp openpgp4fpr sip sms smsto ssh tel url webcal wtai xmpp".split()
)
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
# WHATWG URL pre-processing (url::Url::parse, which ammonia calls):
# strip leading/trailing C0 controls and space, then remove ASCII
# tab/newline ANYWHERE in the input — so 'java\tscript:alert(1)' parses
# as scheme 'javascript' and is filtered (the regex alone fails to
# match through the tab and would keep the link).
_C0_SPACE = "".join(chr(i) for i in range(0x21))
_TAB_NL_RE = re.compile(r"[\t\n\r]")


def _scheme_ok(href: str) -> bool:
    cleaned = _TAB_NL_RE.sub("", href.strip(_C0_SPACE))
    m = _SCHEME_RE.match(cleaned)
    if m is None:
        return True  # relative URL: always kept
    return m.group(0)[:-1].lower() in _ALLOWED_SCHEMES


def empty_html_result(ok: bool = False, html_errors: str = " ") -> dict:
    """HTMLResult::default() (lib.rs:43-56): ok=false, single-space
    html_errors/title, empty collections."""
    return {
        "ok": ok,
        "html_errors": html_errors,
        "title": " ",
        "text": [],
        "headings_text": [],
        "links": [],
        "resource_urls": [],
        "meta_tags": {},
    }


# ammonia clean_content_tags (lib.rs:134-137): these elements are
# removed WITH their entire content by the cleaner BEFORE any parser
# runs — so nothing inside them (text, headings, meta, links,
# resources) is ever observable downstream, and they do not touch the
# in_body state machine (the lib.rs:302 noscript branch is dead code on
# the cleaned document). Modelling them as in_body=False regions would
# wrongly RESTORE in_body on their end tags (visible after
# `<link><noscript>..</noscript>text`) and collect meta/links inside
# noscript (GA fallback pixels) that the reference never sees.
_DELETED_CONTENT_TAGS = frozenset({"style", "noscript", "noframes"})


# html5ever's attribute-serializer escape set (serialize::Serializer
# write_escaped with attr_mode=true): '&', U+00A0 and '"' only — '<',
# '>' and "'" pass through literally in attribute values.
def _h5_escape_attr(value: str) -> str:
    return value.replace("&", "&amp;").replace("\xa0", "&nbsp;").replace('"', "&quot;")


# Spec comment-end scan: in the comment/comment-end states a run of
# dashes (>=2) followed by '>' or '!>' terminates; whitespace between
# '--' and '>' does NOT (tidy's '--\\s*>' rule is the tidy-path one).
_SPEC_COMMENT_CLOSE = re.compile(r"-{2,}!?>")


def _spec_comment_end(doc: str, i: int) -> int:
    """End of the comment whose '<!--' starts at ``i``, per the spec
    tokenizer: '<!-->' and '<!--->' close at once
    (abrupt-closing-of-empty-comment), '--!>' closes
    (incorrectly-closed-comment), and only genuine eof-in-comment
    swallows to EOF."""
    j = i + 4
    if doc[j : j + 1] == ">":
        return j + 1
    if doc[j : j + 2] == "->":
        return j + 2  # comment-start-dash then '>'
    m = _SPEC_COMMENT_CLOSE.search(doc, j)
    return m.end() if m else len(doc)


def _spec_comment_spans(raw_html: str) -> list[tuple[int, int]]:
    """(start, end) spans of comments per the spec tokenizer — what
    html5ever consumed (and ammonia then stripped) before the strict
    quick-xml pass ever saw the page. An unterminated comment runs to
    EOF, masking everything after it."""
    spans: list[tuple[int, int]] = []
    pos = 0
    while (i := raw_html.find("<!--", pos)) != -1:
        pos = _spec_comment_end(raw_html, i)
        spans.append((i, pos))
    return spans


def _in_spans(
    starts: list[int], ends: list[int], pos: int, *, open_start: bool = False
) -> bool:
    """Whether ``pos`` lies inside one of the sorted, disjoint spans
    ``(starts[k], ends[k])``: ``s <= pos < e``, or ``s < pos < e`` with
    ``open_start``. Disjointness makes the nearest span starting at or
    before ``pos`` the only candidate, so a probe is one binary search
    and comment-dense pages stay O(probes · log spans)."""
    i = (bisect.bisect_left if open_start else bisect.bisect_right)(starts, pos) - 1
    return i >= 0 and pos < ends[i]


# delimiter set per the tag-name state: the name ends only at
# whitespace, '/', '>' or EOF — '<script-foo>' is the tag "script-foo"
# (names continue through '-'), NOT a rawtext script element
_RAWTEXT_OPEN_RE = re.compile(
    r"<(script|style|noscript|noframes)(?=[\t\n\r\f />]|$)", re.I
)
# the end tag that closes each rawtext region, by the same delimiter rule
_RAWTEXT_CLOSE_RE = {
    tag: re.compile(r"</%s(?=[\t\n\r\f />]|$)" % tag, re.I)
    for tag in ("script", "style", "noscript", "noframes")
}


def _rawtext_scan(raw_html: str) -> tuple[list[tuple[int, int]], list[tuple[int, int]]]:
    """(script_spans, markup_comment_spans) as html5ever tokenizes the
    page: comments cannot open inside rawtext, a rawtext region runs to
    the first case-insensitive '</name' followed by a delimiter, and
    style/noscript/noframes regions (ammonia deletes their content)
    consume any '<script' inside them. Linear scan, quote-aware tag
    skipping so '<script' inside an attribute value can't open a
    phantom region. The comment spans here are the NORMAL-state (true
    markup) comments — the ones ammonia strips from the clean stream —
    unlike _spec_comment_spans' global approximation, which can start a
    span inside script rawtext."""
    spans: list[tuple[int, int]] = []
    comments: list[tuple[int, int]] = []
    tag_end = _TagScanner(raw_html).end
    pos, n = 0, len(raw_html)
    while (i := raw_html.find("<", pos)) != -1:
        m = _RAWTEXT_OPEN_RE.match(raw_html, i)
        if m:
            tag = m.group(1).lower()
            gt = tag_end(i)
            if gt is None:
                break  # EOF inside the start tag
            close = _RAWTEXT_CLOSE_RE[tag].search(raw_html, gt)
            body_end = close.start() if close else n
            if tag == "script":
                spans.append((gt, body_end))
            pos = body_end + 2 if close else n
            continue
        if raw_html.startswith("<!--", i):
            pos = _spec_comment_end(raw_html, i)
            comments.append((i, pos))
            continue
        end = tag_end(i)
        pos = end if end is not None else i + 1
    return spans, comments


# The rest of a tag after its '<', to the first '>' outside quotes
# (either quote char toggles). Written unrolled: a quote can only be
# consumed by its own quoted alternative, so the match never backtracks
# (the looser '(?:[^"\'>]+|…)*' backtracks exponentially on a tag with
# no closing '>'). The optional '>' group makes a tag that never closes
# a match that stops where its scan failed, instead of a retry at the
# next '<'.
_TAG_REST = r"""[^"'>]*(?:(?:"[^"]*"|'[^']*')[^"'>]*)*"""
_TAG_REST_RE = re.compile(_TAG_REST + "(>)?")
# an element tag: '/' if an end tag, the name, the rest without its '>'
# (a trailing '/' of "<link .../>" stays in group 3), then the '>'
_ELEMENT_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)(" + _TAG_REST + ")(>)?")
_ELEMENT_OPEN_RE = re.compile(r"</?[a-zA-Z]")
_QUOTE_OR_GT_RE = re.compile(r"[\"'>]")


class _TagScanner:
    """The quote-aware tag scan of one page: quick-xml 0.17's
    read_elem_until, from a '<' to the first '>' outside quotes.

    A scan that never closes runs to EOF, and so does the scan from every
    later '<' it passes outside quotes: 'a<b' repeated with no '>' after
    it costs one EOF scan per '<'. So the C regex serves the scans only
    until the first one fails. From then on the scanner follows the
    page's quote and '>' positions and memoizes where the scan from each
    one ends, so a failed chain settles every '<' that joins it and the
    page costs linear time."""

    def __init__(self, doc: str):
        self.doc = doc
        self._events: list[int] | None = None
        self._memo: dict[int, int | None] = {}

    def end(self, lt: int) -> int | None:
        """The index just past the first '>' outside quotes after the
        '<' at ``lt``; None = EOF inside the tag (quick-xml's
        Error::UnexpectedEof)."""
        if self._events is None:
            m = _TAG_REST_RE.match(self.doc, lt + 1)
            if m.lastindex:  # the '>' group matched
                return m.end()
            self._events = [e.start() for e in _QUOTE_OR_GT_RE.finditer(self.doc)]
        return self._chain_end(lt + 1)

    def search(self, pos: int) -> re.Match | None:
        """The first closed element tag starting at or after ``pos``:
        group 1 '/' for an end tag, group 2 the name (longest
        alphanumeric run), group 3 the rest before the '>'."""
        doc = self.doc
        if self._events is None:
            m = _ELEMENT_TAG_RE.search(doc, pos)
            if m is None or m.lastindex == 4:  # the '>' group matched
                return m
            self._events = [e.start() for e in _QUOTE_OR_GT_RE.finditer(doc)]
            pos = m.start()
        while (m := _ELEMENT_OPEN_RE.search(doc, pos)) is not None:
            end = self._chain_end(m.start() + 1)
            if end is not None:
                return _ELEMENT_TAG_RE.match(doc, m.start(), end)
            pos = m.start() + 1
        return None

    def _chain_end(self, start: int) -> int | None:
        # Outside quotes the scan from ``start`` ends where the scan from
        # its next quote or '>' ends: a '>' closes it, a quote jumps to
        # its partner (or fails at EOF) and the scan goes on from there.
        doc, events, memo = self.doc, self._events, self._memo
        k = bisect.bisect_left(events, start)
        path = []
        end = None
        while k < len(events):
            if k in memo:
                end = memo[k]
                break
            e = events[k]
            if doc[e] == ">":
                end = e + 1
                break
            path.append(k)
            close = doc.find(doc[e], e + 1)
            if close == -1:
                break
            k = bisect.bisect_right(events, close)
        for j in path:
            memo[j] = end
        return end


def quickxml_fatal_hazard(raw_html: str) -> bool:
    """True when the page carries a quick-xml 0.17 FATAL token in bytes
    that BOTH fallback pipelines preserve, so the reference's
    parse_html() dies on the strict AND the tidy leg and the page falls
    through to SOUP (lib.rs:211-229).

    Why script bodies are the only habitat: everything else in the
    cleaned stream is re-serialized safely by ammonia (text escapes
    '<', attribute values escape '"', markup comments are stripped,
    style/noscript/noframes lose their content entirely) — but script
    is on the cleaner's add_tags list (lib.rs:62) and html5ever
    re-emits its rawtext content VERBATIM, as does tidy, so quick-xml's
    naive XML scan meets raw JavaScript on both legs. Fatal classes
    (quick-xml 0.17 reader; check_end_names-independent, so they kill
    the strict leg too):

    * UnexpectedBang — '<!' not followed by '--', '[CDATA[' or 'D'/'d'.
      The proving specimen is the moneysmart golden itself: its email
      payload script contains "<body><!'+'[CD'+'ATA[" (tests/
      moneysmart.htm byte 149331), the snapshot's meta values hold a
      DECODED '&' where the raw page has '&amp;' (dcterms.publisher),
      and only the soup leg decodes (lib.rs:419-553; the quick-xml legs
      read raw, lib.rs:294/303-314) — so the reference demonstrably
      fell through BOTH quick-xml passes on this page.
    * UnexpectedEof(Comment) — '<!--' opened in script text with no
      '-->' later in the document (search excludes markup-comment
      interiors: ammonia strips those before quick-xml ever scans).
    * UnexpectedEof(CData) — '<![CDATA[' with no ']]>' later.
    * UnexpectedEof(Tag) / DocType — a '<'-scan (quote-aware) or
      '<!D...' scan that runs to EOF.
    """
    spans, markup_comments = _rawtext_scan(raw_html)
    if not spans:
        return False
    comment_starts = [s for s, _ in markup_comments]
    comment_ends = [e for _, e in markup_comments]

    # A terminator candidate inside a true markup comment never reaches
    # quick-xml: ammonia strips those comments from the clean stream
    # wholesale (closer bytes included). Script-interior pseudo-comments
    # are NOT excluded — their bytes survive verbatim and quick-xml's
    # own scan can end on them.
    def _find_outside_comments(needle: str, start: int) -> int:
        p = start
        while (h := raw_html.find(needle, p)) != -1:
            if not _in_spans(comment_starts, comment_ends, h, open_start=True):
                return h
            p = h + 1
        return -1

    tag_end = _TagScanner(raw_html).end
    n = len(raw_html)
    for s, e in spans:
        p = s
        while p < e and (q := raw_html.find("<", p, e)) != -1:
            if raw_html.startswith("<!", q):
                if raw_html.startswith("<!--", q):
                    close = _find_outside_comments("-->", q + 4)
                    if close == -1:
                        return True
                    p = close + 3
                elif raw_html.startswith("<![CDATA[", q):
                    close = _find_outside_comments("]]>", q + 9)
                    if close == -1:
                        return True
                    p = close + 3
                elif raw_html[q + 2 : q + 3] in ("D", "d"):
                    gt = _find_outside_comments(">", q)
                    if gt == -1:
                        return True
                    p = gt + 1
                else:
                    return True  # UnexpectedBang (includes '<!' at EOF)
            else:
                end = tag_end(q)
                if end is None:
                    return True
                p = end
        if p >= n:
            break
    return False


def parse_path(raw_html: str) -> str:
    """Which reference leg wins this page (lib.rs:184-239), decided by
    the hazard scan and then the tag-balance replay, each run once:

    'soup'   — a preserved fatal hazard kills quick-xml on BOTH legs
               (quickxml_fatal_hazard), so parse_html_soup(clean(raw))
               wins — html5ever DOM reads, entity-decoded values;
    'strict' — no hazard and the end-name replay balances
               (_end_names_balance), so parse_html(clean(raw),
               check_end_names=true) succeeds;
    'tidy'   — strict fails structurally but clean(tidy(raw)) has no
               preserved fatal token: with check_end_names=false every
               remaining quick-xml error class is either skipped
               per-attribute or cannot occur in serialized output, so
               the tidy-leg parse succeeds — quick-xml raw reads of
               ammonia's (post-tidy) serialization, html5ever-escaped
               attribute bytes."""
    if quickxml_fatal_hazard(raw_html):
        return "soup"
    return "strict" if _end_names_balance(raw_html) else "tidy"


def strict_parse_ok(raw_html: str) -> bool:
    """The reference's tidy TRIGGER condition (lib.rs:193-207): diagnostics
    are captured only when the strict quick-xml first pass FAILS; a page
    the strict parser accepts gets html_errors = "" (tidy never runs).
    The strict pass fails on a preserved fatal token (quick-xml's
    UnexpectedBang / UnexpectedEof fire independently of
    check_end_names) or on an end-name mismatch, which is exactly what
    parse_path decides."""
    return parse_path(raw_html) == "strict"


class _Extractor(HTMLParser):
    def __init__(self, path: str = "tidy") -> None:
        super().__init__(convert_charrefs=True)
        # Three-leg path key: 'strict' and 'tidy' are
        # the quick-xml-on-ammonia-serialization legs (escaped attr
        # bytes); 'soup' is the double-parse-failure fallback (decoded).
        # Duplicate-attr and comment rules are keyed per leg below.
        self.path = path
        self.in_body = True  # pre-<head> text counts, like the reference
        self.in_title = False
        self.heading_level = 0  # current hN depth marker (0 = outside)
        self._heading_buf: list[str] = []
        self.title = ""
        self.text: list[str] = []
        self.headings: list[tuple[int, str]] = []  # (level, raw text)
        self.links: list[str] = []
        self.resources: list[str] = []
        self.meta: dict[str, str] = {}
        self._deleted_tag: str | None = None  # open ammonia-cct region

    def _attr_out(self, value: str) -> str:
        """Attribute bytes as the winning reference leg emits them.

        BOTH quick-xml legs end in ammonia's
        re-serialization read raw — strict parses clean(raw)
        (lib.rs:188/294/303-314), the tidy leg parses clean(tidy(raw))
        (lib.rs:204) — and ammonia serializes with html5ever's
        attr-mode write_escaped either way, so the tidy leg emits the
        SAME escaped bytes ('&'→'&amp;', U+00A0→'&nbsp;',
        '"'→'&quot;') as the strict leg; the escape is pinnable
        without real tidy because ammonia applies it AFTER tidy. The
        entity-DECODED reading belongs to the SOUP leg only (double
        parse failure: a preserved fatal token kills quick-xml on both
        legs and html5ever's DOM getters decode, lib.rs:419-553) —
        proven by the moneysmart golden, whose raw '&amp;' arrives
        DECODED in the snapshot (see quickxml_fatal_hazard). Residual
        (COVERAGE.md): tidy's HTML4-era entity dictionary leaves
        '&amp;name;' for HTML5-only names on the tidy leg where this
        model emits the decoded codepoint."""
        return value if self.path == "soup" else _h5_escape_attr(value)

    def parse_comment(self, i: int, report: int = 1) -> int:
        """Path-keyed comment termination, per leg.

        Strict AND soup paths — the winning parser consumed clean(raw),
        and html5ever ate the comments during the ammonia pre-clean, so
        the SPEC tokenizer rules apply: '<!-->' and '<!--->' close
        immediately (abrupt-closing-of-empty-comment), '--!>' closes
        (incorrectly-closed-comment), and only genuine eof-in-comment
        swallows to EOF ('<!-->rest' leaves "rest" as visible text).

        Tidy path — tidy re-lexes the RAW bytes and its lexer keeps
        reading until '--' then (ws*) '>': the abrupt forms never saw
        their two dashes, '--!>' is not a terminator, and an
        unterminated comment swallows the rest of the document.
        HTMLParser's own fallback (-1 → re-emit the markup as text) is
        wrong under ALL engines and never used. (Whole-document feeds
        only: parse_html_py always feeds the full page at once.)"""
        if self.path != "tidy":
            return _spec_comment_end(self.rawdata, i)
        k = super().parse_comment(i, report)
        return len(self.rawdata) if k < 0 else k

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if len(attrs) > 1:
            # Path-keyed duplicate-attribute repair: every reference
            # leg parses a deduplicated
            # stream. Strict AND soup pages were deduped by html5ever
            # during the ammonia pre-clean of the RAW bytes — the
            # spec's duplicate-attribute rule drops the NEW attr, so
            # the FIRST twin survives at its original position
            # ('<a href="/a" href="/b">' → ONE link, '/a'). Tidy pages
            # were first repaired by tidy, whose default
            # repeated-attributes: keep-last rule wins ('dropping value
            # ... for repeated attribute' warning; the kept twin sits
            # at its LATER position) — html5ever then sees no dupe.
            # quick-xml itself never sees a duplicate on any leg, so
            # its checked-iterator truncation is unreachable.
            if self.path != "tidy":
                seen: set[str] = set()
                deduped = []
                for kv in attrs:
                    if kv[0] not in seen:
                        seen.add(kv[0])
                        deduped.append(kv)
                if len(deduped) != len(attrs):
                    attrs = deduped
            else:
                last = {}
                for idx, (k, _v) in enumerate(attrs):
                    last[k] = idx
                if len(last) != len(attrs):
                    attrs = [kv for idx, kv in enumerate(attrs) if last[kv[0]] == idx]
        if self._deleted_tag is not None:
            # RAWTEXT semantics (html5ever, which ammonia parses with):
            # the region's content is raw text until the FIRST matching
            # end tag — a nested same-name start tag is just text, so no
            # depth counting
            return
        if tag in _DELETED_CONTENT_TAGS:
            self._deleted_tag = tag
            # html5ever tokenizes these with the raw-text algorithm:
            # everything until the first case-insensitive matching end
            # tag is TEXT, so '<!--' inside the region is NOT a comment
            # and a '</noscript>' inside comment-looking bytes DOES
            # close it (parsing the comment instead would let the region
            # swallow to the outer end tag). HTMLParser's cdata mode
            # finds the candidate end tags; parse_endtag below replaces
            # its '</name…>' recognition with the spec tokenizer's exact
            # rules.
            self.set_cdata_mode(tag)
            return
        if tag == "meta":
            key = ""
            value = ""
            for k, v in attrs:
                if k in _META_KEY_ATTRS and v is not None:
                    key = v  # LAST matching attribute wins (lib.rs:270-283)
                if k == "content" and v is not None:
                    value = v
            if key and value:
                # strict leg reads the key AND value bytes raw off the
                # cleaned serialization (lib.rs:274/280 from_utf8_lossy)
                self.meta[self._attr_out(key)] = self._attr_out(value)
        elif tag == "a":
            for k, v in attrs:
                # a VALUELESS href ('<a href>') reaches the reference as
                # the empty string: html5ever normalizes it to href="",
                # ammonia keeps it (no scheme -> relative), and
                # lib.rs:294-297 pushes any href not starting with
                # '_'/'#' — "" qualifies. The scheme check runs on the
                # DECODED value (ammonia sees the tokenizer's decoded
                # attr), the emitted bytes are path-keyed.
                if k == "href" and _scheme_ok(v or ""):
                    self.links.append(self._attr_out(v or ""))
        elif tag == "head":
            self.in_body = False
        elif tag in ("script", "link"):
            # style is NOT here: ammonia deletes it with content before
            # the reference's parser runs (see _DELETED_CONTENT_TAGS)
            self.in_body = False
            for k, v in attrs:
                if k in ("src", "href"):
                    self.resources.append(self._attr_out(v or ""))
        elif tag == "body":
            self.in_body = True
        elif tag == "title":
            self.in_title = True
        elif tag in _HEADINGS:
            self.heading_level = int(tag[1])
            self._heading_buf = []

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in _DELETED_CONTENT_TAGS and self._deleted_tag is None:
            # html5ever IGNORES the self-closing flag on raw-text
            # elements: '<noscript/>' opens the region until its real
            # end tag (or EOF) exactly like '<noscript>'
            self.handle_starttag(tag, attrs)
            return
        # <x/> = Start + End, like quick-xml expand_empty_elements
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        if self._deleted_tag is not None:
            if tag == self._deleted_tag:
                self._deleted_tag = None
            return
        if tag in _HEADINGS:
            if self.heading_level:
                raw = "".join(self._heading_buf).strip()
                if raw:
                    self.headings.append((self.heading_level, raw))
            self.heading_level = 0
            self._heading_buf = []
        elif tag in ("head", "script"):
            # deliberately NOT "link" (lib.rs:322 quirk); noscript/style
            # ends never arrive here (deleted regions consume them), so
            # they can no longer spuriously restore in_body after a
            # <link> set it false
            self.in_body = True
        elif tag == "title":
            self.in_title = False

    def set_cdata_mode(self, elem: str) -> None:
        super().set_cdata_mode(elem)
        if elem.lower() in _DELETED_CONTENT_TAGS:
            # HTMLParser's cdata candidate regex demands the full
            # '</name\s*>' — an attr-bearing '</noscript x>' would never
            # even reach parse_endtag. Widen the candidate to '</name'
            # for deleted regions (script CDATA keeps stock behavior)
            # and let parse_endtag apply the spec tokenizer's rules.
            # Overridden HERE because parse_starttag re-calls
            # set_cdata_mode for <style> after our handler runs.
            self.interesting = re.compile(r"</\s*%s" % elem.lower(), re.IGNORECASE)

    def parse_endtag(self, i: int) -> int:
        """Inside a deleted region, recognize the closing end tag with the
        HTML tokenizer's RAWTEXT rules (html5ever) instead of HTMLParser's
        `</name\\s*>` regex — the two differ on exactly the shapes real
        soup produces:

        - `</noscript x>` / `</noscript/>`: whitespace or '/' after the
          matching name routes through the attribute states, so the tag
          still CLOSES at its '>' (attributes on an end tag are a parse
          error but the token takes effect; quoted values mask '>').
        - `</ noscript>`: no name immediately after '</' — '</' is
          emitted as text and the region stays OPEN (HTMLParser's
          `\\s*` wrongly closed it).
        - `</noscriptz>`, `</noscript-x>`: the name continues / is
          followed by a non-delimiter — raw text, region stays open.
        - EOF inside the end tag (after the name, mid-attribute):
          eof-in-tag — nothing is emitted, the region swallows to EOF.

        Outside a deleted region (including script/style CDATA handled by
        HTMLParser itself) the stock implementation runs unchanged."""
        if self._deleted_tag is None:
            return super().parse_endtag(i)
        rawdata = self.rawdata
        n = len(rawdata)
        name = self._deleted_tag
        j = i + 2
        if rawdata[j : j + len(name)].lower() != name:
            # '</' not followed immediately by the matching name: the
            # tokenizer emits '</' as text and reconsumes in RAWTEXT
            self.handle_data(rawdata[i:j])
            return j
        k = j + len(name)
        if k >= n:
            return -1  # EOF right after the name: eof-in-tag, swallowed
        c = rawdata[k]
        if c == ">":
            end = k + 1
        elif c in "\t\n\r\f /":
            # before-attribute-name (or self-closing-start-tag): the end
            # tag is committed; find its '>' through the attribute states
            close = self._scan_tag_close(rawdata, k, n)
            if close is None:
                return -1  # EOF inside the tag: swallowed to EOF
            end = close
        else:
            # name continues ('</noscriptz') or a non-delimiter follows
            # ('</noscript-'): not the appropriate end tag — raw text
            self.handle_data(rawdata[i:k])
            return k
        self.clear_cdata_mode()
        self.handle_endtag(name)
        return end

    @staticmethod
    def _scan_tag_close(rawdata: str, k: int, n: int) -> int | None:
        """Index just past the '>' ending a tag whose name was already
        consumed, per the spec's attribute states: quotes open a value
        only after '=', and '>' inside a quoted value does not end the
        tag. Returns None on EOF (eof-in-tag)."""
        BEFORE, NAME, AFTER_NAME, VALUE_START, UNQUOTED, DQ, SQ, AFTER_Q = range(8)
        state = BEFORE
        p = k
        while p < n:
            c = rawdata[p]
            if state in (DQ, SQ):
                if c == ('"' if state == DQ else "'"):
                    state = AFTER_Q
            elif state == AFTER_Q:
                if c == ">":
                    return p + 1
                if c in "\t\n\r\f /":
                    state = BEFORE
                else:
                    # parse error: reconsume as a new attribute name
                    state = BEFORE
                    continue
            elif state == VALUE_START:
                if c == '"':
                    state = DQ
                elif c == "'":
                    state = SQ
                elif c == ">":
                    return p + 1
                elif c not in "\t\n\r\f ":
                    state = UNQUOTED
            elif state == UNQUOTED:
                if c == ">":
                    return p + 1
                if c in "\t\n\r\f ":
                    state = BEFORE
            else:  # BEFORE / NAME / AFTER_NAME
                if c == ">":
                    return p + 1
                if c == "/":
                    state = BEFORE
                elif c == "=" and state in (NAME, AFTER_NAME):
                    state = VALUE_START
                elif c in "\t\n\r\f ":
                    state = AFTER_NAME if state == NAME else state
                else:
                    state = NAME
            p += 1
        return None

    def handle_data(self, data: str) -> None:
        if self._deleted_tag is not None:
            return
        if self.heading_level:
            self._heading_buf.append(data)  # raw, soup-style h.text
        txt = data.strip()
        if not txt:
            return
        if self.in_title:
            self.title = txt  # overwrite, last text event wins (lib.rs:330)
        if self.in_body:
            self.text.append(txt)

    def close(self) -> None:
        super().close()
        # an UNCLOSED heading at EOF must still surface its text — the
        # reference pushes heading text per text EVENT (lib.rs:334-336),
        # so it never depends on the end tag; the buffer here flushes on
        # </hN>, so flush the tail heading of a truncated page too.
        if self.heading_level:
            raw = "".join(self._heading_buf).strip()
            if raw:
                self.headings.append((self.heading_level, raw))
            self.heading_level = 0
            self._heading_buf = []



# ---------------------------------------------------------------------------
# tidy-style diagnostics (html_errors content parity)
# ---------------------------------------------------------------------------

# void elements never hold content → never "empty" in tidy's trim sense
_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
# elements tidy never prunes when empty (content-bearing by contract, or
# where emptiness is meaningful); everything else whitespace-empty with no
# attributes gets "trimming empty <tag>" (tidy drop-empty-elements default)
_NO_TRIM_TAGS = frozenset(
    "html head body title textarea iframe script style a td th canvas".split()
)

# elements whose end tag the HTML spec makes optional — tidy infers the
# close silently, so implicitly closing one is NOT a missing-end-tag
# warning (class 7 below); every other element requires its end tag
_OPTIONAL_END_TAGS = frozenset(
    "html head body p li dt dd td th tr tbody thead tfoot option optgroup "
    "colgroup caption rb rt rtc rp".split()
)

# tidy's known-attribute dictionary (attrs.c attribute_defs), HTML5
# vintage: global + element-specific attributes, microdata, RDFa, and
# the standard event handlers; data-*/aria-*/xml*-prefixed names are
# dictionary families. Anything else is PROPRIETARY_ATTRIBUTE (class 9).
_KNOWN_ATTRS = frozenset(
    """abbr accept accept-charset accesskey action align alink allow
    allowfullscreen alt archive as async autocapitalize autocomplete
    autofocus autoplay axis background bgcolor border cellpadding
    cellspacing challenge char charoff charset checked cite class
    classid clear code codebase codetype color cols colspan compact
    content contenteditable controls coords crossorigin data datetime
    declare decoding default defer dir dirname disabled download
    draggable enctype enterkeyhint face for form formaction
    formenctype formmethod formnovalidate formtarget frame frameborder
    headers height hidden high href hreflang hspace http-equiv icon id
    inert inputmode integrity is ismap itemid itemprop itemref
    itemscope itemtype kind label lang language link list loading
    longdesc loop low marginheight marginwidth max maxlength media
    method min minlength multiple muted name nohref nonce noresize
    noshade novalidate nowrap object open optimum pattern ping
    placeholder playsinline popover poster preload profile prompt
    property readonly referrerpolicy rel required resource rev
    reversed role rows rowspan rules sandbox scheme scope scrolling
    selected shape size sizes slot span spellcheck src srcdoc srclang
    srcset standby start step style summary tabindex target text
    title translate type typeof usemap valign value valuetype version
    vlink vocab vspace width wrap""".split()
)
_KNOWN_ATTR_PREFIXES = ("data-", "aria-", "xml:", "xmlns")
_EVENT_ATTRS = frozenset(
    """onabort onblur oncanplay oncanplaythrough onchange onclick
    onclose oncontextmenu oncopy oncut ondblclick ondrag ondragend
    ondragenter ondragleave ondragover ondragstart ondrop
    ondurationchange onemptied onended onerror onfocus oninput
    oninvalid onkeydown onkeypress onkeyup onload onloadeddata
    onloadedmetadata onloadstart onmousedown onmouseenter onmouseleave
    onmousemove onmouseout onmouseover onmouseup onpaste onpause
    onplay onplaying onprogress onratechange onreset onresize
    onscroll onseeked onseeking onselect onstalled onsubmit onsuspend
    ontimeupdate ontoggle onunload onvolumechange onwaiting
    onwheel""".split()
)

# elements whose start tags can legitimately appear in <head>: the first
# start tag OUTSIDE this set is where tidy's parser closes the implied
# head (the class-10 missing-'title' anchor when no </head>/<body> is
# explicit)
_HEAD_CONTEXT_TAGS = frozenset(
    "html head title meta link base basefont style script noscript template".split()
)

# list containers that satisfy a <li>: tidy's parser walks ancestors for
# any of these before inferring an implicit <ul> (class 14)
_LIST_CONTAINERS = frozenset("ul ol menu dir".split())

# class 21: attributes tidy's dictionary types as URLs (attrs.c
# entries wired to CheckUrl; the CH_URLS list-valued 'archive' checker
# is separate and unmodelled)
_URL_ATTRS = frozenset(
    "action background cite classid codebase data formaction href icon "
    "longdesc poster profile src usemap".split()
)  # 'manifest' stays out: the class-9 dictionary treats it as
# proprietary (certified surface) and an attribute can't be both

# class 23: block-level START tags that imply closing open
# required-end inline elements / headings (tidy's ParseInline returns
# the token to the enclosing block parser, MISSING_ENDTAG_BEFORE).
# td/th/tr are deliberately absent — the table parser's moved-content
# repairs differ; li/dt/dd likewise (class 14's scope note).
_BLOCK_TRIGGERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
    "hgroup hr listing main menu nav ol p plaintext pre section summary "
    "table ul xmp".split()
)
# required-end INLINE elements a block start implies closed (transparent
# elements that may legally contain blocks — ins/del/map/button/label/
# object — are excluded: tidy keeps parsing inside them)
_INLINE_REQUIRED_END = frozenset(
    "a abbr acronym b bdo big cite code dfn em font i kbd nobr q s samp "
    "small span strike strong sub sup tt u var".split()
)

# classes 27+28: typed attribute-value checkers from tidy's
# attrs.c dictionary (the attrchk column). Each CH_* type below maps an
# attribute NAME (any element — the dictionary is global) to the checker
# whose semantics are modelled in _typed_attr_check; attributes typed
# CH_PCDATA/CH_BOOL check nothing, CH_URL is class 21. Unmodelled types
# (documented residual slivers, COVERAGE.md): CH_COLOR (CheckColor's
# hash-prefix FIX + replaced-value wording and the named-color table
# vintage aren't pinnable without real tidy), CH_VTYPE (input-type value
# list is tidy-version-dependent), CH_SHAPE/CH_TEXTDIR/CH_LANG/
# CH_CHARSET/CH_CHARACTER, the list-valued CH_URLS ('archive'), and
# 'border' (its CH typing across tidy vintages is unpinned).
_NUMBER_ATTRS = frozenset(  # CH_NUMBER -> CheckNumber
    "colspan rowspan hspace vspace size span start tabindex".split()
)
_LENGTH_ATTRS = frozenset(("width", "height"))  # CH_LENGTH -> CheckLength
# CheckAlign routes CM_IMG elements to CheckValign (tags.c models:
# img/applet/object/input carry CM_IMG; embed takes the same path)
_CM_IMG_TAGS = frozenset("img applet object embed input".split())
_ALIGN_VALUES = frozenset(("left", "right", "center", "justify"))
_VALIGN_OK = frozenset(("top", "middle", "bottom", "baseline"))
_VALIGN_PROPRIETARY = frozenset(("texttop", "absmiddle", "absbottom", "textbottom"))
_CLEAR_VALUES = frozenset(("none", "left", "right", "all"))
_SCROLL_VALUES = frozenset(("yes", "no", "auto"))
_TARGET_RESERVED = frozenset(("_blank", "_self", "_parent", "_top"))
_TYPED_ATTRS = (
    _NUMBER_ATTRS | _LENGTH_ATTRS | {"align", "valign", "clear", "scrolling", "target"}
)

_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)
_CDATA_RE = re.compile(r"<(script|style)\b[^>]*>(.*?)</\1", re.S | re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_BADCLOSE_RE = re.compile(r"</(?=[a-zA-Z])")
_DOCTYPE_RE = re.compile(r"<!doctype", re.I)

# classes 12+13: tidy's ParseEntity trigger — '&' followed by '#' or a
# namechar starts an entity parse; the lexer then consumes namechars
# (letters, digits, '-', '.', ':', '_' — tidy IsNamechar) until a
# non-namechar stops it. A naked '&' before anything else never enters
# entity parsing and stays literal with NO warning (pinned empirically:
# the moneysmart golden's three bare ' & ' text runs produce none of its
# 217 warnings).
_ENTITY_RE = re.compile(r"&(#?[A-Za-z0-9][-A-Za-z0-9_:.]*|#)")
# tidy's entity dictionary (entities.c): the HTML 4.01 named set — the
# Python stdlib ships it verbatim as html.entities.name2codepoint — plus
# XML's &apos;. Codepoints matter: tidy requires the ';' for entities
# mapping above U+00FF (see the class-12/13 split below).
import html.entities as _stdlib_entities  # noqa: E402

_ENTITY_CODES: dict[str, int] = {**_stdlib_entities.name2codepoint, "apos": 39}

# tidy's DecodeWin1252 (lexer.c Win2Unicode[32]): the C1 alias range
# 0x80-0x9F remapped to the Windows-1252 glyphs. Five slots are 0 in
# tidy's table (0x81, 0x8D, 0x8F, 0x90, 0x9D — undefined in CP1252):
# an NCR hitting one is DISCARDED, not replaced (class 15's
# replace-vs-discard split follows this table, not the range).
_WIN1252_MAP: dict[int, int] = {
    128: 0x20AC, 130: 0x201A, 131: 0x0192, 132: 0x201E, 133: 0x2026,
    134: 0x2020, 135: 0x2021, 136: 0x02C6, 137: 0x2030, 138: 0x0160,
    139: 0x2039, 140: 0x0152, 142: 0x017D, 145: 0x2018, 146: 0x2019,
    147: 0x201C, 148: 0x201D, 149: 0x2022, 150: 0x2013, 151: 0x2014,
    152: 0x02DC, 153: 0x2122, 154: 0x0161, 155: 0x203A, 156: 0x0153,
    158: 0x017E, 159: 0x0178,
}


def _decode_entities_tidy(value: str) -> str:
    """Entity-decode an attribute value with tidy's ParseEntity
    substitution rules (lexer.c) — the value STORED on the node, which
    is what CheckUrl and the repeated-attribute report see:

    - known named / valid numeric reference → the character, with or
      without the terminating ';' when the codepoint is < U+0100
      (tidy substitutes and only WARNS about the semicolon);
    - known entity ≥ U+0100 missing its ';' → literal bytes kept
      (the UNKNOWN_ENTITY branch leaves the lexbuf untouched);
    - unknown name / malformed numeric body → literal bytes kept;
    - C1 alias range (128-159) → Win1252 remap via ``_WIN1252_MAP``,
      the five undefined slots discarded;
    - surrogate halves / beyond-Unicode → discarded.

    Same trigger and name-consumption as the class-12/13/15 warning
    scan (``_ENTITY_RE``); the warnings themselves stay with that scan
    — this helper only reproduces the VALUE tidy ends up with.
    """
    out: list[str] = []
    last = 0
    for em in _ENTITY_RE.finditer(value):
        name = em.group(1)
        end = em.end()
        semicolon = value[end : end + 1] == ";"
        if name.startswith("#"):
            body = name[1:]
            if re.fullmatch(r"[xX][0-9a-fA-F]+", body):
                code: int | None = int(body[1:], 16)
            elif body.isdigit():
                code = int(body)
            else:
                code = None
        else:
            code = _ENTITY_CODES.get(name)
        if code is None or (code >= 256 and not semicolon):
            continue  # literal kept, exactly where class 12 warns
        out.append(value[last : em.start()])
        if 128 <= code <= 159:
            rep = _WIN1252_MAP.get(code)
            if rep is not None:
                out.append(chr(rep))
        elif 0xD800 <= code <= 0xDFFF or code > 0x10FFFF:
            pass  # discarded (class 15's "discarding" wording)
        else:
            out.append(chr(code))
        last = end + (1 if semicolon else 0)
    out.append(value[last:])
    return "".join(out)


def _typed_attr_check(tag: str, name: str, kv: str | None) -> list[str]:
    """Class 27: tidy's typed attribute-value checkers (attrs.c).

    ``kv`` is the KEPT attribute value exactly as the class-21 path sees
    it: ``None`` = attribute present with no ``=`` (AttrHasValue false),
    else the entity-DECODED string (ParseEntity substitutes while the
    value is lexed, so checkers operate on the decoded bytes). Returns
    the attribute-check-phase messages in the checker's code order.

    Checker semantics modelled 1:1 from attrs.c:

    - ``CheckNumber`` (CH_NUMBER): valueless -> MISSING_ATTR_VALUE; a
      ``<font size>`` value may start ``+``/``-`` (skipped); the first
      non-digit byte after that -> BAD_ATTRIBUTE_VALUE once (the loop
      breaks). An explicit EMPTY value is silent (the while loop never
      runs — AttrHasValue is a NULL test, not an emptiness test).
    - ``CheckLength`` (CH_LENGTH): valueless -> MISSING_ATTR_VALUE;
      ``width`` on col/colgroup is exempt (multi-length syntax);
      otherwise the FIRST byte must be a digit (an empty value fails
      here with the empty string quoted), and each later byte must be a
      digit or ``%`` -> BAD_ATTRIBUTE_VALUE once.
    - ``CheckAlign`` (CH_ALIGN): CM_IMG elements route to CheckValign
      (align there is vertical position); else valueless -> MISSING,
      and a value outside left/right/center/justify -> BAD. All value
      compares are case-insensitive (tidy AttrValueIs).
    - ``CheckValign`` (CH_VALIGN): top/middle/bottom/baseline ok;
      left/right -> BAD; texttop/absmiddle/absbottom/textbottom ->
      PROPRIETARY_ATTR_VALUE (the message quotes the VALUE, not the
      name); anything else -> BAD.
    - ``CheckClear`` (CH_CLEAR): none/left/right/all else BAD.
    - ``CheckScroll`` (CH_SCROLL): yes/no/auto else BAD.
    - ``CheckTarget`` (CH_TARGET): a value starting with an ASCII
      letter is always ok; otherwise it must be one of the four
      reserved names _blank/_self/_parent/_top -> else BAD.
    """
    out: list[str] = []
    if name in _NUMBER_ATTRS:
        if kv is None:
            return [f'<{tag}> attribute "{name}" lacks value']
        p = kv
        if tag == "font" and p[:1] in "+-":
            p = p[1:]
        if not all(c.isascii() and c.isdigit() for c in p):
            out.append(f'<{tag}> attribute "{name}" has invalid value "{kv}"')
    elif name in _LENGTH_ATTRS:
        if kv is None:
            return [f'<{tag}> attribute "{name}" lacks value']
        if name == "width" and tag in ("col", "colgroup"):
            return []
        if not (kv[:1].isascii() and kv[:1].isdigit()) or not all(
            (c.isascii() and c.isdigit()) or c == "%" for c in kv[1:]
        ):
            out.append(f'<{tag}> attribute "{name}" has invalid value "{kv}"')
    elif name == "align" and tag not in _CM_IMG_TAGS:
        if kv is None:
            return [f'<{tag}> attribute "{name}" lacks value']
        if tag == "caption":
            # CheckCaption owns caption's align (top/bottom are legal
            # HTML4 there); CheckAlign defers to it — modelled as
            # silence (the caption checker's own wordings are a
            # documented residual sliver)
            return []
        if kv.lower() not in _ALIGN_VALUES:
            out.append(f'<{tag}> attribute "{name}" has invalid value "{kv}"')
    elif name == "valign" or name == "align":  # align on CM_IMG -> CheckValign
        if kv is None:
            return [f'<{tag}> attribute "{name}" lacks value']
        low = kv.lower()
        if low in _VALIGN_OK:
            pass
        elif low in _VALIGN_PROPRIETARY:
            out.append(f'<{tag}> proprietary attribute value "{kv}"')
        else:  # left/right and everything else share the BAD wording
            out.append(f'<{tag}> attribute "{name}" has invalid value "{kv}"')
    elif name == "clear":
        if kv is None:
            return [f'<{tag}> attribute "{name}" lacks value']
        if kv.lower() not in _CLEAR_VALUES:
            out.append(f'<{tag}> attribute "{name}" has invalid value "{kv}"')
    elif name == "scrolling":
        if kv is None:
            return [f'<{tag}> attribute "{name}" lacks value']
        if kv.lower() not in _SCROLL_VALUES:
            out.append(f'<{tag}> attribute "{name}" has invalid value "{kv}"')
    elif name == "target":
        if kv is None:
            return [f'<{tag}> attribute "{name}" lacks value']
        if not (kv[:1].isascii() and kv[:1].isalpha()) and kv.lower() not in _TARGET_RESERVED:
            out.append(f'<{tag}> attribute "{name}" has invalid value "{kv}"')
    return out


def tidy_diagnostics(raw_html: str) -> str:
    """Tidy-stderr-style diagnostics for one raw HTML document.

    Reproduces the four warning classes the reference's tidy subprocess
    emits on its golden fixture (lib.rs:197-206; snapshot pins the exact
    stderr), byte-for-byte on that golden, plus twenty-two more classes
    pinned by our own adversarial fixtures — twenty-eight total:

    1. ``<tag> dropping value "V" for repeated attribute "A"`` — a start
       tag repeats an attribute name (first value reported, tidy keeps one);
    2. ``'<' + '/' + letter not allowed here`` — an end-tag-looking ``</x``
       inside script/style CDATA content that is not the element's own
       close (per HTML4 ``</`` + letter terminates CDATA, tidy's lexer
       warning);
    3. ``<link> lacks "rel" attribute`` — tidy's attribute checker;
    4. ``trimming empty <tag>`` — whitespace-empty, attribute-less,
       prunable elements (tidy drop-empty-elements), leaf-level only.
    5. ``<tag> attribute with missing trailing quote mark`` — a quoted
       attribute value interrupted by ``<`` before its closing quote
       (tidy lexer MISSING_QUOTEMARK: the value ends at the ``<``, the
       warning anchors at the element's own ``<``);
    6. ``discarding unexpected <form>`` — a ``<form>`` start tag while a
       form is already open (forms cannot nest; tidy parser
       DISCARDING_UNEXPECTED drops the inner tag, keeping its content).
    7. ``missing </tag>`` — an element whose end tag the spec
       REQUIRES is closed implicitly: by an ancestor's end tag closing
       over it (anchored at that end tag, innermost-popped first — tidy
       parser MISSING_ENDTAG_FOR) or by end-of-document (anchored at
       EOF). Optional-end-tag elements (p/li/td/tr …,
       ``_OPTIONAL_END_TAGS``) close silently, as in HTML. Start-tag-
       triggered implied closes (tidy's "missing </x> before <y>"
       variant) are not modelled — our scanner implies closes only at
       end tags and EOF.
    8. ``missing <!DOCTYPE> declaration`` — no doctype token
       before the first element tag (tidy MISSING_DOCTYPE, fired when
       the parser builds the root element). Anchored at that first
       element tag and ordered BEFORE any other warning at the same
       position — the root is inserted before the element's own
       attribute/parse warnings are handled. A doctype inside a
       comment doesn't count; a doctype after the first element is
       too late (tidy would additionally discard it — not modelled).
    9. ``<tag> proprietary attribute "name"`` — an attribute
       outside tidy's dictionary (``_KNOWN_ATTRS`` — HTML5-vintage
       attrs.c — plus the standard event handlers and the
       data-*/aria-*/xml*-prefixed families). Checked once per KEPT
       attribute (the lexer drops repeats first) in attribute order,
       reported in the attribute-check phase like class 3 and BEFORE a
       same-element class-3 (tidy checks each attribute before the
       element-level checks); a class-6-discarded node never reaches
       the attribute checks.
    10. ``inserting missing 'title' element`` — no ``<title>``
       element anywhere (tidy MISSING_TITLE_ELEMENT: the head parser
       inserts an empty one). Anchored where the (implied) head
       CLOSES — the first of an explicit ``</head>``, a ``<body>``
       start tag, or any start tag that cannot live in head
       (``_HEAD_CONTEXT_TAGS``); all-head-context documents close the
       head at EOF. Same at-least-one-element precondition as class 8.
    11. ``discarding unexpected </tag>`` — an end tag with no
       matching open element on the parser stack; tidy drops the token
       (DISCARDING_UNEXPECTED, the end-tag sibling of class 6),
       anchored at the end tag. A class-5-broken start tag still OPENS
       its element (position-driven push, whether or not a pseudo-tag
       forms at it), so its own end tag matches rather than discards.
    12. ``unescaped & or unknown entity "&name"`` — an entity
       parse (``&`` + namechar/'#') whose consumed name is not in
       tidy's dictionary, or a known entity mapping above U+00FF
       without its terminating ``;`` (tidy requires the semicolon for
       multi-byte substitutions: UNKNOWN_ENTITY). Anchored at the
       ``&``; the reported name never includes the ``;``. Scanned in
       PCDATA text and attribute values; never in script/style CDATA
       or comments — and a NAKED ``&`` (next char not namechar/'#')
       is silent, both pinned by the moneysmart golden (bare `` & ``
       text runs and script-body ``&l=``/``&profile`` URLs produce
       none of its 217 warnings).
    13. ``entity "&name" doesn't end in ';'`` — a known entity
       mapping below U+0100 (the HTML 4.01 Latin-1 range, where tidy
       substitutes anyway) terminated by a non-namechar instead of
       ``;`` (MISSING_SEMICOLON). Numeric forms (``&#160``,
       ``&#xA0``) take the same split by codepoint but use tidy's
       numeric wording (MISSING_SEMICOLON_NCR): ``numeric
       character reference "&#160" doesn't end in ';'``.
    14. ``inserting implicit <ul>`` / ``inserting implicit <dl>`` —
       a ``<li>`` start tag with no list container (ul/ol/menu/
       dir) open anywhere on the stack, or a ``<dt>``/``<dd>`` with no
       open ``<dl>``: tidy's parser creates the container node and
       warns INSERTING_TAG, anchored at the item's start tag, after
       the same tag's lexer (class-1) warnings. The implicit container
       is tidy-inferred so it closes implicitly — it never enters
       class-7 missing-end-tag accounting. Scope: stack-wide container
       search (tidy's ancestor walk); start-tag-implied list closes
       are not modelled (same limit as class 7's start-tag variant).
    15. ``replacing invalid numeric character reference N`` /
       ``discarding invalid numeric character reference N`` —
       INVALID_NCR: a numeric reference into the Windows-1252 alias
       range (C1 controls, 128-159) is remapped (DecodeWin1252) with
       the "replacing" wording — EXCEPT the five CP1252-undefined
       slots 129/141/143/144/157, whose Win2Unicode entry is 0, so
       they take "discarding"; surrogate halves
       (U+D800-U+DFFF) and beyond-Unicode codes are dropped with
       "discarding". N is
       DECIMAL regardless of input radix (tidy's NtoS). Fires after a
       same-reference class-13 semicolon warning (ParseEntity order);
       a >=U+0100 reference MISSING its ';' is class 12 instead, so
       un-terminated surrogate refs never reach this check. C0
       controls and other charset-dependent remaps are not modelled.
    16. ``missing </a> before <a>`` — anchors cannot nest: a new
       ``<a>`` start tag while an ``<a>`` is open implies closing the
       old one (tidy ParseInline pops the pushed anchor,
       MISSING_ENDTAG_BEFORE), warning for the popped anchor AND each
       still-open required-end-tag child above it (innermost first,
       ``missing </x> before <a>``), all anchored at the NEW tag;
       optional-end-tag children close silently. The popped anchor's
       own later ``</a>`` then discards (class 11) — the full tidy
       cascade. Other inline-nesting implied closes (b-in-b etc.) are
       not modelled; anchors are the overwhelmingly common crawl case.
    17. ``<x> isn't allowed in <head> elements`` — the FIRST
       body-content start tag inside an explicit still-open ``<head>``
       (tidy TAG_NOT_ALLOWED_IN: ParseHead ungets the token and
       returns, so head parsing ends there — the same place the
       class-10 anchor lands — and later body tags are ordinary
       content, warned once). ``<body>``/``<html>``/``<frameset>``
       transition silently.
    18. ``plain text isn't allowed in <head> elements`` — a
       non-whitespace PCDATA run DIRECTLY inside an explicit still-open
       ``<head>`` (top of the open-element stack is head — text inside
       an open ``<title>``/script/style belongs to that element, and
       comment/CDATA bytes are already masked). Same tidy code path as
       class 17 (ParseHead's TextNode branch: TAG_NOT_ALLOWED_IN with
       the node described as "plain text", then UngetToken + return),
       so the FIRST offender warns once, head parsing ends there (the
       class-10 anchor lands on it), and the text becomes body
       content. Anchored at the first non-whitespace character (tidy
       lexes head tokens in IgnoreWhitespace mode, so the text token
       starts past the leading whitespace); whitespace-only runs are
       silent and do NOT close head (the lexer never surfaces them as
       tokens). Whitespace = ASCII space/TAB/LF/CR/FF/VT, tidy's
       byte-oriented IsWhite — a multi-byte Unicode space is non-blank
       text to tidy and to us. Scope: text following a class-5 broken
       tag's recovery point inside head IS scanned; text swallowed
       into a masked-to-EOF attribute value is not (it never reaches
       tidy's PCDATA lexer either).
    19. ``missing </hM> before <hN>`` — headings cannot nest: a
       new heading start tag of a DIFFERENT level while a heading is
       open implies closing the old one (tidy ParseBlock's heading
       check: MISSING_ENDTAG_BEFORE, then UngetToken so the new
       heading opens normally), warning for the popped heading AND
       each still-open required-end-tag child above it
       (innermost-first, ``missing </x> before <hN>`` — the inline
       parser's own implied-close wording), all anchored at the NEW
       tag; optional-end-tag children close silently. The popped
       heading's own later end tag then discards (class 11). Same
       stack-wide scope limit as class 16: an intervening BLOCK
       element would have closed the heading at ITS start tag in real
       tidy (unmodelled start-tag-triggered closes, residual family 2).
    20. ``replacing unexpected <hN> with </hN>`` — the SAME-level
       twin of class 19: tidy coerces the second ``<h2>`` start token
       into ``</h2>`` (NON_MATCHING_ENDTAG) — it closes the open
       heading and opens NOTHING, so required-end children pop with
       plain class-7 ``missing </x>`` wording (an end tag closing over
       them), the never-created node skips the attribute checks like a
       class-6 discard, and the heading's own later end tag discards
       (class 11).

    21. URI-attribute hygiene — tidy's ``CheckUrl`` (attrs.c) on
       URL-typed attribute values (``_URL_ATTRS``, the dictionary's
       CH_URL entries; per-attribute-NAME, any element). Sub-behaviors,
       in CheckUrl's code order, anchored at the element like class 3:
       a backslash in the value warns ``converting backslash in URI to
       slash`` (FIXED_BACKSLASH — TidyFixBackslash default; a value
       with the exact prefix ``javascript:`` is exempt from the fix and
       takes the ``URI reference contains backslash. Typo?``
       BACKSLASH_IN_URI wording); any byte <= 0x20, > 0x7e, ``<`` or
       ``>`` warns ``escaping malformed URI reference``
       (ESCAPED_ILLEGAL_URI — TidyFixUri default); a VALUELESS URL
       attribute warns ``attribute "x" lacks value``
       (MISSING_ATTR_VALUE, CheckUrl's early return — an explicit empty
       value is a value and is silent). Newlines in the value are
       discarded by the LEXER first (``discarding newline in URI
       reference``, NEWLINE_IN_URI, parse-time phase at the tag), so
       CheckUrl never counts them. Model limits: NEWLINE_IN_URI fires
       once per attribute (tidy's per-occurrence repeat count
       unpinned); duplicated URL attributes are checked on the KEPT
       last value at the first occurrence's report slot; WHITE_IN_URI
       (space-discard variant in some configs) unmodelled; 'manifest'
       stays under class 9 (can't be both). CheckUrl operates on the
       entity-DECODED value (tidy's ParseEntity substitutes while the
       value is lexed — modelled by ``_decode_entities_tidy``), so
       an ``&#10;``-encoded newline or ``&#32;`` space IS an illegal
       byte to the escape check and a ``java&#115;cript:`` prefix IS
       javascript:; the raw-newline discard above it stays raw (the
       ParseValue character loop only sees literal input newlines).
    22. ``missing <table>`` — a tr/td/th start tag with NO
       ``<table>`` open anywhere on the stack: tidy's parser infers the
       missing table (MISSING_STARTTAG), anchored at the offending tag.
       Same non-pushing scope limit as class 14: the inferred container
       is not tracked, so a SECOND bare table part warns again where
       real tidy's inferred table would absorb it.
    23. ``missing </x> before <y>``, the GENERAL block-start form
       (residual family 2's main body): a start tag for a
       BLOCK-level element (``_BLOCK_TRIGGERS``) implies closing the
       open required-end INLINE elements (``_INLINE_REQUIRED_END``) —
       and an open heading, when the trigger is not itself a heading
       (heading-vs-heading stays with classes 19/20) — above the
       nearest flow container: tidy's ParseInline returns the token to
       the enclosing block parser, MISSING_ENDTAG_BEFORE per popped
       element, innermost-first, anchored at the NEW tag. An open
       ``<p>`` in the pop path closes silently (optional end tag); any
       other frame — flow containers, table parts, head, unknown
       elements — stops the walk. The popped element's later end tag
       discards (class 11). Transparent elements that may legally
       contain blocks (ins/del/map/button/label/object) are never
       popped. Scope limits: li/dt/dd and td/th/tr starts do NOT
       trigger (the list/table parsers repair by moving content);
       unknown elements stop the walk where tidy's dict-driven content
       model might pop them.

    24. ``<b> is probably intended as </b>`` — DIRECT same-tag
       inline nesting with NO attributes: tidy's ParseInline
       same-element check coerces the start token into the end tag
       (COERCE_TO_ENDTAG, TidyCoerceEndTags default) — the element
       closes, nothing opens, attribute checks are skipped, and the
       element's own later end tag discards (class 11). TOP of stack
       only (node->tag == element->tag — the innermost open element);
       alternating nesting (b>i>b) is legal and silent.
    25. ``nested emphasis <b>`` — the same check WITH attributes:
       NESTED_EMPHASIS, warning only, the element nests normally.
       Scope for both: the inline required-end set minus <a> (the
       class-16 anchor branch runs first, stack-wide) and minus <q>
       (class 26 below).
    26. ``nested q elements, possible typo.`` — tidy excludes q
       from the same-tag emphasis branch and reports NESTED_QUOTATION
       for a <q> start while a q is pushed — ANYWHERE on the inline
       stack (q-in-q and q > b > q alike), with or without attributes;
       warning only, the element nests normally.

    27. Typed attribute-value validation (the bulk of residual
       families 8/9/10): tidy's attrs.c dictionary wires each
       known attribute to a typed checker; the CH_NUMBER, CH_LENGTH,
       CH_ALIGN, CH_VALIGN, CH_CLEAR, CH_SCROLL and CH_TARGET checkers
       are modelled 1:1 (see ``_typed_attr_check``): a VALUELESS typed
       attribute reports ``<x> attribute "y" lacks value``
       (MISSING_ATTR_VALUE), an out-of-range value ``<x> attribute "y"
       has invalid value "v"`` (BAD_ATTRIBUTE_VALUE, once per
       attribute — the C loops break on the first bad byte), and a
       vendor valign keyword (texttop/absmiddle/absbottom/textbottom)
       ``<x> proprietary attribute value "v"`` (PROPRIETARY_ATTR_VALUE).
       Slotted per attribute in the attribute-check phase like classes
       9/21, on the kept entity-decoded value. ``<caption align>`` is
       exempt (CheckAlign defers to the caption element's own checker,
       where top/bottom are legal HTML4 values). Unmodelled checker
       types (residual slivers): CH_COLOR (CheckColor's hash-prefix
       fix + replaced-value wording), CH_VTYPE, CH_SHAPE, CH_TEXTDIR,
       CH_LANG/CH_CHARSET/CH_CHARACTER, CH_URLS, and 'border'.
    28. Element-level missing-attribute reports — the remaining
       attrs.c element checkers with default-config warnings, the
       class-3 CheckLINK pattern generalized: CheckIMG (``<img> lacks
       "alt" attribute``; ``<img> should use client-side image map``
       for ismap-without-usemap, MISSING_IMAGEMAP; ``<img> lacks "src"
       attribute`` unless datafld databinding), CheckAREA (``<area>
       lacks "alt" attribute``; ``<area> lacks "href" attribute``
       unless nohref), CheckFORM (``<form> lacks "action" attribute``).
       Each fires AFTER its element's per-attribute checks, in the
       checker's code order; a class-6/20/24-discarded node never
       reaches them. CheckTABLE's missing-summary only sets the
       suppressed accessibility footer and CheckSCRIPT/CheckSTYLE type
       warnings are doctype-mode-gated — both stay silent (residual).

    Ordering matches tidy's phases: lexer/parse-time warnings
    (1+2+5+6+7+8+10-26, incl. NEWLINE_IN_URI) in document order, then
    attribute checks (9+3+CheckUrl+27+28), then trims (4), each in
    document order. Line/column are 1-based with tabs expanded to the next
    multiple-of-8 stop, exactly tidy's accounting. Returns "" for a clean
    document, else newline-joined warnings with a trailing newline (the
    stderr shape the snapshot records).

    CONTRACT SURFACE: the reference's invocation is ``tidy -q
    --show-errors=0 --show-info=no …`` (lib.rs:197) — ``-q`` drops the
    summary header, ``--show-errors=0`` suppresses ALL Error-level
    messages, and ``--show-info=no`` suppresses ALL Info-level ones
    (e.g. the "Document content looks like …" notices). Only
    WARNING-level lines ever reach the captured stderr, so the catalog
    above competes only against tidy's remaining warning classes, not
    its full message table.

    KNOWN DIVERGENCE (documented): real tidy's warning catalog
    is larger — the residual is the CLOSED 10-family list in
    COVERAGE.md §2.4 (general NON_MATCHING_ENDTAG, CANT_BE_NESTED,
    USING_BR_INPLACE_OF, element-vintage OBSOLETE/PROPRIETARY_ELEMENT,
    SUSPECTED_MISSING_QUOTE, UNEXPECTED_END_OF_FILE, frameset notices,
    lexer COERCE_TO_ENDTAG, encoding-conditional remaps, missing-'>'
    tag splits) — strict-parse-failing pages triggering those diverge
    in html_errors CONTENT; the trigger condition and the classes
    above are the certified surface. A class-5-broken
    tag's attributes lexed BEFORE the broken quote are not re-scanned
    for classes 1/3 (tidy lexes them; the warning classes they could
    add are rare on a tag already being reported broken) — the broken
    tag's ELEMENT, however, is opened on the stack like tidy does,
    so it participates in class-7 missing-end-tag
    accounting AND — being a created element node — a broken
    non-head-context tag closes the head region and anchors the
    class-10 missing-'title' insert exactly like a well-formed one
    (pinned by fixture; tidy's parser leaves head on
    the created node regardless of the lexing breakage). This applies
    to the '</'-recovered breakage only — a value swallowed to EOF
    opens no element (the rest of the document is masked), so it
    neither anchors nor suppresses anything. What a broken tag does
    NOT do is class-9 attribute scanning or title RECOGNITION: a
    broken <title id="x> never sets saw_title, so it cannot suppress
    the class-10 insert (tidy's lexer does emit the token — this is a
    documented divergence on an already-broken page).
    Class-9 models tidy's HTML5 dictionary only (no per-doctype attr
    vintages), and unknown on*-named handlers count as proprietary.
    Class-10 counts any well-formed <title> start tag wherever it
    appears (real tidy would move a body-misplaced title and also
    warn). Class 8 is
    only emitted for documents containing at least one element tag and
    anchors there — tidy would anchor at a leading bare-text token
    (implicit <html>) instead; tagless or text-only documents emit no
    doctype warning here. Class-12/13 divergences: the entity
    dictionary is the HTML 4.01 set + &apos; (tidy entities.c vintage)
    — a name only later tidy builds know would warn class 12 here;
    and a class-5 value swallowed to EOF is not entity-scanned (tidy's
    ParseValue would scan it — the document is already one broken
    attribute value at that point). Win-1252 NCRs are class 15; the
    remaining INVALID_NCR divergence: C0 and
    charset-conditional remaps beyond the C1/surrogate/overflow cases.
    Class-14 scope: li/dt/dd only — tidy also infers <tr>/<table>
    around stray table cells ("missing <tr>"/"missing <table>"
    wording, a DIFFERENT message family) — not modelled.
    """
    if not raw_html:
        return ""
    n = len(raw_html)

    # Line/col with tab-stop-8 expansion. Newline offsets are found once
    # (C-speed str.find loop) and lines resolved by bisect; columns are
    # computed in ONE forward pass over the sorted warning positions —
    # within a line, expansion resumes from the previous warning instead
    # of rescanning from the line start, so a warning-dense minified
    # single-line page costs O(doc + warnings·log) total, not
    # O(warnings × doc).
    nls: list[int] = []
    _i = raw_html.find("\n")
    while _i != -1:
        nls.append(_i)
        _i = raw_html.find("\n", _i + 1)

    def _linecols(positions: list[int]) -> dict[int, tuple[int, int]]:
        res: dict[int, tuple[int, int]] = {}
        prev_line, prev_pos, prev_col = -1, 0, 1
        for pos in sorted(set(positions)):
            line = bisect.bisect_left(nls, pos) + 1
            if line == prev_line:
                col, scan_from = prev_col, prev_pos
            else:
                col, scan_from = 1, (nls[line - 2] + 1 if line >= 2 else 0)
            for ch in raw_html[scan_from:pos]:
                col = ((col - 1) // 8 + 1) * 8 + 1 if ch == "\t" else col + 1
            res[pos] = (line, col)
            prev_line, prev_pos, prev_col = line, pos, col
        return res

    # regions the tag scanner must skip: script/style bodies, comments.
    # parse_time entries = (pos, col_offset, message): tidy's lexer reports
    # the CDATA warning at col('<') + len(tagname) — its column counter has
    # consumed the name when the warning fires — while repeated-attribute
    # warnings anchor at the element's '<' (offset 0). Verified against the
    # golden's 12 occurrences (1/2/3/5/6/7-letter names all match).
    masked = bytearray(n)
    parse_time: list[tuple[int, int, str]] = []
    for m in _CDATA_RE.finditer(raw_html):
        body_start = raw_html.index(">", m.start()) + 1
        body_end = m.start(2) + len(m.group(2))
        for i in range(body_start, body_end):
            masked[i] = 1
        own = m.group(1).lower()
        body = raw_html[body_start:body_end]
        for bm in _BADCLOSE_RE.finditer(body):
            name_m = re.match(r"[a-zA-Z]+", body[bm.start() + 2 :])
            if name_m and name_m.group(0).lower() != own:
                parse_time.append(
                    (
                        body_start + bm.start(),
                        len(name_m.group(0)),
                        "'<' + '/' + letter not allowed here",
                    )
                )
    for m in _COMMENT_RE.finditer(raw_html):
        for i in range(m.start(), m.end()):
            masked[i] = 1

    # class 5: missing trailing quote. The tag scan cannot usually match a tag
    # whose quoted value runs into '<', so these are found by replaying
    # tidy's attribute lexer LINEARLY over the document: each candidate
    # tag consumes its quote-balanced attribute text (so a '<' inside a
    # closed quoted value never spawns a nested candidate). tidy's actual
    # recovery signal (tidy ParseValue) is '</' appearing
    # BEFORE the closing quote — a bare '<' or a newline inside the value
    # stays literal and does NOT warn — the value ends at the '</' and
    # the lexer resumes on that tag; a quote still open at EOF (no
    # closing quote, no '</') swallows the rest of the document exactly
    # like tidy's value parser. Both are MISSING_QUOTEMARK, anchored at
    # the element's '<' like class 1. Each breakage records its recovery
    # point so the main tag pass below also resumes at the
    # interrupting '</' instead of letting a later paired quote swallow
    # real tags into one pseudo-tag (post-breakage tag recovery).
    _tag_start = re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)")
    broken_recovery: dict[int, int] = {}  # broken tag's '<' -> resume pos
    broken_tags: dict[int, str] = {}  # broken tag's '<' -> element name
    first_tag_pos: int | None = None  # class 8 anchor: first element token
    scan = 0
    while True:
        m = _tag_start.search(raw_html, scan)
        if m is None:
            break
        if masked[m.start()]:
            scan = m.end()
            continue
        if first_tag_pos is None:
            first_tag_pos = m.start()
        i = m.end()
        while i < n:
            c = raw_html[i]
            if c in "\"'":
                close = raw_html.find(c, i + 1)
                # only a '</' before the closing quote matters
                lt = raw_html.find("</", i + 1, n if close == -1 else close)
                if close == -1 and lt == -1:
                    # unterminated at EOF: the value swallows the rest of
                    # the document (tidy ParseValue reads to EndOfStream) —
                    # mask it so the main pass sees no phantom tags either
                    parse_time.append(
                        (
                            m.start(),
                            0,
                            f"<{m.group(1).lower()}> attribute with missing "
                            "trailing quote mark",
                        )
                    )
                    for j in range(i + 1, n):
                        masked[j] = 1
                    i = n
                    break
                if lt != -1 and (close == -1 or lt < close):
                    parse_time.append(
                        (
                            m.start(),
                            0,
                            f"<{m.group(1).lower()}> attribute with missing "
                            "trailing quote mark",
                        )
                    )
                    i = lt
                    broken_recovery[m.start()] = i
                    broken_tags[m.start()] = m.group(1).lower()
                    break
                i = close + 1
            elif c in "<>":
                i += 1 if c == ">" else 0
                break  # '>' ends a well-formed tag; '<' is not this class
            else:
                i += 1
        scan = max(i, m.end())

    # classes 12 + 13: entity references. tidy's lexer runs ParseEntity
    # wherever '&' + namechar/'#' appears OUTSIDE script/style CDATA and
    # comments — PCDATA text and attribute values alike (the masked[]
    # array already encodes exactly that exclusion, including the
    # class-5 swallowed-to-EOF value text, which tidy WOULD scan but we
    # skip — see KNOWN DIVERGENCE). The consumed name (without the
    # terminating ';', which tidy strips before reporting) is resolved
    # against the entity dictionary:
    #   unknown name, or a >=U+0100 entity missing its ';'  →  class 12
    #     `unescaped & or unknown entity "&name"` (UNKNOWN_ENTITY);
    #   known <U+0100 entity missing its ';'                →  class 13
    #     `entity "&name" doesn't end in ';'` (MISSING_SEMICOLON);
    #   known + ';'                                         →  silent.
    # Numeric forms (&#160, &#xA0) resolve to their codepoint and take
    # the same split; a malformed numeric body (&#, &#xzz) is an unknown
    # entity. Anchor = the '&' column (tidy rewinds lexer->columns to
    # startcol before reporting). Lexer-phase, document order.
    for em in _ENTITY_RE.finditer(raw_html):
        if masked[em.start()]:
            continue
        name = em.group(1)
        semicolon = raw_html[em.end() : em.end() + 1] == ";"
        if name.startswith("#"):
            body = name[1:]
            if re.fullmatch(r"[xX][0-9a-fA-F]+", body):
                code: int | None = int(body[1:], 16)
            elif body.isdigit():
                code = int(body)
            else:
                code = None
        else:
            code = _ENTITY_CODES.get(name)
        if code is None or (code >= 256 and not semicolon):
            parse_time.append(
                (em.start(), 0, f'unescaped & or unknown entity "&{name}"')
            )
        else:
            if not semicolon:
                # tidy distinguishes the numeric form
                # (MISSING_SEMICOLON_NCR) from the named one
                # (MISSING_SEMICOLON)
                if name.startswith("#"):
                    parse_time.append(
                        (
                            em.start(),
                            0,
                            f"numeric character reference \"&{name}\" "
                            "doesn't end in ';'",
                        )
                    )
                else:
                    parse_time.append(
                        (em.start(), 0, f"entity \"&{name}\" doesn't end in ';'")
                    )
            # class 15: INVALID_NCR — the Windows-1252 alias range
            # (C1 controls 128-159) is not a legal character reference;
            # tidy remaps it (DecodeWin1252) and warns "replacing ...";
            # surrogate halves and beyond-Unicode codes are dropped with
            # "discarding ...". The semicolon warning above precedes it,
            # matching ParseEntity's sequence (the semicolon check runs
            # before the replacement block). Decimal code in the
            # message regardless of input radix (tidy's NtoS).
            if name.startswith("#"):
                if 128 <= code <= 159:
                    # replace-vs-discard follows tidy's Win2Unicode
                    # table, not the range: the five CP1252-undefined
                    # slots (129/141/143/144/157) map to 0 in
                    # DecodeWin1252, so ReportEncodingError gets
                    # replaceMode == DISCARDED_CHAR for them.
                    verb = "replacing" if code in _WIN1252_MAP else "discarding"
                    parse_time.append(
                        (
                            em.start(),
                            0,
                            f"{verb} invalid numeric character reference {code}",
                        )
                    )
                elif 0xD800 <= code <= 0xDFFF or code > 0x10FFFF:
                    parse_time.append(
                        (
                            em.start(),
                            0,
                            f"discarding invalid numeric character reference {code}",
                        )
                    )

    attr_checks: list[tuple[int, str]] = []  # classes 3 + 9
    trims: list[tuple[int, str]] = []  # class 4
    saw_title = False  # class 10: any well-formed <title> start tag
    head_close_anchor: int | None = None  # class 10 anchor (see below)
    # stack frames: [tag, start_pos, has_attrs, content_start, has_child]
    stack: list[list] = []
    # tidy still CREATES the element node from a class-5
    # broken tag (ParseValue ends the value, the token is emitted, the
    # parser opens it), so it participates in class-7/11 accounting.
    # The broken tag may or may not be visible to the tag scan (a later
    # paired quote forms a pseudo-tag at it; an odd quote count hides it
    # entirely), so the push happens HERE, by document position, as the
    # main pass advances past each breakage — left unclosed it warns
    # `missing </tag>` at the closing-ancestor tag or EOF exactly like
    # a well-formed start tag, and its own end tag matches it instead
    # of being discarded as unexpected (class 11).
    broken_list = sorted(broken_tags.items())
    bidx = 0
    # class 18 state: next PCDATA position not yet examined for bare
    # text-in-head; advanced past every token the pass consumes so tag
    # markup (including a class-5 broken tag's span up to its recovery
    # point) is never mistaken for text.
    text_scan_from = 0

    def _flush_broken(upto: int) -> None:
        nonlocal bidx, head_close_anchor, text_scan_from
        while bidx < len(broken_list) and broken_list[bidx][0] < upto:
            bpos, btag = broken_list[bidx]
            bidx += 1
            if head_close_anchor is None and btag not in _HEAD_CONTEXT_TAGS:
                head_close_anchor = bpos
            text_scan_from = max(text_scan_from, broken_recovery.get(bpos, n))
            if btag not in _VOID_TAGS:
                for fr in stack:
                    fr[4] = True
                stack.append(
                    [btag, bpos, True, broken_recovery.get(bpos, n), False]
                )

    def _head_text_check(span_end: int) -> None:
        # class 18: plain text directly inside an explicit open
        # <head> — tidy ParseHead's TextNode branch (the class-17 twin):
        # the first non-blank PCDATA run warns TAG_NOT_ALLOWED_IN with
        # the node described as "plain text", head parsing ends there
        # (UngetToken + return — the class-10 anchor lands on it), and
        # the text becomes ordinary body content. Only text at HEAD
        # level counts (top of stack is head; an open title/script/style
        # owns its own text), masked comment/CDATA bytes are skipped,
        # and the span never crosses a pending class-5 broken tag (its
        # markup is consumed by _flush_broken, which advances
        # text_scan_from past the recovery point). Anchor = the first
        # non-whitespace character (IgnoreWhitespace token start);
        # whitespace (ASCII, tidy's IsWhite) alone is silent.
        nonlocal head_close_anchor
        if head_close_anchor is not None or not (stack and stack[-1][0] == "head"):
            return
        end = span_end
        if bidx < len(broken_list):
            end = min(end, broken_list[bidx][0])
        for j in range(text_scan_from, end):
            if not masked[j] and raw_html[j] not in " \t\n\r\f\v":
                parse_time.append(
                    (j, 0, "plain text isn't allowed in <head> elements")
                )
                head_close_anchor = j
                return

    tags = _TagScanner(raw_html)
    pos = 0
    while (m := tags.search(pos)) is not None:
        pos = m.end()
        if masked[m.start()]:
            continue
        # class 18: examine the PCDATA run before this token — once with
        # the pre-flush stack (text ahead of any pending broken tag),
        # once after (text between a broken tag's recovery point and this
        # tag); the head_close_anchor guard makes the second call a no-op
        # whenever the first (or the flush itself) closed the head.
        _head_text_check(m.start())
        _flush_broken(m.start() + 1)
        _head_text_check(m.start())
        if m.start() in broken_recovery:
            # class-5 breakage (pseudo-tag case): a later paired quote
            # made the tag scan swallow real tags into one pseudo-tag — the
            # flush above already opened the element; resume at the
            # interrupting '</' exactly like tidy's lexer
            # (post-breakage recovery). text_scan_from stays at the
            # recovery point (set by the flush): the pass re-reads from
            # there, so the pseudo-tag's tail is NOT consumed as markup.
            pos = broken_recovery[m.start()]
            continue
        text_scan_from = max(text_scan_from, m.end())
        closing, tag, attrs_raw = m.group(1), m.group(2).lower(), m.group(3)
        # "<x attr/>": group 3 keeps the slash (see _end_names_balance)
        selfclose = attrs_raw.rstrip().endswith("/")
        if selfclose:
            attrs_raw = attrs_raw.rstrip()[:-1]
        if not closing:
            if tag == "title":
                saw_title = True
            # class-10 anchor: the head region closes at the FIRST of an
            # explicit </head> (closing branch below) or a start tag that
            # cannot live in <head> (<body> included — it's outside the
            # head-context set)
            if head_close_anchor is None and tag not in _HEAD_CONTEXT_TAGS:
                # class 17: the FIRST body-content start tag inside
                # an EXPLICIT still-open <head> warns TAG_NOT_ALLOWED_IN
                # ("<x> isn't allowed in <head> elements") — tidy's
                # ParseHead ungets the token and returns, so head parsing
                # ends there (exactly where the class-10 anchor lands)
                # and LATER body tags are ordinary content, warned once.
                # <body>/<html>/<frameset> transition silently (ParseHTML
                # owns them, not a head violation).
                if tag not in ("body", "html", "frameset") and any(
                    fr[0] == "head" for fr in stack
                ):
                    parse_time.append(
                        (
                            m.start(),
                            0,
                            f"<{tag}> isn't allowed in <head> elements",
                        )
                    )
                head_close_anchor = m.start()
            # tidy lexes attributes BEFORE the parser can discard the tag:
            # a nested <form a="1" a="2"> still emits its
            # class-1 repeated-attribute warning, then the class-6 discard
            seen: dict[str, str] = {}
            has_rel = False
            proprietary: list[tuple[int, str]] = []
            # keep-last values for class 21 (tidy's duplicate-attrs
            # default keeps the LAST occurrence; the class-1 message
            # reports the dropped FIRST one); None = attribute present
            # with NO '=' at all (AttrHasValue false), '' = explicit
            # empty value (has a value, CheckUrl sees zero bytes)
            kept: dict[str, str | None] = {}
            for am0 in _ATTR_RE.finditer(attrs_raw):
                n0 = am0.group(1).lower()
                v0 = am0.group(2)
                if v0 is not None and v0[:1] in "\"'":
                    v0 = v0[1:-1]
                kept[n0] = v0
            for am in _ATTR_RE.finditer(attrs_raw):
                name = am.group(1).lower()
                val = am.group(2) or ""
                if val[:1] in "\"'":
                    val = val[1:-1]
                if name == "rel":
                    has_rel = True
                if name in seen:
                    # the quoted dropped value is the value AS STORED
                    # on the node — entity-DECODED (RepairDuplicate-
                    # Attributes runs on lexed attvals), matching
                    # what class 21 checks on the kept twin
                    parse_time.append(
                        (
                            m.start(),
                            0,
                            f'<{tag}> dropping value "{_decode_entities_tidy(seen[name])}" '
                            f'for repeated attribute "{name}"',
                        )
                    )
                else:
                    seen[name] = val
                    # class 9: attribute outside tidy's dictionary —
                    # PROPRIETARY_ATTRIBUTE, checked once per kept
                    # attribute (the lexer already dropped repeats), in
                    # attribute order, reported in the attribute-check
                    # phase like class 3
                    if not (
                        name in _KNOWN_ATTRS
                        or name in _EVENT_ATTRS
                        or name.startswith(_KNOWN_ATTR_PREFIXES)
                    ):
                        proprietary.append(
                            (m.start(), f'<{tag}> proprietary attribute "{name}"')
                        )
                    # class 21: tidy's CheckUrl (attrs.c) on
                    # URL-typed attributes, slotted per attribute in the
                    # attribute-check phase exactly where the dict's
                    # attrchk runs (after the same attribute's
                    # proprietary check — vacuous here, URL attrs are
                    # all in the dictionary). Checked on the KEPT
                    # (last-occurrence) value at the first occurrence's
                    # slot. A valueless URL attribute reports
                    # MISSING_ATTR_VALUE and skips the content checks
                    # (CheckUrl's early return).
                    elif name in _URL_ATTRS:
                        kv = kept[name]
                        if kv is None:
                            proprietary.append(
                                (
                                    m.start(),
                                    f'<{tag}> attribute "{name}" lacks value',
                                )
                            )
                        else:
                            if "\n" in kv or "\r" in kv:
                                # lexer-phase: newlines in a URI value
                                # are DISCARDED while lexing
                                # (NEWLINE_IN_URI), so CheckUrl below
                                # never sees them. Modelled once per
                                # attribute (tidy's per-occurrence
                                # repeat count is unpinned — see
                                # docstring).
                                parse_time.append(
                                    (
                                        m.start(),
                                        0,
                                        f"<{tag}> discarding newline "
                                        "in URI reference",
                                    )
                                )
                                kv = kv.replace("\r", "").replace("\n", "")
                            # tidy DECODES entities while lexing the
                            # value (ParseEntity runs inside
                            # ParseValue), so CheckUrl operates on the
                            # decoded string — an '&#10;'-encoded
                            # newline or '&#32;' space IS a <= 0x20
                            # byte to its escape check, and a
                            # 'java&#115;cript:' prefix IS javascript:.
                            # The raw-newline
                            # discard above stays raw: it happens in
                            # ParseValue's character loop, which only
                            # sees literal input newlines.
                            kv = _decode_entities_tidy(kv)
                            is_js = kv.startswith("javascript:")
                            has_bslash = "\\" in kv
                            needs_escape = any(
                                (c > "\x7e") or (c <= "\x20") or c in "<>"
                                for c in kv
                            )
                            # code order in CheckUrl: backslash report,
                            # then escape report. Defaults modelled:
                            # TidyFixBackslash=yes (javascript: exempt
                            # from the FIX, so it takes the
                            # BACKSLASH_IN_URI wording),
                            # TidyFixUri=yes (ESCAPED_ILLEGAL_URI).
                            if has_bslash:
                                proprietary.append(
                                    (
                                        m.start(),
                                        f"<{tag}> URI reference contains "
                                        "backslash. Typo?"
                                        if is_js
                                        else f"<{tag}> converting backslash"
                                        " in URI to slash",
                                    )
                                )
                            if needs_escape:
                                proprietary.append(
                                    (
                                        m.start(),
                                        f"<{tag}> escaping malformed "
                                        "URI reference",
                                    )
                                )
                    # class 27: typed attribute-value checkers
                    # (attrs.c CH_NUMBER/CH_LENGTH/CH_ALIGN/CH_VALIGN/
                    # CH_CLEAR/CH_SCROLL/CH_TARGET), slotted per
                    # attribute in the attribute-check phase exactly
                    # like class 21, on the KEPT (last-occurrence)
                    # entity-DECODED value at the first occurrence's
                    # slot. MISSING_ATTR_VALUE / BAD_ATTRIBUTE_VALUE /
                    # PROPRIETARY_ATTR_VALUE wordings per checker — see
                    # _typed_attr_check.
                    elif name in _TYPED_ATTRS:
                        kv27 = kept[name]
                        for msg27 in _typed_attr_check(
                            tag, name, None if kv27 is None else _decode_entities_tidy(kv27)
                        ):
                            proprietary.append((m.start(), msg27))
            # class 23: a BLOCK-level start tag implies closing the
            # open required-end INLINE elements (and an open heading, when
            # the trigger is not itself a heading — heading-vs-heading
            # stays with classes 19/20) above the nearest flow container:
            # tidy's ParseInline returns the token to the enclosing block
            # parser, MISSING_ENDTAG_BEFORE per popped element,
            # innermost-first, anchored at the NEW tag. An open <p> in
            # the pop path closes SILENTLY (optional end tag); any other
            # frame — flow containers, table parts, head — stops the
            # walk. The popped elements' own later end tags discard
            # (class 11), the class-16/19 cascade. This models the
            # residual family-2 general form; li/dt/dd/td/th/tr triggers
            # stay out (list/table parsers repair by moving content, the
            # documented scope limit).
            # class 29 (residual family 6): the p→br coercion
            # inside preformatted/definition-term content. Tidy handles
            # a <p> START tag specially in TWO places, BEFORE any
            # implied-close machinery sees the token:
            #   - ParsePre: a <p> arriving at pre level (top of stack IS
            #     the pre) is CoerceNode'd to <br> with FreeAttrs and
            #     reported USING_BR_INPLACE_OF ("using <br> in place of
            #     <p>", anchored at the <p>). Nothing opens, the p's
            #     attributes never reach the attribute checks, and the
            #     p's own later </p> hits ParsePre's discard branch —
            #     our class 11 ("discarding unexpected </p>") naturally,
            #     since no p frame was pushed.
            #   - ParseInline's "within <dt> or <pre> map <p> to <br>"
            #     branch: with an inline element on top (Preformatted
            #     token mode under a pre) or at/under a <dt> (dt content
            #     is inline, so ParseInline owns it), the same coercion
            #     happens SILENTLY — no warning, no implied closes (the
            #     token never returns to the block parser, so class 23
            #     must not pop the open inlines here).
            # Context walk = nearest non-inline frame: pre at top →
            # warn+coerce; pre below inlines, or dt → silent coerce.
            # Residual slivers stay documented (COVERAGE family-6 note):
            # ParsePre's PreContent exclusion wordings and the
            # block-start inferred </pre> close are not pinnable without
            # real tidy, and the legacy </p>→<br><br> ParseBlock arm is
            # compiled out under #if OBSOLETE in modern tidy-html5, so
            # the END-tag form never takes this wording.
            if tag == "p" and stack:
                j = len(stack) - 1
                while j >= 0 and stack[j][0] in _INLINE_REQUIRED_END:
                    j -= 1
                ctx = stack[j][0] if j >= 0 else None
                if ctx == "pre" or ctx == "dt":
                    if ctx == "pre" and j == len(stack) - 1:
                        parse_time.append(
                            (m.start(), 0, "using <br> in place of <p>")
                        )
                    for fr in stack:
                        fr[4] = True  # the coerced <br> is content
                    continue
            if tag in _BLOCK_TRIGGERS:
                while stack:
                    top = stack[-1][0]
                    if top in _INLINE_REQUIRED_END or (
                        top in _HEADINGS and tag not in _HEADINGS
                    ):
                        parse_time.append(
                            (m.start(), 0, f"missing </{top}> before <{tag}>")
                        )
                        for p in stack[:-1]:
                            p[4] = True  # popped subtree = parent content
                        stack.pop()
                    elif top == "p":
                        for p in stack[:-1]:
                            p[4] = True
                        stack.pop()
                    else:
                        break
            # class 22: a table-part start tag (tr/td/th) with NO
            # <table> open anywhere on the stack — tidy's parser infers
            # the missing table, warning MISSING_STARTTAG ("missing
            # <table>"), anchored at the offending tag. Same non-pushing
            # scope limit as class 14: the inferred container isn't
            # tracked, so a SECOND bare table part warns again (real
            # tidy's inferred table would absorb it) — documented.
            if tag in ("tr", "td", "th") and not any(
                fr[0] == "table" for fr in stack
            ):
                parse_time.append((m.start(), 0, "missing <table>"))
            # class 14: a list item with NO open list container —
            # tidy's parser creates the container and warns INSERTING_TAG
            # ("inserting implicit <ul>"); same for dt/dd vs <dl>. The
            # notice lands while HANDLING the token, i.e. after the
            # lexer's class-1 warnings for the same tag. The implicit
            # container is tidy-inferred, so it closes implicitly and
            # never joins class-7 missing-end-tag accounting (only the
            # explicit stack below does).
            if tag == "li" and not any(fr[0] in _LIST_CONTAINERS for fr in stack):
                parse_time.append((m.start(), 0, "inserting implicit <ul>"))
            elif tag in ("dt", "dd") and not any(fr[0] == "dl" for fr in stack):
                parse_time.append((m.start(), 0, "inserting implicit <dl>"))
            # class 16: anchors cannot nest — a new <a> while an <a>
            # is open IMPLIES closing the old one (tidy ParseInline pops
            # the pushed anchor), warning MISSING_ENDTAG_BEFORE for the
            # popped <a> AND for every still-open required-end-tag child
            # above it (innermost first), all anchored at the NEW <a>;
            # optional-end-tag children close silently, like class 7's
            # ancestor-close path. The popped anchor's own later </a> has
            # no matching element left and discards (class 11) — the
            # tidy cascade. Implied closes do not trim (the anchor held
            # the new-tag token as content by then).
            if tag == "a":
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i][0] == "a":
                        for child_fr in reversed(stack[i + 1 :]):
                            if child_fr[0] not in _OPTIONAL_END_TAGS:
                                parse_time.append(
                                    (
                                        m.start(),
                                        0,
                                        f"missing </{child_fr[0]}> before <a>",
                                    )
                                )
                        parse_time.append(
                            (m.start(), 0, "missing </a> before <a>")
                        )
                        for p in stack[:i]:
                            p[4] = True  # closed subtree = parent content
                        del stack[i:]
                        break
            # classes 24 + 25: DIRECT same-tag inline nesting —
            # tidy's ParseInline same-element check (node->tag ==
            # element->tag, so TOP of stack only; anchors took the
            # class-16 branch above, which is stack-wide):
            #   no attributes  -> COERCE_TO_ENDTAG ("<b> is probably
            #     intended as </b>", the TidyCoerceEndTags default): the
            #     start token becomes the end tag, closing the open
            #     element — nothing opens, attribute checks are skipped,
            #     and the element's own later end tag discards (class 11)
            #     — the class-20 shape, minus the child cascade (the
            #     same-tag element IS the innermost frame);
            #   with attributes -> NESTED_EMPHASIS ("nested emphasis
            #     <b>"): warning only, the nested element opens normally.
            # Scope: the classic emphasis/inline set minus <a> (class 16)
            # and minus <q> (tidy's NESTED_QUOTATION wording — residual
            # family 18, unmodelled).
            if (
                tag in _INLINE_REQUIRED_END
                and tag not in ("a", "q")
                and stack
                and stack[-1][0] == tag
            ):
                if not attrs_raw.strip():
                    parse_time.append(
                        (
                            m.start(),
                            0,
                            f"<{tag}> is probably intended as </{tag}>",
                        )
                    )
                    for p in stack[:-1]:
                        p[4] = True  # the closed element = parent content
                    stack.pop()
                    continue
                parse_time.append(
                    (m.start(), 0, f"nested emphasis <{tag}>")
                )
            # class 26: a <q> start while a q is OPEN — tidy's
            # ParseInline EXCLUDES q from the same-tag emphasis branch,
            # so every pushed-q case (direct q-in-q AND q nested deeper,
            # e.g. q > b > q — the check is IsPushed, i.e. anywhere on
            # the inline stack, not innermost-only like classes 24/25)
            # takes the dedicated NESTED_QUOTATION wording instead:
            # warning only, anchored at the offending start tag, the
            # element nests normally. Scope limit: tidy's istack
            # re-opens pushed inlines across block boundaries
            # (InlineDup), so a q split by an intervening block start
            # stays "pushed" for real tidy while our model closed it at
            # the block — same documented limit as the class-16/24
            # stack-wide scope.
            if tag == "q" and any(fr[0] == "q" for fr in stack):
                parse_time.append(
                    (m.start(), 0, "nested q elements, possible typo.")
                )
            # classes 19 + 20: headings cannot nest. A new hN start
            # while a heading is open implies closing the old one — tidy's
            # ParseBlock heading check:
            #   different tag  -> MISSING_ENDTAG_BEFORE ("missing </h1>
            #     before <h2>"), token ungot, so the NEW heading then
            #     opens normally (class 19);
            #   same tag       -> NON_MATCHING_ENDTAG ("replacing
            #     unexpected <h2> with </h2>"): the start token is
            #     COERCED into the end tag, so it closes the old heading
            #     and opens NOTHING — its own later end tag discards as
            #     class 11 (class 20).
            # Still-open required-end-tag children above the heading pop
            # with the class-16-style innermost-first cascade — "missing
            # </x> before <hN>" in the different-tag case (the inline
            # parser's own MISSING_ENDTAG_BEFORE), plain class-7
            # "missing </x>" in the same-tag case (an END tag closing
            # over children). Optional-end-tag children close silently.
            # Same stack-wide scope limit as class 16 (tidy would close
            # the heading at the intervening BLOCK start already —
            # start-tag-triggered closes beyond headings stay
            # unmodelled, the documented family-2 residual).
            coerced_to_end = False
            if tag in _HEADINGS:
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i][0] in _HEADINGS:
                        old = stack[i][0]
                        coerced_to_end = old == tag
                        for child_fr in reversed(stack[i + 1 :]):
                            if child_fr[0] not in _OPTIONAL_END_TAGS:
                                parse_time.append(
                                    (
                                        m.start(),
                                        0,
                                        f"missing </{child_fr[0]}>"
                                        if coerced_to_end
                                        else f"missing </{child_fr[0]}> before <{tag}>",
                                    )
                                )
                        parse_time.append(
                            (
                                m.start(),
                                0,
                                f"replacing unexpected <{tag}> with </{tag}>"
                                if coerced_to_end
                                else f"missing </{old}> before <{tag}>",
                            )
                        )
                        for p in stack[:i]:
                            p[4] = True  # closed subtree = parent content
                        del stack[i:]
                        break
            if coerced_to_end:
                # the token became the old heading's END tag: no element
                # opens, and the never-created node skips the attribute
                # checks (classes 3/9) exactly like a class-6 discard
                continue
            # class 6: forms cannot nest — tidy discards the inner <form>
            # start tag (content kept), DISCARDING_UNEXPECTED; a discarded
            # node never reaches the parser's attribute checks, so its
            # proprietary/rel checks are skipped (lexer class-1 above ran)
            if tag == "form" and any(fr[0] == "form" for fr in stack):
                parse_time.append((m.start(), 0, "discarding unexpected <form>"))
                for fr in stack:
                    fr[4] = True  # the discarded tag is still content
                continue
            attr_checks.extend(proprietary)
            if tag == "link" and not has_rel:
                attr_checks.append((m.start(), '<link> lacks "rel" attribute'))
            # class 28: element-level missing-attribute reports —
            # the other attrs.c element checkers with default-config
            # warnings, in each checker's code order, AFTER the element's
            # per-attribute checks (the checker loops CheckAttribute over
            # every attribute first, exactly the class-3 CheckLINK shape).
            # CheckIMG: no alt -> MISSING_ATTRIBUTE (accessibility level 0
            # takes the classic warning path); ismap without usemap ->
            # MISSING_IMAGEMAP; no src (and no datafld databinding) ->
            # MISSING_ATTRIBUTE. CheckAREA: no alt -> MISSING_ATTRIBUTE;
            # no href and no nohref -> MISSING_ATTRIBUTE. CheckFORM: no
            # action -> MISSING_ATTRIBUTE. Presence = a kept attribute of
            # that name, valueless included (tidy's flags are set while
            # looping the lexed attvals, after duplicate repair). Checkers
            # with no default-config warning (CheckTABLE's summary only
            # sets the suppressed accessibility footer; CheckSCRIPT/
            # CheckSTYLE type warnings are doctype-gated) stay silent —
            # documented residual slivers.
            elif tag == "img":
                if "alt" not in kept:
                    attr_checks.append((m.start(), '<img> lacks "alt" attribute'))
                if "ismap" in kept and "usemap" not in kept:
                    attr_checks.append(
                        (m.start(), "<img> should use client-side image map")
                    )
                if "src" not in kept and "datafld" not in kept:
                    attr_checks.append((m.start(), '<img> lacks "src" attribute'))
            elif tag == "area":
                if "alt" not in kept:
                    attr_checks.append((m.start(), '<area> lacks "alt" attribute'))
                if "href" not in kept and "nohref" not in kept:
                    attr_checks.append((m.start(), '<area> lacks "href" attribute'))
            elif tag == "form" and "action" not in kept:
                attr_checks.append((m.start(), '<form> lacks "action" attribute'))
            for fr in stack:  # a child start tag = content for every parent
                fr[4] = True
            if tag not in _VOID_TAGS and not selfclose:
                stack.append([tag, m.start(), bool(attrs_raw.strip()), m.end(), False])
        else:
            if head_close_anchor is None and tag == "head":
                head_close_anchor = m.start()
            for i in range(len(stack) - 1, -1, -1):
                if stack[i][0] == tag:
                    fr = stack[i]
                    inner = raw_html[fr[3] : m.start()]
                    if (
                        not fr[4]
                        and not fr[2]
                        and tag not in _NO_TRIM_TAGS
                        and (not inner or inner.isspace())
                    ):
                        trims.append((fr[1], f"trimming empty <{tag}>"))
                    # class 7: the end tag closes OVER still-open children —
                    # tidy's parser pops them, warning MISSING_ENDTAG_FOR
                    # for each whose end tag the spec requires (innermost
                    # first, the pop order), anchored at the triggering
                    # end tag like the lexer's other parse-time warnings;
                    # optional-end-tag elements close silently
                    for child_fr in reversed(stack[i + 1 :]):
                        if child_fr[0] not in _OPTIONAL_END_TAGS:
                            parse_time.append(
                                (m.start(), 0, f"missing </{child_fr[0]}>")
                            )
                    for p in stack[:i]:  # closed child = content for parents
                        p[4] = True
                    del stack[i:]
                    break
            else:
                # class 11: an end tag with NO matching open element —
                # tidy's parser drops the token, DISCARDING_UNEXPECTED
                # (same message family as the nested-<form> discard),
                # anchored at the end tag
                parse_time.append((m.start(), 0, f"discarding unexpected </{tag}>"))

    # class 18 at EOF: a text run after the last tag with head still
    # open warns the same way (ParseHead gets the text token before
    # EndOfStream) — checked around the trailing-breakage flush exactly
    # like the in-loop pair, and BEFORE class 10 reads the anchor so a
    # tail-text head close anchors the title insert on the text.
    _head_text_check(n)
    _flush_broken(n + 1)  # trailing breakages still open their elements
    _head_text_check(n)

    # class 10: no <title> element anywhere — tidy's head parser inserts
    # an empty one (MISSING_TITLE_ELEMENT, "inserting missing 'title'
    # element"), reported where the (implied) head CLOSES: the first of
    # an explicit </head>, a <body> start tag, or any start tag that
    # cannot live in head; a document whose tags are all head-context
    # closes its head at EOF. Emitted only for documents containing at
    # least one element tag (same anchor precondition as class 8); at a
    # shared position it sorts after warnings appended during the pass
    # (the parser inserts the title while HANDLING that token).
    if first_tag_pos is not None and not saw_title:
        anchor = head_close_anchor if head_close_anchor is not None else n
        parse_time.append((anchor, 0, "inserting missing 'title' element"))

    # class 7 at EOF: elements still open when the document ends — tidy
    # reports missing required end tags at the end-of-file position
    for fr in reversed(stack):
        if fr[0] not in _OPTIONAL_END_TAGS:
            parse_time.append((n, 0, f"missing </{fr[0]}>"))

    # class 8: missing <!DOCTYPE> declaration — tidy's parser reports
    # MISSING_DOCTYPE when it builds the root element with no doctype
    # token lexed yet, so the warning anchors at the first element tag
    # and precedes every warning reported at the same position (the
    # parser inserts the root BEFORE handling that element's own
    # attribute/parse warnings). A doctype inside a comment doesn't
    # count (masked); one appearing after the first element came too
    # late for the check, exactly as in tidy.
    if first_tag_pos is not None and not any(
        not masked[dm.start()]
        for dm in _DOCTYPE_RE.finditer(raw_html, 0, first_tag_pos)
    ):
        parse_time.insert(0, (first_tag_pos, 0, "missing <!DOCTYPE> declaration"))

    parse_time.sort(key=lambda t: t[0])
    ordered = parse_time + [(p, 0, m) for p, m in attr_checks + trims]
    lc = _linecols([pos for pos, _off, _msg in ordered])
    out = [
        f"line {lc[pos][0]} column {lc[pos][1] + off} - Warning: {msg}"
        for pos, off, msg in ordered
    ]
    return "\n".join(out) + "\n" if out else ""


def _end_names_balance(raw_html: str) -> bool:
    """The strict pass's structural check, for a page with no fatal
    hazard. quick-xml with ``check_end_names`` rejects exactly XML-style
    ill-formedness: an end tag that doesn't match the innermost open
    element, and EOF with elements still open. We replay those conditions
    over the same tag scan tidy_diagnostics uses (comments masked; no
    HTML void-element leniency — quick-xml knows no HTML, so an unclosed
    ``<br>`` or ``<meta>`` fails strict exactly as it does upstream, which
    is why real-web pages overwhelmingly take the tidy path while clean
    XHTML passes and reports "")."""
    # Comment masking uses the SPEC spans: html5ever consumed the
    # comments (ammonia strips them) before quick-xml ever saw the page,
    # so an unterminated comment hides everything to EOF from the strict
    # replay and the abrupt forms ('<!-->'/'<!--->'/'--!>') close where
    # the spec closes them — tidy's '--\\s*>' rule belongs to the tidy
    # leg only (tidy_diagnostics keeps it).
    comment_spans = _spec_comment_spans(raw_html)
    starts = [s for s, _ in comment_spans]
    ends = [e for _, e in comment_spans]
    stack: list[str] = []
    scan = _TagScanner(raw_html)
    pos = 0
    while (m := scan.search(pos)) is not None:
        pos = m.end()
        if _in_spans(starts, ends, m.start()):
            continue
        closing, tag = m.group(1), m.group(2).lower()
        # a '/'-terminated attr blob ("<link .../>") is self-closing,
        # like quick-xml's Empty event
        selfclose = m.group(3).rstrip().endswith("/")
        if closing:
            if not stack or stack[-1] != tag:
                return False
            stack.pop()
        elif not selfclose:
            stack.append(tag)
    return not stack


def parse_html_py(raw_html: str) -> dict:
    """Parse one document → HTMLResult dict (schema above)."""
    if not raw_html:
        return empty_html_result(ok=False)
    # The three-state path steers attribute bytes, duplicate-attr
    # repair and comment termination inside the extractor, as well as
    # the html_errors trigger (tidy runs — and its stderr is captured —
    # on BOTH non-strict legs, lib.rs:196-207/240), so compute it ONCE
    # up front.
    path = parse_path(raw_html)
    strict_ok = path == "strict"
    parser = _Extractor(path=path)
    try:
        parser.feed(raw_html)
        parser.close()
    except Exception as exc:  # html.parser almost never raises, but be safe
        return empty_html_result(ok=False, html_errors=str(exc))
    # headings grouped by level, document order within a level (the soup
    # path's h1..h6 sweep, lib.rs:471-487); python's sort is stable
    headings = [t for _, t in sorted(parser.headings, key=lambda lt: lt[0])]
    return {
        "ok": True,
        # reference trigger parity: tidy diagnostics only when the strict
        # first pass fails (lib.rs:193-207); clean pages report ""
        "html_errors": "" if strict_ok else tidy_diagnostics(raw_html),
        "title": parser.title,
        "text": parser.text,
        "headings_text": headings,
        "links": parser.links,
        "resource_urls": parser.resources,
        "meta_tags": parser.meta,
    }


def parse_html_udf() -> F.Column:
    """Arrow-batched pandas UDF: raw_html string → HTMLResult struct.

    One UDF call per row; the pipeline projects all derived columns from a
    SINGLE invocation (SURVEY §4: never duplicate a Python UDF expression —
    Catalyst may re-execute it)."""
    from warcraider_spark.dist import ensure_package_on_executors
    ensure_package_on_executors()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(HTML_RESULT_SCHEMA)
    def _parse(html: pd.Series) -> pd.DataFrame:
        rows = [parse_html_py(h or "") for h in html]
        return pd.DataFrame(rows)

    return _parse
