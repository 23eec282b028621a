"""Native extraction expressions (SURVEY §2.2, §2.3, §2.5).

Every operator here is a Catalyst Column expression — regexes, header
parsing, GA extraction, whitespace quirks, word_count, link filters — kept
OUTSIDE the parse UDF on purpose (SURVEY §4: Catalyst will not hoist
predicates above a Python UDF, so cheap native filters must precede it in
plan construction).

Regex dialect note: the reference uses Rust ``regex`` where the ``U`` flag
swaps quantifier greediness; Java regex has no such flag, so every
``(?sU)…*…`` pattern is rewritten with explicit lazy quantifiers —
semantics preserved, spelled differently.

Reference citations are per-function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "HOSTNAME_PATTERN",
    "GA_ID_PATTERN",
    "hostname_from_url",
    "ga_ids",
    "ga_config",
    "http_header_block",
    "http_body",
    "parse_http_headers",
    "load_time",
    "hostname_with_override",
    "whitespace_normalize_delete",
    "whitespace_normalize_space",
    "title_fallback",
    "body_text_fallback",
    "links_fallback",
    "resources_fallback",
    "strip_quote_marks",
    "filter_link_prefixes",
    "HOSTNAME_BLACKLIST",
    "URL_BLACKLIST",
    "URL_SUBSTRING_BLACKLIST",
    "on_blacklist",
]

# --- regex extraction (main.rs:46-68) --------------------------------------

HOSTNAME_PATTERN = r"://(.*?(\.au|\.com|\.net|\.org)?)(:|/)"
GA_ID_PATTERN = r"\bUA-\d{4,10}-\d{1,4}\b|\bGTM-[A-Z0-9]{1,7}\b"
GA_CONFIG_PATTERN = r"ga\((.*?)\)"
# (?sU)<(title|TITLE).*>(.*)<  →  lazy-rewritten for Java regex
TITLE_PATTERN = r"(?s)<(?:title|TITLE).*?>(.*?)<"
BODY_PATTERN = r"(?s)<(?:body|BODY).*>(.*)"
SCRIPT_STYLE_PATTERN = r"(?s)<(?:script|SCRIPT|style|STYLE).*?>.*?</(?:script|SCRIPT|style|STYLE).*?>"
TAG_PATTERN = r"(?s)</*.*?>"
# Java's (?U) = UNICODE_CHARACTER_CLASS, which makes \s the Unicode
# White_Space property — exactly Rust regex's default \s (main.rs:65-68
# compiles these with \s Unicode). NOT the same flag letter as Rust's
# (?U), which means swap-greediness; the lazy quantifiers here already
# encode that rewrite. Without (?U), Java \s is ASCII-only and an
# attribute separated by U+3000/NBSP never matches (r11 fix; the last
# wrong-vs-reference whitespace class, COVERAGE.md §2.3).
LINK_PATTERN = r"""(?sU)\s+(?:[^>]*?\s+)?href=["'](.*?)["']"""
RESOURCE_PATTERN = r"""(?sU)\s+(?:[^>]*?\s+)?src=["'](.*?)["']"""
QUOTE_MARKS_PATTERN = "'|“|\"|&quot;|%\\d\\d$"
# main.rs:54 `(\s|\\n){2,}` — Rust \s = Unicode White_Space, so a run of
# two U+3000/NBSP is deleted by the reference; Java needs (?U) for the
# same class. The DuckDB oracle twin spells the set explicitly
# ([\s\x0B\p{Zs}\x{0085}\x{2028}\x{2029}] — RE2 \s is ASCII-minus-VT);
# codepoint-exactness of all three is pinned in
# tests/test_engine_unicode_parity.py.
WHITESPACE_RUN_PATTERN = r"(?U)(\s|\\n){2,}"


def hostname_from_url(url: Column | str) -> Column:
    """First capture of the hostname regex over the URL; '' if no match
    (main.rs:51-52, 245-248 — note the deliberate .au/.com/.net/.org bias)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, HOSTNAME_PATTERN, 1)


def ga_ids(raw_html: Column | str) -> Column:
    """All UA-/GTM- Google Analytics ids in the raw HTML (main.rs:46-47,
    344-355)."""
    c = F.col(raw_html) if isinstance(raw_html, str) else raw_html
    return F.regexp_extract_all(c, F.lit(GA_ID_PATTERN), 0)


def ga_config(raw_html: Column | str) -> Column:
    """ga(...) call arguments minus plain pageview sends (main.rs:49,
    356-375: drops '\"send\", \"pageview\"' in both quote styles)."""
    c = F.col(raw_html) if isinstance(raw_html, str) else raw_html
    captures = F.regexp_extract_all(c, F.lit(GA_CONFIG_PATTERN), 1)
    return F.filter(
        captures,
        lambda x: ~x.isin('"send", "pageview"', "'send', 'pageview'"),
    )


# --- HTTP header/body split + parse (main.rs:304-341) ----------------------


def http_header_block(content: Column | str) -> Column:
    """parts[0] of the '\\n\\r\\n' split (main.rs:304)."""
    c = F.col(content) if isinstance(content, str) else content
    return F.element_at(F.split(c, r"\n\r\n"), 1)


def http_body(content: Column | str) -> Column:
    """parts[1..] joined with ' ' (main.rs:342)."""
    c = F.col(content) if isinstance(content, str) else content
    parts = F.split(c, r"\n\r\n")
    return F.array_join(F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))), " ")


def parse_http_headers(header_block: Column) -> Column:
    """Header lines → map. Exact reference semantics (main.rs:306-315):
    skip empty and HTTP/ lines; only lines containing ': '; value is
    parts[1] of the split — anything after a SECOND ': ' is dropped
    (quirk preserved); duplicate keys last-wins (needs
    spark.sql.mapKeyDedupPolicy=LAST_WIN, set by session.get_spark)."""
    lines = F.filter(
        F.split(header_block, "\n"),
        lambda l: (l != "") & ~l.startswith("HTTP/") & l.contains(": "),
    )
    entries = F.transform(
        lines,
        lambda l: F.struct(
            F.element_at(F.split(l, ": "), 1).alias("key"),
            F.element_at(F.split(l, ": "), 2).alias("value"),
        ),
    )
    return F.map_from_entries(entries)


def load_time(headers: Column) -> Column:
    """headers['X-Funnelback-Total-Request-Time-MS'] as float/1000, 0.0 on
    absent/unparseable (main.rs:316-325). Kept float32 to match the
    reference's f32 parse."""
    ms = F.element_at(headers, F.lit("X-Funnelback-Total-Request-Time-MS")).try_cast("float")
    return (F.coalesce(ms, F.lit(0.0).cast("float")) / F.lit(1000.0).cast("float")).cast("float")


def hostname_with_override(headers: Column, regex_hostname: Column) -> Column:
    """headers['X-Funnelback-AA-Domain'] else the regex hostname
    (main.rs:326-332)."""
    return F.coalesce(F.element_at(headers, F.lit("X-Funnelback-AA-Domain")), regex_hostname)


# --- whitespace quirks (main.rs:54, 383-386, 425-427) ----------------------


def whitespace_normalize_delete(text: Column | str) -> Column:
    """Success-path quirk: whitespace runs of ≥2 are DELETED (replaced with
    ''), concatenating neighbors (main.rs:383-386). Preserved deliberately
    for reference parity; see whitespace_normalize_space for the sane mode."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, WHITESPACE_RUN_PATTERN, "")


def whitespace_normalize_space(text: Column | str) -> Column:
    """Fallback-path variant: runs collapse to a single space
    (main.rs:425-427)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, WHITESPACE_RUN_PATTERN, " ")


# --- regex-fallback HTML extraction (main.rs:417-465) ----------------------


def title_fallback(raw_html: Column | str) -> Column:
    c = F.col(raw_html) if isinstance(raw_html, str) else raw_html
    return F.regexp_extract(c, TITLE_PATTERN, 1)


def body_text_fallback(raw_html: Column | str) -> Column:
    """Regex fallback body text (main.rs:417-430). Quirk preserved: the
    reference takes capture GROUP 0 — everything from '<body' to the end of
    the document — not the inner group (caps.get(0) at main.rs:420), then
    strips script/style blocks, strips all tags, collapses whitespace."""
    c = F.col(raw_html) if isinstance(raw_html, str) else raw_html
    body = F.regexp_extract(c, BODY_PATTERN, 0)
    no_scripts = F.regexp_replace(body, SCRIPT_STYLE_PATTERN, "")
    no_tags = F.regexp_replace(no_scripts, TAG_PATTERN, "")
    return whitespace_normalize_space(no_tags)


def links_fallback(raw_html: Column | str) -> Column:
    c = F.col(raw_html) if isinstance(raw_html, str) else raw_html
    return F.regexp_extract_all(c, F.lit(LINK_PATTERN), 1)


def resources_fallback(raw_html: Column | str) -> Column:
    c = F.col(raw_html) if isinstance(raw_html, str) else raw_html
    return F.regexp_extract_all(c, F.lit(RESOURCE_PATTERN), 1)


def strip_quote_marks(urls: Column) -> Column:
    """Remove ' “ " &quot; and trailing %dd from each URL (lib.rs:59, 410)."""
    return F.transform(urls, lambda u: F.regexp_replace(u, QUOTE_MARKS_PATTERN, ""))


def filter_link_prefixes(links: Column) -> Column:
    """Drop hrefs starting with '_' or '#' (lib.rs:293-299)."""
    return F.filter(links, lambda x: ~(x.startswith("_") | x.startswith("#")))


# --- blacklist (blacklist.rs:1-58) -----------------------------------------

HOSTNAME_BLACKLIST: tuple[str, ...] = (
    "insolvencynotices.asic.gov.au",
    "data.gov.au",
    "trove.nla.gov.au",
    "data.aad.gov.au",
    "www.trove.nla.gov.au",
    "epubs.aims.gov.au",
    "services.aad.gov.au",
    "results.aec.gov.au",
    "periodicdisclosures.aec.gov.au",
    "transcribe.naa.gov.au",
    "bookshop.nla.gov.au",
    "recordsearch.naa.gov.au",
    "library.nma.gov.au",
    "abr.business.gov.au",
    "collections.anmm.gov.au",
    "elibrary.gbrmpa.gov.au",
    "channelfinder.acma.gov.au",
    "vrroom.naa.gov.au",
    "www.tenders.gov.au",
    "dmzapp17p.ris.environment.gov.au",
    "discoveringanzacs.naa.gov.au",
    "neats.nopta.gov.au",
    "soda.naa.gov.au",
    "stat.data.abs.gov.au",
    "store.anmm.gov.au",
    "toiletmap.gov.au",
    "training.gov.au",
    "wels.agriculture.gov.au",
    "www.padil.gov.au",
    "www.screenaustralia.gov.au",
    "edit.acnc.gov.au",
    "ifp.mychild.gov.au",
    "printsandprintmaking.gov.au",
    "link.aiatsis.gov.au",
)

URL_BLACKLIST: tuple[str, ...] = (
    "http://www.nepc.gov.au/system/files/resources/45fee0f3-1266-a944-91d7-3b98439de8f8/files/dve-prepwk-project2-1-diesel-complex-cuedc.xls",
    "https://www.ncver.edu.au/__data/assets/word_doc/0013/3046/2221s.doc",
    "https://www.acma.gov.au/-/media/Broadcast-Carriage-Policy/Information/Word-document/reg_qld-planning_data-docx.docx?la=en",
    "https://www.acma.gov.au/-/media/Broadcasting-Spectrum-Planning/Information/Word-Document-Digital-TV/Planning-data-Regional-Queensland-TV1.docx?la=en",
    "https://beta.dva.gov.au/sites/default/files/files/providers/vendor/medvendor1sept2015.xls",
    "https://www.ppsr.gov.au/sites/g/files/net3626/f/B2G%20Interface%20Specification%20R4.doc",
    "http://guides.dss.gov.au/sites/default/files/2003_ABSTUDY_Policy_Manual.docx",
    "http://www.nepc.gov.au/system/files/resources/45fee0f3-1266-a944-91d7-3b98439de8f8/files/dve-prepwk-project2-1-diesel-complex-simp-cuedc.xls",
)

URL_SUBSTRING_BLACKLIST: tuple[str, ...] = (
    "ca91-4-xd",
    "sbs.com.au/ondemand",
    "sbs.com.au/news",
    "abc.net.au/news",
)


def on_blacklist(hostname: Column, url: Column) -> Column:
    """True when the record must be dropped (blacklist.rs:52-57): an exact
    hostname or URL match, or a URL containing one of the substrings
    (case-sensitive). Literal isin/contains, evaluated in the scan's map
    stage before any decompression; a blacklist too large to inline as
    literals would need a join against a blacklist table instead."""
    cond = hostname.isin(*HOSTNAME_BLACKLIST) | url.isin(*URL_BLACKLIST)
    for sub in URL_SUBSTRING_BLACKLIST:
        cond = cond | url.contains(sub)
    return cond
