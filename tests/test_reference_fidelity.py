"""Reference-fidelity goldens (SURVEY §5 test plan #1, FIXTURES B3-B5).

The moneysmart golden compares our single-parser output against the
reference's own insta snapshot for the fields FIXTURES B3 declares
comparable (title, links, meta_tags, headings presence) — including, as
of round 3, the full tidy-stderr html_errors CONTENT byte-for-byte
(functions.html.tidy_diagnostics reproduces the subprocess's message
text, phase ordering, and tab-expanded line/column accounting).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from warcraider_spark.functions.html import parse_html_py
from warcraider_spark.functions.rake import rake_text
from warcraider_spark.functions.urls import make_urls_absolute, root_domain

REF = Path("/root/reference/tests")

# One countable skip reason for every test that needs a reference-tree file
# (the moneysmart page and its insta snapshots are not part of this repo).
REF_ABSENT = "reference tree absent: moneysmart golden and insta snapshots not exercised"


def ref_file(*parts: str) -> Path:
    """Path of a file in the reference tree's tests/ directory. Skips the
    calling test (or fixture) with REF_ABSENT when the file is missing,
    so the gap shows in the skip count instead of as errors."""
    path = REF.joinpath(*parts)
    if not path.is_file():
        pytest.skip(REF_ABSENT)
    return path


def _load_snapshot_json() -> dict:
    raw = ref_file("snapshots", "tests__html_parser_snapshots.snap").read_text()
    # insta snapshot = yaml front matter + a JSON-ish payload
    payload = raw.split("---\n", 2)[2]
    return json.loads(payload)


@pytest.fixture(scope="module")
def golden() -> dict:
    return _load_snapshot_json()


@pytest.fixture(scope="module")
def parsed() -> dict:
    html = ref_file("moneysmart.htm").read_text(errors="replace")
    return parse_html_py(html)


def test_moneysmart_title(parsed, golden):
    # the reference title came through tidy (whitespace re-wrapped); compare
    # whitespace-normalized
    norm = lambda s: re.sub(r"\s+", " ", s).strip()
    assert norm(parsed["title"]) == norm(golden["title"])


def test_moneysmart_links(parsed, golden):
    # links are raw hrefs in document order, duplicates preserved
    assert parsed["links"] == golden["links"]


def test_moneysmart_meta_tags(parsed, golden):
    # snap2 lines are "key:value" where the KEY itself may contain ':'
    # (og:title) — compare by reconstructing "k:v" strings instead
    snap2 = ref_file("snapshots", "tests__html_parser_snapshots-2.snap").read_text()
    entries = set(re.findall(r'^\s+"(.+)",$', snap2, flags=re.M))
    entries = {e.replace("\\'", "'").replace('\\"', '"') for e in entries}
    ours = {f"{k}:{v}" for k, v in parsed["meta_tags"].items()}
    assert ours == entries


def test_moneysmart_resources(parsed, golden):
    # strict parser collects script/style/link src|href; order-insensitive
    # compare because tidy reorders head elements
    assert sorted(set(parsed["resource_urls"])) == sorted(set(golden["resource_urls"]))


def test_moneysmart_headings(parsed, golden):
    # golden = ONE string: headings swept h1→h6 joined with "\n "
    # (soup path, lib.rs:471-487); whitespace-normalized compare because
    # the golden text passed through tidy's re-wrapping
    norm = lambda s: re.sub(r"\s+", " ", s).strip()
    assert norm("\n ".join(parsed["headings_text"])) == norm(golden["headings_text"][0])


def test_moneysmart_ok_flag(parsed):
    assert parsed["ok"] is True
    assert isinstance(parsed["html_errors"], str)


def test_moneysmart_html_errors_content(parsed, golden):
    # FULL tidy-stderr parity: all 217 warnings — 9 repeated-attribute
    # drops, 12 CDATA bad-close, 1 link-lacks-rel, 195 empty-<ul> trims —
    # with tidy's exact message text, phase order, and tab-expanded
    # line/column numbers (lib.rs:206,240; golden snapshot field)
    assert parsed["html_errors"] == golden["html_errors"]


# --- tidy_diagnostics unit coverage (each warning class in isolation) ------


def test_tidy_diag_clean_and_empty():
    from warcraider_spark.functions.html import tidy_diagnostics

    assert tidy_diagnostics("") == ""
    assert tidy_diagnostics("<!DOCTYPE html><title>t</title>\n<p>hello</p>") == ""
    # attributes exempt an empty element from trimming (tidy CanPrune)
    assert tidy_diagnostics('<!DOCTYPE html><title>t</title>\n<ul class="menu"></ul>') == ""


def test_tidy_diag_repeated_attribute():
    from warcraider_spark.functions.html import tidy_diagnostics

    out = tidy_diagnostics('<!DOCTYPE html><title>t</title>\n<img src="a" src="b">')
    assert out == (
        'line 2 column 1 - Warning: <img> dropping value "a" '
        'for repeated attribute "src"\n'
        # r11 class 28: CheckIMG reports the missing alt in the
        # attribute-check phase (real tidy emits both lines here)
        'line 2 column 1 - Warning: <img> lacks "alt" attribute\n'
    )


def test_tidy_diag_cdata_badclose_and_own_close_ok():
    from warcraider_spark.functions.html import tidy_diagnostics

    # </b inside script content warns; the matching </script does not
    # '<' of </b at column 19; tidy reports col('<') + len(name) = 20
    out = tidy_diagnostics("<!DOCTYPE html><title>t</title>\n<script>var s = 'x</b>';</script>")
    assert out == "line 2 column 20 - Warning: '<' + '/' + letter not allowed here\n"
    assert tidy_diagnostics("<!DOCTYPE html><title>t</title>\n<script>var x = 1;</script>") == ""


def test_tidy_diag_link_lacks_rel_and_trim_order():
    from warcraider_spark.functions.html import tidy_diagnostics

    # trims report after attribute checks, both after parse-time warnings
    html = '<!DOCTYPE html><title>t</title>\n<link href="a.css">\n<ul>\n</ul>\n<img src="x" src="x">'
    out = tidy_diagnostics(html)
    assert out.split("\n")[:-1] == [
        'line 5 column 1 - Warning: <img> dropping value "x" '
        'for repeated attribute "src"',
        'line 2 column 1 - Warning: <link> lacks "rel" attribute',
        # r11 class 28: the img's missing alt joins the attribute-check
        # phase in document order (link line 2 before img line 5)
        'line 5 column 1 - Warning: <img> lacks "alt" attribute',
        "line 3 column 1 - Warning: trimming empty <ul>",
    ]


def test_tidy_diag_tab_columns():
    from warcraider_spark.functions.html import tidy_diagnostics

    # tab advances to the next multiple-of-8 stop: <ul> lands at column 9
    assert tidy_diagnostics("<!DOCTYPE html><title>t</title>\n\t<ul></ul>") == (
        "line 2 column 9 - Warning: trimming empty <ul>\n"
    )


# --- FIXTURES B4: make_urls_absolute unit tests ported verbatim ------------


def test_make_urls_absolute():
    result = make_urls_absolute("http://example.com", ["/index.htm", "http://google.com"])
    assert result == ["http://example.com/index.htm", "http://google.com/"]


def test_make_urls_absolute_trailing_quote():
    result = make_urls_absolute(
        "http://example.com",
        ["/index.htm", "/index.htm'", '/index.htm"', "/index.htm&quot;", "/index.htm%20", "/notindex.htm"],
    )
    assert result == ["http://example.com/index.htm", "http://example.com/notindex.htm"]


def test_root_domain():
    assert root_domain("www.moneysmart.gov.au") == "moneysmart.gov.au"
    assert root_domain("data.gov.au") == "data.gov.au"
    assert root_domain("example.com") == "example.com"
    assert root_domain("sub.example.com") == "example.com"
    assert root_domain("") == ""
    # extended embedded PSL subset (exotic ccTLD second-level registries)
    assert root_domain("foo.bar.co.jp") == "bar.co.jp"
    assert root_domain("x.y.gov.br") == "y.gov.br"
    assert root_domain("a.schools.nsw.au") == "schools.nsw.au"
    assert root_domain("a.b.example.dev") == "example.dev"


# --- FIXTURES B5: RAKE micro-fixtures --------------------------------------


def test_rake_micro():
    assert rake_text("deep learning of deep networks") == {
        "deep learning": 4.0,
        "deep networks": 4.0,
    }


def test_rake_punctuation_split():
    # comma splits phrases; hyphen does NOT ([^\P{P}-]); spaced hyphen does
    kws = rake_text("machine learning, deep-dive analysis - good stuff")
    assert "machine learning" in kws
    assert "deep-dive analysis" in kws
    assert "good stuff" in kws


def test_rake_number_exclusion():
    # number tokens excluded from scoring but kept in the keyword text
    kws = rake_text("alpha 42 beta")
    assert kws == {"alpha 42 beta": 4.0}  # alpha,beta: freq 1, degree 1 each


def test_rake_last_wins_duplicate():
    kws = rake_text("alpha beta. alpha beta")
    # same phrase twice: freq 2 each, degree 2 each → word score 2 → phrase 4
    assert kws == {"alpha beta": 4.0}


def test_rake_empty():
    assert rake_text("") == {}


def test_tidy_diag_edge_cases():
    from warcraider_spark.functions.html import tidy_diagnostics as td

    # comments are masked — tags inside never parse
    assert td("<!-- <ul></ul> -->") == ""
    # style is CDATA too, case-insensitive; col = col('<') + len(name)
    assert td("<!DOCTYPE html><title>t</title>\n<STYLE>a { content: '</b>' }</STYLE>") == (
        "line 2 column 23 - Warning: '<' + '/' + letter not allowed here\n"
    )
    # a self-closed <ul/> is not an empty open/close pair
    assert td("<!DOCTYPE html><title>t</title>\n<ul/>") == ""
    # an element with a child is never trimmed; a nested empty leaf is
    assert td("<!DOCTYPE html><title>t</title>\n<ul><li>x</li></ul>") == ""
    assert td("<!DOCTYPE html><title>t</title>\n<ul><ul></ul></ul>") == (
        "line 2 column 5 - Warning: trimming empty <ul>\n"
    )
    # attribute values may contain '<' without starting a tag (alt is a
    # dictionary attribute, so no class-9 noise rides along)
    assert td("<!DOCTYPE html><title>t</title>\n<p alt='a<b' alt='c'>") == (
        'line 2 column 1 - Warning: <p> dropping value "a<b" '
        'for repeated attribute "alt"\n'
    )
    # script-own close is fine even when the open tag has attributes
    assert td("<!DOCTYPE html><title>t</title>\n<script src='x'>var a='</i>';</script>") == (
        "line 2 column 25 - Warning: '<' + '/' + letter not allowed here\n"
    )


# --- strict-parse trigger parity (lib.rs:193-207; VERDICT r3 #5) ----------


def test_strict_pass_suppresses_diagnostics():
    """A page the strict first pass accepts reports html_errors == ""
    even when tidy-level warnings exist — tidy never runs upstream."""
    from warcraider_spark.functions.html import parse_html_py, strict_parse_ok

    # well-formed XHTML-style page carrying a tidy-class warning
    # (<link> lacks rel) — strict parse succeeds, so NO diagnostics
    clean = (
        "<html><head><title>t</title><link href=\"a.css\"/></head>"
        "<body><p>hello</p><ul></ul></body></html>"
    )
    assert strict_parse_ok(clean)
    assert parse_html_py(clean)["html_errors"] == ""


def test_strict_fail_paths_emit_diagnostics():
    from warcraider_spark.functions.html import parse_html_py, strict_parse_ok

    # mismatched end tag
    assert not strict_parse_ok("<html><p>x</div></html>")
    # EOF with open elements (HTML void style — quick-xml knows no voids)
    assert not strict_parse_ok("<html><body><br><ul></ul></body></html>")
    # the diagnostics themselves still flow for a failing page
    bad = "<html><body><br><ul></ul></body></html>"
    assert "trimming empty <ul>" in parse_html_py(bad)["html_errors"]
    # comments don't confuse the strict scan
    assert strict_parse_ok("<html><!-- <p> --><body><p>x</p></body></html>")


def test_moneysmart_fails_strict():
    """The golden page must keep taking the tidy path (real-web HTML
    with unclosed voids always fails the strict first pass)."""
    from warcraider_spark.functions.html import strict_parse_ok

    html = ref_file("moneysmart.htm").read_text(errors="replace")
    assert not strict_parse_ok(html)


# --- adversarial golden #2 (VERDICT r5 #5): classes beyond moneysmart -----

ADVERSARIAL_HTML = """<html>
<body>
<form action="/search" method=get>
<input name=q>
<form action="/inner">
<input name=r>
</form>
<a href="/broken>dangling</a>
<div class="x" class="y">dup</div>
<span></span>
</form>
</body>
</html>"""


def test_adversarial_golden_strict_fails():
    """The page must take the tidy path: the dangling-quote anchor makes
    the strict first pass fail (lib.rs:193-207 trigger condition)."""
    from warcraider_spark.functions.html import strict_parse_ok

    assert strict_parse_ok(ADVERSARIAL_HTML) is False


def test_adversarial_golden_html_errors():
    """Second html_errors golden: a strict-parse-failing page exercising
    the r6-r7 catalog classes absent from moneysmart — missing doctype
    (class 8), missing-quote attribute recovery (class 5) and nested-form
    discard (class 6) — interleaved with a repeated-attribute drop
    (class 1) and an empty-element trim (class 4), pinning cross-class
    phase ordering: parse-time
    warnings in document order first, trims last."""
    from warcraider_spark.functions.html import tidy_diagnostics

    assert tidy_diagnostics(ADVERSARIAL_HTML) == (
        "line 1 column 1 - Warning: missing <!DOCTYPE> declaration\n"
        "line 2 column 1 - Warning: inserting missing 'title' element\n"
        "line 5 column 1 - Warning: discarding unexpected <form>\n"
        "line 8 column 1 - Warning: <a> attribute with missing trailing quote mark\n"
        'line 9 column 1 - Warning: <div> dropping value "x" for repeated attribute "class"\n'
        "line 11 column 1 - Warning: discarding unexpected </form>\n"
        "line 10 column 1 - Warning: trimming empty <span>\n"
    )


def test_missing_doctype_cases():
    """Class-8 unit coverage (VERDICT r6 'What's missing' #3, the doctype
    check): no doctype token before the first element tag warns, anchored
    at that tag and ordered BEFORE any same-position warning (the parser
    inserts the root before handling the element's own warnings); the
    doctype keyword is case-insensitive; a commented-out doctype doesn't
    count; a doctype after the first element is too late; tagless
    documents emit nothing (documented divergence)."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    doc = "line 1 column 1 - Warning: missing <!DOCTYPE> declaration\n"
    # a trailing <title> keeps class-10 out of the class-8 fixtures
    assert td("<p>hello</p><title>t</title>") == doc
    assert td("<!doctype HTML><p>x</p><title>t</title>") == ""  # case-insensitive
    # ordering at the SAME anchor: doctype precedes the lexer warning
    assert td('<img src="a" src="b"><title>t</title>') == (
        doc
        + 'line 1 column 1 - Warning: <img> dropping value "a" '
        'for repeated attribute "src"\n'
        'line 1 column 1 - Warning: <img> lacks "alt" attribute\n'
    )
    # with NO title either, the class-10 insert lands at the same anchor
    # (the head closes at the first body-content tag) AFTER the doctype
    # and the element's own lexer warning — the parser inserts the title
    # while handling that token
    assert td('<img src="a" src="b">') == (
        doc
        + 'line 1 column 1 - Warning: <img> dropping value "a" '
        'for repeated attribute "src"\n'
        "line 1 column 1 - Warning: inserting missing 'title' element\n"
        'line 1 column 1 - Warning: <img> lacks "alt" attribute\n'
    )
    # anchored at the first element tag, tab-expanded column accounting
    assert td("\t<ul></ul><title>t</title>") == (
        "line 1 column 9 - Warning: missing <!DOCTYPE> declaration\n"
        "line 1 column 9 - Warning: trimming empty <ul>\n"
    )
    # a doctype inside a comment is masked — still missing
    assert td("<!-- <!DOCTYPE html> --><p>x</p><title>t</title>") == (
        "line 1 column 25 - Warning: missing <!DOCTYPE> declaration\n"
    )
    # leading comment before a real doctype is fine
    assert td("<!-- c -->\n<!DOCTYPE html><p>x</p><title>t</title>") == ""
    # after the first element is too late (tidy would also discard it)
    assert td("<p>x</p><!DOCTYPE html><title>t</title>") == doc
    # tagless / comment-only documents: no element, no class-8 anchor
    assert td("just text, no tags") == ""
    assert td("<!-- c -->") == ""


def test_missing_quote_recovery_cases():
    """Class-5 unit coverage (r7 semantics = tidy ParseValue): closed
    values never warn even when they contain '<', '>' or a NEWLINE
    (values may span lines — ADVICE r6 #1 killed the EOL trigger);
    '</' before the closing quote and unterminated-at-EOF both warn;
    the warning anchors at the element's '<'."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    assert td("<!DOCTYPE html><title>t</title>\n<a href='ok'>x</a>") == ""
    assert td("<!DOCTYPE html><title>t</title>\n<p title='a<b'>x</p>") == ""
    assert td("<!DOCTYPE html><title>t</title>\n<p title='a>b'>x</p>") == ""
    # legitimate multi-line quoted value: no spurious warning (r7 fix)
    assert td('<!DOCTYPE html><title>t</title>\n<p title="a\nb">x</p>') == ""
    assert (
        td('<!DOCTYPE html><title>t</title>\n<a href="broken>\n</a>')
        == "line 2 column 1 - Warning: <a> attribute with missing trailing quote mark\n"
    )
    assert (
        td('<!DOCTYPE html><title>t</title>\n<img src="eof')
        == "line 2 column 1 - Warning: <img> attribute with missing trailing quote mark\n"
    )


def test_missing_quote_post_breakage_recovery():
    """After a class-5 breakage the tag pass resumes at the interrupting
    '</' (ADVICE r6 #1): a later paired quote must not swallow subsequent
    real tags into one pseudo-tag — the repeated-attribute drop on the
    tag AFTER the broken one still fires, at its own position."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    # r8: the hidden broken <a> (no pseudo-tag forms — odd quote count)
    # still opens its element; r11 (class 23): the <div> block start
    # implies closing it right there (missing </a> before <div>) instead
    # of the old EOF-anchored plain class-7 report
    assert td('<!DOCTYPE html><title>t</title>\n<a href="broken>\n<div class="x" class="y">dup</div>') == (
        "line 2 column 1 - Warning: <a> attribute with missing trailing quote mark\n"
        'line 3 column 1 - Warning: <div> dropping value "x" '
        'for repeated attribute "class"\n'
        "line 3 column 1 - Warning: missing </a> before <div>\n"
    )
    # pairing that would swallow <b>bold</b> into the <a> pseudo-tag:
    # the value ends at '</b' (tidy keeps the bare '<b>' as value text),
    # and the x="1" x="2" garbage after the breakage stays unlexed.
    # ADVICE r7 #4: the broken <a> still OPENS its element (tidy's
    # ParseValue emits the token and the parser inserts the node), so
    # with no matching </a> it is reported missing at EOF (class 7).
    assert td('<!DOCTYPE html><title>t</title>\n<a href="broken>\n<b>bold</b> done" x="1" x="2">tail') == (
        "line 2 column 1 - Warning: <a> attribute with missing trailing quote mark\n"
        "line 3 column 8 - Warning: discarding unexpected </b>\n"
        "line 3 column 35 - Warning: missing </a>\n"
    )


def test_nested_form_attributes_still_lexed():
    """Class-1/class-6 interaction (ADVICE r6 #2): tidy lexes attributes
    before the parser discards a nested <form>, so the repeated-attribute
    drop fires first, then the discard, both at the inner form's '<'."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    assert td('<!DOCTYPE html><title>t</title>\n<form><form a="1" a="2"><input></form></form>') == (
        'line 2 column 7 - Warning: <form> dropping value "1" '
        'for repeated attribute "a"\n'
        "line 2 column 7 - Warning: discarding unexpected <form>\n"
        "line 2 column 39 - Warning: discarding unexpected </form>\n"
        # r11 class 28: the OUTER form reaches CheckFORM (no action);
        # the discarded inner form never does — tidy's discard happens
        # before the parser's attribute checks
        'line 2 column 1 - Warning: <form> lacks "action" attribute\n'
    )


def test_missing_end_tag_cases():
    """Class-7 unit coverage (VERDICT r6 #4): required-end-tag elements
    closed implicitly warn — by an ancestor's end tag (anchored there,
    innermost first) or by EOF (anchored at end-of-document); optional-
    end-tag elements (li, p, td …) close silently per the HTML spec."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    # closed over by the ancestor's end tag, innermost popped first
    assert td("<!DOCTYPE html><title>t</title>\n<div><span><b>x</div>") == (
        "line 2 column 16 - Warning: missing </b>\n"
        "line 2 column 16 - Warning: missing </span>\n"
    )
    # EOF leaves required elements open (div requires; body is optional)
    assert td("<!DOCTYPE html><title>t</title>\n<body><div><span>x") == (
        "line 2 column 19 - Warning: missing </span>\n"
        "line 2 column 19 - Warning: missing </div>\n"
    )
    # optional-end-tag elements: silent implied close, no warning
    assert td("<!DOCTYPE html><title>t</title>\n<ul><li>a<li>b</ul>") == ""
    assert td("<!DOCTYPE html><title>t</title>\n<table><tr><td>x</table>") == ""


def test_nested_form_discard_cases():
    """Class-6 unit coverage: the inner <form> start is discarded (its
    content survives as the outer form's content — no spurious trim of
    the outer form), sibling forms are legal, triple nesting warns once
    per discarded tag."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    # fixtures carry action= so CheckFORM (r11 class 28) stays silent and
    # the assertions pin class 6 alone
    assert td('<!DOCTYPE html><title>t</title>\n<form action="/a"><input></form><form action="/b"><input></form>') == ""
    # r8: the discarded inner <form> leaves its own </form> unmatched —
    # tidy discards that too (class 11)
    assert td('<!DOCTYPE html><title>t</title>\n<form action="/a"><form><input></form></form>') == (
        "line 2 column 19 - Warning: discarding unexpected <form>\n"
        "line 2 column 39 - Warning: discarding unexpected </form>\n"
    )
    assert td('<!DOCTYPE html><title>t</title>\n<form action="/a"><form><form></form></form></form>') == (
        "line 2 column 19 - Warning: discarding unexpected <form>\n"
        "line 2 column 25 - Warning: discarding unexpected <form>\n"
        "line 2 column 38 - Warning: discarding unexpected </form>\n"
        "line 2 column 45 - Warning: discarding unexpected </form>\n"
    )


# --- adversarial golden #3 (VERDICT r7 #4): proprietary attrs + title ------

PROPRIETARY_HTML = """<html>
<head>
<link href="/x.css" fancy="1">
<meta charset="utf-8">
</head>
<body>
<div data-x="1" aria-label="ok" frobnicate="3">content</div>
<span onclick="f()" glow>shiny</span>
<img src="a.png" badattr>
</body>
</html>"""


def test_proprietary_golden_strict_fails():
    """The page must take the tidy path: the unclosed void <meta>/<link>
    make the strict XML-style first pass fail (lib.rs:193-207 trigger)."""
    from warcraider_spark.functions.html import strict_parse_ok

    assert strict_parse_ok(PROPRIETARY_HTML) is False


def test_proprietary_golden_html_errors():
    """Third html_errors golden pinning the r8 catalog classes byte-exact:
    proprietary attributes (class 9 — dictionary families data-*/aria-*
    and known event handlers stay silent) and the missing-'title' insert
    (class 10 — anchored at the explicit </head>), interleaved with a
    link-lacks-rel (class 3) on the SAME element as a class-9 to pin the
    per-attribute-before-element-check order, and the class-8 doctype.
    Phase order: parse-time (8, 10) in document order, then attribute
    checks (9 then 3 per element, elements in document order)."""
    from warcraider_spark.functions.html import tidy_diagnostics

    assert tidy_diagnostics(PROPRIETARY_HTML) == (
        "line 1 column 1 - Warning: missing <!DOCTYPE> declaration\n"
        "line 5 column 1 - Warning: inserting missing 'title' element\n"
        'line 3 column 1 - Warning: <link> proprietary attribute "fancy"\n'
        'line 3 column 1 - Warning: <link> lacks "rel" attribute\n'
        'line 7 column 1 - Warning: <div> proprietary attribute "frobnicate"\n'
        'line 8 column 1 - Warning: <span> proprietary attribute "glow"\n'
        'line 9 column 1 - Warning: <img> proprietary attribute "badattr"\n'
        # r11 class 28: the alt-less img's element check runs after its
        # own per-attribute (class-9) checks — CheckIMG's code order
        'line 9 column 1 - Warning: <img> lacks "alt" attribute\n'
    )


def test_proprietary_attribute_cases():
    """Class-9 unit coverage: dictionary attrs, data-*/aria-*/xml*
    families, and known on* handlers never warn; unknown names warn once
    per KEPT attribute (a lexer-dropped repeat doesn't double-report);
    a class-6-discarded nested <form> skips attribute checks."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    assert td(pre + '<div class="a" data-foo="1" aria-x="2" onclick="f()">x</div>') == ""
    assert td(pre + '<div xmlns:svg="u" xml:lang="en">x</div>') == ""
    assert td(pre + '<div zap="1">x</div>') == (
        'line 2 column 1 - Warning: <div> proprietary attribute "zap"\n'
    )
    # repeated unknown attribute: one class-1 lexer drop + ONE class-9
    assert td(pre + '<div zap="1" zap="2">x</div>') == (
        'line 2 column 1 - Warning: <div> dropping value "1" '
        'for repeated attribute "zap"\n'
        'line 2 column 1 - Warning: <div> proprietary attribute "zap"\n'
    )
    # discarded nested <form> never reaches the attribute checks (its
    # orphaned </form> is a class-11 discard; the zap never warns); the
    # OUTER action-less form reaches CheckFORM (r11 class 28)
    assert td(pre + '<form><form zap="1"><input></form></form>') == (
        "line 2 column 7 - Warning: discarding unexpected <form>\n"
        "line 2 column 35 - Warning: discarding unexpected </form>\n"
        'line 2 column 1 - Warning: <form> lacks "action" attribute\n'
    )


def test_missing_title_cases():
    """Class-10 unit coverage: the insert anchors at the FIRST of an
    explicit </head>, a <body> start tag, or a non-head-context start
    tag; all-head-context documents close the head at EOF; any
    well-formed <title> suppresses it; tagless documents emit nothing."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    ttl = "Warning: inserting missing 'title' element\n"
    pre = "<!DOCTYPE html>"
    # explicit </head> wins even with a <body> after it
    assert td(pre + "\n<head></head>\n<body>x</body>") == (
        "line 2 column 7 - " + ttl
    )
    # no </head>: the <body> start tag anchors
    assert td(pre + "\n<body><p>x</p></body>") == ("line 2 column 1 - " + ttl)
    # neither: the first non-head-context start tag anchors
    assert td(pre + '\n<meta charset="u">\n<p>x</p>') == ("line 3 column 1 - " + ttl)
    # all-head-context document: the head closes at EOF
    assert td(pre + '\n<meta charset="u">') == ("line 2 column 19 - " + ttl)
    # a title ANYWHERE suppresses (divergence note: tidy would relocate)
    assert td(pre + "\n<body><title>late</title><p>x</p></body>") == ""
    # no element tags at all: no anchor, no warning (class-8 rule)
    assert td("plain text") == ""
    # ADVICE r8 #2 pins: a class-5 '</'-recovered broken NON-head-context
    # tag is a created element node, so it closes the head and anchors
    # the insert exactly like a well-formed start tag
    assert td(pre + '\n<div class="x>text</div>') == (
        "line 2 column 1 - Warning: <div> attribute with missing "
        "trailing quote mark\n"
        "line 2 column 1 - " + ttl
    )
    # ...while a broken HEAD-context tag does not anchor (head closes at
    # EOF) and a broken <title> never sets saw_title, so it cannot
    # suppress the insert (the following <p> anchors it)
    assert td(pre + '\n<meta charset="u">\n<link rel="x>text</link>') == (
        "line 3 column 1 - Warning: <link> attribute with missing "
        "trailing quote mark\n"
        "line 3 column 18 - Warning: discarding unexpected </link>\n"
        "line 3 column 25 - " + ttl
    )
    assert td(pre + '\n<title id="x>text</title>\n<p>y</p>') == (
        "line 2 column 1 - Warning: <title> attribute with missing "
        "trailing quote mark\n"
        "line 3 column 1 - " + ttl
    )


def test_discarding_unexpected_end_tag_cases():
    """Class-11 unit coverage (r8): an end tag with no matching open
    element is discarded with a warning at its own position; a matched
    end tag (including one matching a class-5-broken element, which
    tidy still opens) is silent."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    assert td(pre + "<div>x</div></div>") == (
        "line 2 column 13 - Warning: discarding unexpected </div>\n"
    )
    assert td(pre + "</b>text") == (
        "line 2 column 1 - Warning: discarding unexpected </b>\n"
    )
    # the broken <a> is opened even though no pseudo-tag forms at it
    # (odd quote count hides it from the tag scanner), so its own </a>
    # matches instead of being discarded
    assert td(pre + '<a href="broken>\n</a>') == (
        "line 2 column 1 - Warning: <a> attribute with missing trailing quote mark\n"
    )
    assert td(pre + "<div><span>x</span></div>") == ""


def test_entity_warning_cases():
    """Class-12/13 unit coverage (r8): tidy ParseEntity replayed over
    PCDATA text and attribute values. Unknown names (with or without
    ';') and >=U+0100 entities missing their ';' are UNKNOWN_ENTITY;
    known <U+0100 entities missing the ';' are MISSING_SEMICOLON; a
    known entity with its ';' is silent. Anchored at the '&', name
    reported without the ';'."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    # the classic real-tidy shape: a URL query string in PCDATA —
    # 'sub' IS an entity (U+2282) but multi-byte requires the ';'
    assert td(pre + "<p>a=1&sub=2</p>") == (
        'line 2 column 7 - Warning: unescaped & or unknown entity "&sub"\n'
    )
    assert td(pre + "<p>R&D</p>") == (
        'line 2 column 5 - Warning: unescaped & or unknown entity "&D"\n'
    )
    assert td(pre + "<p>x &frob; y</p>") == (
        'line 2 column 6 - Warning: unescaped & or unknown entity "&frob"\n'
    )
    # known Latin-1 entity, terminator not ';' -> missing-semicolon
    assert td(pre + "<p>AT&amp T</p>") == (
        "line 2 column 6 - Warning: entity \"&amp\" doesn't end in ';'\n"
    )
    # numeric forms take the same codepoint split, with tidy's numeric
    # wording (r9, MISSING_SEMICOLON_NCR)
    assert td(pre + "<p>&#160</p>") == (
        "line 2 column 4 - Warning: numeric character reference \"&#160\" "
        "doesn't end in ';'\n"
    )
    assert td(pre + "<p>&#8364</p>") == (
        'line 2 column 4 - Warning: unescaped & or unknown entity "&#8364"\n'
    )
    # attribute values are scanned too, anchored at the '&' IN the value
    assert td(pre + '<a href="?a=1&b=2">x</a>') == (
        'line 2 column 14 - Warning: unescaped & or unknown entity "&b"\n'
    )


def test_entity_silent_cases():
    """The silent side of classes 12/13, each pinned by the moneysmart
    golden: known entities with ';' (named, decimal, hex), a NAKED '&'
    before a non-namechar (the golden's ' & ' text runs), and '&' inside
    script/style CDATA or comments (the golden's '&l='/'&profile'
    script bodies)."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    assert td(pre + "<p>&amp; &gt; &nbsp; &#39; &#xA0; &euro;</p>") == ""
    assert td(pre + "<p>a & b &< c &</p>") == ""
    assert td(pre + "<script>u = '?a=1&b=2' && q&amp;</script>") == ""
    assert td(pre + "<!-- &frob; R&D --><p>x</p>") == ""


# --- adversarial golden #4 (r8): entity classes interleaved ---------------

ENTITY_HTML = """<html>
<head>
<link href="?a=1&b=2" zap="1">
</head>
<body>
<p>AT&amp T sees &frob; in R&D</p>
<script>u = '?x=1&y=2&amp'</script>
<ul></ul>
</body>
</html>"""


def test_entity_golden_strict_fails():
    """The page takes the tidy path: the unclosed void <link> fails the
    strict XML-style first pass (lib.rs:193-207 trigger)."""
    from warcraider_spark.functions.html import strict_parse_ok

    assert strict_parse_ok(ENTITY_HTML) is False


def test_entity_golden_html_errors():
    """Fourth html_errors golden pinning classes 12/13 byte-exact IN
    PHASE ORDER with the rest of the catalog: entity warnings are
    lexer-time (interleaved by document position with the class-8
    doctype and the class-10 title insert, which anchors at the
    explicit </head> BEFORE the line-6 entities), while the same
    <link>'s class-9/3 attribute checks and the class-4 trim come in
    their later phases. The attribute-value entity anchors at its '&'
    column inside the value; the script-body entities stay silent
    (CDATA, golden-pinned)."""
    from warcraider_spark.functions.html import tidy_diagnostics

    assert tidy_diagnostics(ENTITY_HTML) == (
        "line 1 column 1 - Warning: missing <!DOCTYPE> declaration\n"
        'line 3 column 17 - Warning: unescaped & or unknown entity "&b"\n'
        "line 4 column 1 - Warning: inserting missing 'title' element\n"
        "line 6 column 6 - Warning: entity \"&amp\" doesn't end in ';'\n"
        'line 6 column 18 - Warning: unescaped & or unknown entity "&frob"\n'
        'line 6 column 29 - Warning: unescaped & or unknown entity "&D"\n'
        'line 3 column 1 - Warning: <link> proprietary attribute "zap"\n'
        'line 3 column 1 - Warning: <link> lacks "rel" attribute\n'
        "line 8 column 1 - Warning: trimming empty <ul>\n"
    )


def test_implicit_list_container_cases():
    """Class-14 unit coverage (r9): a <li> with no open list container
    gets tidy's INSERTING_TAG notice ("inserting implicit <ul>"),
    anchored at the item tag, AFTER the same tag's lexer warnings; any
    of ul/ol/menu/dir anywhere on the stack satisfies it; dt/dd pair
    with <dl>. The implicit container never warns missing </ul> at EOF
    (tidy-inferred nodes close implicitly)."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    assert td(pre + "<li>item") == (
        "line 2 column 1 - Warning: inserting implicit <ul>\n"
    )
    assert td(pre + "<ul><li>item</li></ul>") == ""
    assert td(pre + "<ol><li>x</li></ol><menu><li>y</li></menu>") == ""
    # nested non-list wrapper still finds the ancestor list
    assert td(pre + "<ul><li><div><li>n</li></div></li></ul>") == ""
    assert td(pre + "<div><dt>t</dt></div>") == (
        "line 2 column 6 - Warning: inserting implicit <dl>\n"
    )
    assert td(pre + "<dl><dt>t</dt><dd>d</dd></dl>") == ""
    # lexer class-1 on the same tag precedes the parser's insertion
    assert td(pre + '<li id="1" id="2">x') == (
        'line 2 column 1 - Warning: <li> dropping value "1" '
        'for repeated attribute "id"\n'
        "line 2 column 1 - Warning: inserting implicit <ul>\n"
    )


def test_invalid_ncr_cases():
    """Class-15 unit coverage (r9): Windows-1252 alias range (C1,
    128-159) -> "replacing invalid numeric character reference N" for
    the 27 slots DecodeWin1252 maps, "discarding ..." for the five
    CP1252-undefined slots 129/141/143/144/157 whose Win2Unicode entry
    is 0 (r11 fix); surrogates and beyond-Unicode -> "discarding ...";
    decimal N regardless of input radix; a same-reference
    missing-semicolon warning precedes it (ParseEntity order); valid
    references stay silent; an un-terminated >=U+0100 reference stays
    class 12."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    ncr = "Warning: replacing invalid numeric character reference"
    assert td(pre + "<p>a &#150; b</p>") == (f"line 2 column 6 - {ncr} 150\n")
    # CP1252-undefined alias slots: DecodeWin1252 returns 0 -> discarded
    assert td(pre + "<p>a &#129; b</p>") == (
        "line 2 column 6 - Warning: discarding invalid numeric "
        "character reference 129\n"
    )
    assert td(pre + "<p>&#x9D;</p>") == (
        "line 2 column 4 - Warning: discarding invalid numeric "
        "character reference 157\n"
    )
    # neighbours of an undefined slot still replace
    assert td(pre + "<p>&#128;&#130;</p>") == (
        f"line 2 column 4 - {ncr} 128\n" f"line 2 column 10 - {ncr} 130\n"
    )
    # hex input, decimal report
    assert td(pre + "<p>a &#x96; b</p>") == (f"line 2 column 6 - {ncr} 150\n")
    assert td(pre + "<p>a &#150 b</p>") == (
        "line 2 column 6 - Warning: numeric character reference \"&#150\" "
        "doesn't end in ';'\n"
        f"line 2 column 6 - {ncr} 150\n"
    )
    assert td(pre + "<p>&#xD800; &#1114200;</p>") == (
        "line 2 column 4 - Warning: discarding invalid numeric character "
        "reference 55296\n"
        "line 2 column 13 - Warning: discarding invalid numeric character "
        "reference 1114200\n"
    )
    # boundaries: 127 and 160 are legal
    assert td(pre + "<p>&#127; &#160; &#x10FFFF;</p>") == ""
    # missing ';' on a >=U+0100 code is class 12, never INVALID_NCR
    assert td(pre + "<p>&#xD800</p>") == (
        'line 2 column 4 - Warning: unescaped & or unknown entity "&#xD800"\n'
    )


def test_nested_anchor_cases():
    """Class-16 unit coverage (r9): a new <a> while an <a> is open
    implies closing the old one (missing </a> before <a>), with
    required-end-tag children above it warned innermost-first in the
    before-form, all anchored at the NEW tag; the popped anchor's own
    later </a> discards (class 11); sequential anchors stay silent."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = '<!DOCTYPE html><title>t</title>\n'
    assert td(pre + '<a href="/1">x<a href="/2">y</a></a>') == (
        "line 2 column 15 - Warning: missing </a> before <a>\n"
        "line 2 column 33 - Warning: discarding unexpected </a>\n"
    )
    assert td(pre + '<a href="/1">x</a><a href="/2">y</a>') == ""
    assert td(pre + '<a href="/1"><b>x<a href="/2">y</a>') == (
        "line 2 column 18 - Warning: missing </b> before <a>\n"
        "line 2 column 18 - Warning: missing </a> before <a>\n"
    )
    # r11 (class 23): the BLOCK-level <p> start already implies closing
    # the open anchor (missing </a> before <p>) — so the second <a>
    # finds nothing open and the class-16 path never fires here
    assert td(pre + '<a href="/1"><p>x<a href="/2">y</a>') == (
        "line 2 column 14 - Warning: missing </a> before <p>\n"
    )


def test_head_content_violation_cases():
    """Class-17 unit coverage (r9): the first body-content start tag
    inside an explicit open <head> warns TAG_NOT_ALLOWED_IN once (head
    parsing ends there, so a second offender is silent body content);
    body/html transitions and post-</head> content never warn; no
    explicit <head> -> no warning."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html>\n<head><title>t</title>"
    assert td(pre + "<div>x</div></head><body>y</body>") == (
        "line 2 column 23 - Warning: <div> isn't allowed in <head> elements\n"
    )
    assert td(pre + "<div>a</div><span>b</span></head>") == (
        "line 2 column 23 - Warning: <div> isn't allowed in <head> elements\n"
    )
    assert td(pre + "</head><div>x</div>") == ""
    assert td(pre + "<body>y</body>") == ""
    assert td("<!DOCTYPE html>\n<div>x</div><title>t</title>") == ""


def test_head_plain_text_cases():
    """Class-18 unit coverage (r10): a non-whitespace PCDATA run directly
    inside an explicit open <head> warns once (ParseHead's TextNode
    branch — the class-17 twin), head parsing ends at the text, and the
    anchor is the first non-whitespace character. Whitespace-only runs
    and text owned by an open <title> (or masked comment bytes) are
    silent; without an explicit <head> there is nothing to violate."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html>\n<head><title>t</title>"
    w = "Warning: plain text isn't allowed in <head> elements"
    # bare text, then explicit close: one warning at the text
    assert td(pre + "hello</head><body>y</body>") == (
        f"line 2 column 23 - {w}\n"
    )
    # leading whitespace: the token starts past it (IgnoreWhitespace)
    assert td(pre + "  hello</head><body>y</body>") == (
        f"line 2 column 25 - {w}\n"
    )
    # whitespace-only run: silent, head stays open
    assert td(pre + "   </head><body>y</body>") == ""
    # text closes head FIRST, so a later body tag in head is ordinary
    # content — no class-17 warning for the <div>
    assert td(pre + "boo<div>x</div></head>") == (
        f"line 2 column 23 - {w}\n"
    )
    # comment bytes are masked; the text after it anchors the warning
    assert td(pre + "<!-- c -->hi</head>") == (
        f"line 2 column 33 - {w}\n"
    )
    # EOF tail text with head still open warns the same way (<head> has
    # an optional end tag, so no missing-</head> accompanies it)
    assert td(pre + "boo") == f"line 2 column 23 - {w}\n"
    # entity text is text; a known terminated entity adds no entity warning
    assert td(pre + "&amp;</head>") == f"line 2 column 23 - {w}\n"
    # class-10 interplay: the text both warns and anchors the title insert
    assert td("<!DOCTYPE html>\n<head>boo</head>") == (
        f"line 2 column 7 - {w}\n"
        "line 2 column 7 - Warning: inserting missing 'title' element\n"
    )
    # no explicit <head>: bare pre-title text never fires this class
    assert td("<!DOCTYPE html>\ntext<title>t</title>") == ""


def test_ammonia_deleted_content_regions():
    """r10: ammonia clean_content_tags (style/noscript/noframes) are
    deleted WITH content before the reference's parser runs — nothing
    inside them is observable (text, headings, meta, links, resources),
    they never touch in_body (so a noscript after a <link> does NOT
    restore text collection), and their content is RAWTEXT: it ends at
    the FIRST matching end tag, a nested same-name start is just
    text."""
    from warcraider_spark.functions.html import parse_html_py

    r = parse_html_py(
        '<noscript><img src="ga.gif"><a href="/ns">x</a>'
        '<meta name="k" content="v">nstext</noscript>'
        "<h1>a<noscript>inner</noscript>b</h1>"
        "<style>.c{}</style>after"
    )
    joined = " ".join(r["text"])
    assert "nstext" not in joined and "inner" not in joined and ".c" not in joined
    assert "after" in joined
    assert r["links"] == [] and r["resource_urls"] == [] and r["meta_tags"] == {}
    assert r["headings_text"] == ["ab"]
    # in_body untouched: link suppresses, noscript does NOT restore
    r2 = parse_html_py('<link href="x.css"><noscript>n</noscript>hidden<body>shown')
    assert "hidden" not in " ".join(r2["text"]) and "shown" in " ".join(r2["text"])
    # RAWTEXT first-close: nested same-name start is text; content after
    # the first end tag is live again
    r3 = parse_html_py("<noscript>one<noscript>two</noscript>three</noscript>tail")
    assert " ".join(r3["text"]) == "three tail"


def test_ammonia_scheme_allowlist():
    """r10: the reference cleans every page with ammonia BEFORE parsing
    (lib.rs:188), and ammonia filters URL attributes against its default
    scheme ALLOWLIST — an exotic-scheme href is stripped (anchor and its
    text survive), relative URLs always pass, scheme matching is
    case-insensitive, and a Windows drive path parses as a one-letter
    scheme and is stripped. The old 3-scheme denylist kept whatsapp://
    and file: links the reference drops."""
    from warcraider_spark.functions.html import parse_html_py

    r = parse_html_py(
        '<a href="javascript:x()">j</a><a href="/rel">r</a>'
        '<a href="whatsapp://send?x">w</a><a href="HTTP://U.example/">u</a>'
        '<a href="C:\\docs\\f.htm">c</a><a href="mailto:a@b">m</a>'
        '<a href="#frag">f</a><a href="tel:+61">t</a>'
        '<a href="data:text/html,x">d</a><a href="file:///etc/x">fi</a>'
        '<a href="ftps://h/x">fs</a>'
    )
    assert r["links"] == [
        "/rel", "HTTP://U.example/", "mailto:a@b", "#frag", "tel:+61", "ftps://h/x"
    ]
    # stripped-href anchors keep their text (ammonia drops the attribute,
    # not the element)
    assert "j" in " ".join(r["text"]) and "w" in " ".join(r["text"])


def test_heading_nesting_cases():
    """Classes 19+20 (r10): headings cannot nest. Different level ->
    MISSING_ENDTAG_BEFORE and the new heading opens; same level ->
    NON_MATCHING_ENDTAG coerces the start token into the end tag (no
    element opens, its own later end tag discards). Children cascade
    innermost-first: '</x> before <hN>' wording in the implied-close
    case, plain class-7 'missing </x>' in the coerced case."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    # different level: implied close, new heading opens and closes fine
    assert td(pre + "<h1>a<h2>b</h2>") == (
        "line 2 column 6 - Warning: missing </h1> before <h2>\n"
    )
    # the popped heading's own end tag then discards (class 11)
    assert td(pre + "<h1>a<h2>b</h2></h1>") == (
        "line 2 column 6 - Warning: missing </h1> before <h2>\n"
        "line 2 column 16 - Warning: discarding unexpected </h1>\n"
    )
    # required-end-tag child cascades innermost-first with the
    # implied-close wording; the optional-end <p> closes silently
    assert td(pre + "<h1>a<b>x<h3>y</h3>") == (
        "line 2 column 10 - Warning: missing </b> before <h3>\n"
        "line 2 column 10 - Warning: missing </h1> before <h3>\n"
    )
    # r11 (class 23): the BLOCK-level <p> start already implies closing
    # the heading (tidy's ParseInline returns the token) — the warning
    # moves to the <p>, and the <h3> then opens with nothing to close
    assert td(pre + "<h1>a<p>x<h3>y</h3>") == (
        "line 2 column 6 - Warning: missing </h1> before <p>\n"
    )
    # same level: the start token is coerced into </h2> — one warning,
    # nothing opens, so the later </h2> closes the FIRST h2's region
    # leftovers and the SECOND </h2> discards
    assert td(pre + "<h2>a<h2>b</h2>") == (
        "line 2 column 6 - Warning: replacing unexpected <h2> with </h2>\n"
        "line 2 column 11 - Warning: discarding unexpected </h2>\n"
    )
    # r11 (class 23): the inline parser closes the <b> with the
    # before-wording BEFORE the block parser coerces the same-level
    # heading (tidy's ParseInline returns the token first); the plain
    # class-7 wording in the coerced cascade remains only for frames
    # class 23 cannot pop (e.g. unknown elements)
    assert td(pre + "<h2>a<b>x<h2>") == (
        "line 2 column 10 - Warning: missing </b> before <h2>\n"
        "line 2 column 10 - Warning: replacing unexpected <h2> with </h2>\n"
    )
    # sequential (properly closed) headings never fire either class
    assert td(pre + "<h1>a</h1><h2>b</h2><h2>c</h2>") == ""


def test_pre_p_coercion_cases():
    """Class 29 (r12, VERDICT r11 #4 family 6): tidy's p→br coercion in
    preformatted/definition-term content. ParsePre reports
    USING_BR_INPLACE_OF for a <p> START at pre level and discards the
    </p>; ParseInline's 'within <dt> or <pre> map <p> to <br>' branch
    coerces SILENTLY (inline-on-top under pre, or at/under dt). The
    coerced node is FreeAttrs'd, so its attributes skip the attribute
    checks; nothing opens either way."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    # ParsePre: warn at the <p>; the orphaned </p> then discards
    assert td(pre + "<pre>a<p>b</p>c</pre>") == (
        "line 2 column 7 - Warning: using <br> in place of <p>\n"
        "line 2 column 11 - Warning: discarding unexpected </p>\n"
    )
    # FreeAttrs: the coerced node's proprietary attribute is never
    # checked (contrast a normal <p foobar> which reports class 9)
    assert td(pre + '<pre>a<p foobar="1">b</pre>') == (
        "line 2 column 7 - Warning: using <br> in place of <p>\n"
    )
    assert "foobar" in td(pre + '<p foobar="1">b</p><div>')
    # inline on top under <pre>: ParseInline's silent mapping — no
    # USING_BR_INPLACE_OF, no class-23 implied close at the <p> (the
    # token never returns to the block parser); the still-open <b>
    # surfaces at </pre> via class 7
    assert td(pre + "<pre>a<b>x<p>y</pre>") == (
        "line 2 column 15 - Warning: missing </b>\n"
    )
    # at/under <dt> (dt content is ParseInline's): silent coercion,
    # the </p> discards
    out = td(pre + "<dl><dt>a<p>b</p></dt></dl><div>")
    assert "using <br>" not in out
    assert "discarding unexpected </p>" in out
    # a <p> anywhere else is untouched
    assert "using <br>" not in td(pre + "<p>x</p><div>")


def test_uri_hygiene_cases():
    """Class 21 (r11): tidy's CheckUrl (attrs.c) on URL-typed attribute
    values — backslash fixing (FIXED_BACKSLASH; javascript: scheme exempt
    from the fix, so it takes the BACKSLASH_IN_URI wording), malformed
    characters (<= 0x20, > 0x7e, '<', '>') escaped with
    ESCAPED_ILLEGAL_URI, the lexer's NEWLINE_IN_URI discard, and
    MISSING_ATTR_VALUE for a valueless URL attribute. An empty value IS
    a value (zero bytes to check) and stays silent."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    assert td(pre + '<a href="/a b">x</a>') == (
        "line 2 column 1 - Warning: <a> escaping malformed URI reference\n"
    )
    assert td(pre + '<a href="café/page">x</a>') == (
        "line 2 column 1 - Warning: <a> escaping malformed URI reference\n"
    )
    assert td(pre + '<a href="foo\\bar">x</a>') == (
        "line 2 column 1 - Warning: <a> converting backslash in URI to slash\n"
    )
    # both together: CheckUrl's code order is backslash first
    assert td(pre + '<a href="a\\b c">x</a>') == (
        "line 2 column 1 - Warning: <a> converting backslash in URI to slash\n"
        "line 2 column 1 - Warning: <a> escaping malformed URI reference\n"
    )
    assert td(pre + '<a href="javascript:do\\x">x</a>') == (
        "line 2 column 1 - Warning: <a> URI reference contains backslash. Typo?\n"
    )
    # newline discarded at LEX time: the escape check never sees it
    # (the fixture img carries no alt, so CheckIMG reports it — r11 #28)
    assert td(pre + '<img src="a\nb.png">') == (
        "line 2 column 1 - Warning: <img> discarding newline in URI reference\n"
        'line 2 column 1 - Warning: <img> lacks "alt" attribute\n'
    )
    assert td(pre + "<a href>x</a>") == (
        'line 2 column 1 - Warning: <a> attribute "href" lacks value\n'
    )
    assert td(pre + '<a href="">x</a>') == ""
    # the dictionary is per-attribute-name: src is URL-typed on any tag
    assert td(pre + '<a href="ok.html" data-x="1" src="bad path">x</a>') == (
        "line 2 column 1 - Warning: <a> escaping malformed URI reference\n"
    )
    # clean URIs are silent
    assert td(pre + '<a href="https://ok.example/p?q=1#f">x</a>') == ""


def test_uri_entity_decode_cases():
    """Class 21 on entity-bearing values (r11, closing the documented
    entity-decoding limit): tidy's ParseEntity substitutes entities
    WHILE the value is lexed, so CheckUrl operates on the decoded
    string — an '&#10;'/'&#32;'-encoded control/space is an illegal
    byte to the escape check, a 'java&#115;cript:' prefix IS
    javascript:, and a decoded '&amp;' is a legal '&'. Entities kept
    literal (unknown, or >=U+0100 missing ';') still warn in the
    class-12/13 lexer scan AND their literal bytes are what CheckUrl
    sees. The raw-newline NEWLINE_IN_URI discard stays raw-input-only.
    The class-1 repeated-attribute report quotes the STORED (decoded)
    dropped value."""
    from warcraider_spark.functions.html import (
        _decode_entities_tidy,
        tidy_diagnostics as td,
    )

    pre = "<!DOCTYPE html><title>t</title>\n"
    esc = "line 2 column 1 - Warning: <a> escaping malformed URI reference\n"
    # decoded space / newline reach the escape check; no raw-newline report
    assert td(pre + '<a href="a&#32;b">x</a>') == esc
    assert td(pre + '<a href="a&#10;b">x</a>') == esc
    # decoded &amp; is a legal byte
    assert td(pre + '<a href="p?a=1&amp;b=2">x</a>') == ""
    # entity-masked javascript: scheme takes the backslash TYPO wording
    assert td(pre + '<a href="java&#115;cript:do\\x">x</a>') == (
        "line 2 column 1 - Warning: <a> URI reference contains backslash. Typo?\n"
    )
    # >= U+0100 entity with ';' decodes to a > 0x7e char -> escape
    assert td(pre + '<a href="pay&euro;page">x</a>') == esc
    # missing-';' >= U+0100: literal kept (class 12 fires, lexer phase
    # first); the kept literal's space still trips the escape check
    assert td(pre + '<a href="x&euro y">x</a>') == (
        'line 2 column 11 - Warning: unescaped & or unknown entity "&euro"\n'
        + esc
    )
    # C1 alias in a URI: replaced slot -> escape fires on the remapped
    # glyph; discarded slot -> value is clean, only the NCR report
    assert td(pre + '<a href="a&#150;b">x</a>') == (
        "line 2 column 11 - Warning: replacing invalid numeric "
        "character reference 150\n" + esc
    )
    assert td(pre + '<a href="a&#129;b">x</a>') == (
        "line 2 column 11 - Warning: discarding invalid numeric "
        "character reference 129\n"
    )
    # class-1 quotes the decoded dropped value
    assert td(pre + '<a href="x&amp;y" href="/ok">x</a>') == (
        'line 2 column 1 - Warning: <a> dropping value "x&y" '
        'for repeated attribute "href"\n'
    )
    # helper semantics pinned directly
    assert _decode_entities_tidy("a&#32;b&amp;c") == "a b&c"
    assert _decode_entities_tidy("x&euro y") == "x&euro y"  # literal kept
    assert _decode_entities_tidy("x&euro;y") == "x€y"
    assert _decode_entities_tidy("a&#129;b&#150;c") == "ab–c"
    assert _decode_entities_tidy("s&#xD800;e&#1114200;f") == "sef"
    assert _decode_entities_tidy("&nbsp") == "\xa0"  # < U+0100: no ';' needed
    assert _decode_entities_tidy("&bogus;&#;&#xzz;") == "&bogus;&#;&#xzz;"


def test_typed_attr_value_cases():
    """Class-27 unit coverage (r11, residual families 8/9/10): the attrs.c
    typed checkers — CheckNumber (font +/- exemption, empty-value silence),
    CheckLength (col/colgroup width exemption, empty value fails the
    first-digit test), CheckAlign (CM_IMG routes to CheckValign),
    CheckValign's three-way ok/BAD/proprietary split, CheckClear,
    CheckScroll, CheckTarget (letter-start always ok, reserved names
    case-insensitive), and the shared MISSING_ATTR_VALUE early return."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    # CheckNumber: bad byte warns once; empty value is silent; valueless
    # reports MISSING_ATTR_VALUE; <font size> may start +/-, <hr> may not
    assert td(pre + '<table><tr><td colspan="two" rowspan="3">x</td></tr></table>') == (
        'line 2 column 12 - Warning: <td> attribute "colspan" has invalid value "two"\n'
    )
    assert td(pre + '<table><tr><td colspan="">x</td></tr></table>') == ""
    assert td(pre + "<table><tr><td colspan>x</td></tr></table>") == (
        'line 2 column 12 - Warning: <td> attribute "colspan" lacks value\n'
    )
    assert td(pre + '<font size="+2">x</font>') == ""
    assert td(pre + '<hr size="+2">') == (
        'line 2 column 1 - Warning: <hr> attribute "size" has invalid value "+2"\n'
    )
    # CheckLength: first byte must be a digit, then digits or %;
    # col/colgroup width is exempt (multi-length); empty value is BAD
    assert td(pre + '<table width="100%"><tr><td>x</td></tr></table>') == ""
    assert td(pre + '<table width="auto"><tr><td>x</td></tr></table>') == (
        'line 2 column 1 - Warning: <table> attribute "width" has invalid value "auto"\n'
    )
    assert td(pre + '<img src=s alt=a width="10px">') == (
        'line 2 column 1 - Warning: <img> attribute "width" has invalid value "10px"\n'
    )
    assert td(pre + '<table><colgroup width="0*"><col width="2*"></colgroup><tr><td>x</td></tr></table>') == ""
    assert td(pre + '<table width="">x<tr><td>y</td></tr></table>') == (
        'line 2 column 1 - Warning: <table> attribute "width" has invalid value ""\n'
    )
    # CheckAlign vs CheckValign: middle is BAD on a block but OK nowhere;
    # top is OK as valign; CM_IMG elements take the valign semantics for
    # their align attribute, including the vendor-keyword proprietary split
    assert td(pre + '<p align="middle">x</p>') == (
        'line 2 column 1 - Warning: <p> attribute "align" has invalid value "middle"\n'
    )
    assert td(pre + '<p align="Center">x</p>') == ""  # AttrValueIs is case-blind
    # caption align defers to CheckCaption (top/bottom legal HTML4 there)
    assert td(pre + '<table><caption align="top">c</caption><tr><td>x</td></tr></table>') == ""
    assert td(pre + '<img src=s alt=a align="top">') == ""
    assert td(pre + '<img src=s alt=a align="absmiddle">') == (
        'line 2 column 1 - Warning: <img> proprietary attribute value "absmiddle"\n'
    )
    assert td(pre + '<img src=s alt=a align="left">') == (
        'line 2 column 1 - Warning: <img> attribute "align" has invalid value "left"\n'
    )
    assert td(pre + '<table><tr valign="texttop"><td>x</td></tr></table>') == (
        'line 2 column 8 - Warning: <tr> proprietary attribute value "texttop"\n'
    )
    # CheckClear / CheckScroll / CheckTarget
    assert td(pre + '<br clear="all">') == ""
    assert td(pre + '<br clear="both">') == (
        'line 2 column 1 - Warning: <br> attribute "clear" has invalid value "both"\n'
    )
    assert td(pre + '<iframe src="x" scrolling="maybe"></iframe>') == (
        'line 2 column 1 - Warning: <iframe> attribute "scrolling" has invalid value "maybe"\n'
    )
    assert td(pre + '<a href="x" target="_BLANK">y</a>') == ""
    assert td(pre + '<a href="x" target="_sideways">y</a>') == (
        'line 2 column 1 - Warning: <a> attribute "target" has invalid value "_sideways"\n'
    )
    assert td(pre + '<a href="x" target="MoneyMusts">y</a>') == ""
    # duplicate typed attribute: the KEPT (last) value is checked at the
    # first occurrence's slot, after the class-1 drop — the class-21 rule
    assert td(pre + '<td colspan="2" colspan="x">y</td>') == (
        'line 2 column 1 - Warning: <td> dropping value "2" '
        'for repeated attribute "colspan"\n'
        "line 2 column 1 - Warning: missing <table>\n"
        'line 2 column 1 - Warning: <td> attribute "colspan" has invalid value "x"\n'
    )
    # entity-decoded value: &#43;2 decodes to +2 (BAD on hr, legal on font)
    assert td(pre + '<hr size="&#43;2">') == (
        'line 2 column 1 - Warning: <hr> attribute "size" has invalid value "+2"\n'
    )
    assert td(pre + '<font size="&#43;2">x</font>') == ""


def test_element_missing_attr_cases():
    """Class-28 unit coverage (r11): CheckIMG / CheckAREA / CheckFORM
    element-level reports in checker code order, after the element's
    per-attribute checks; presence counts valueless attributes; a
    discarded node never reaches them (pinned in the class-6 tests)."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    # CheckIMG order: alt, then ismap-without-usemap, then src
    assert td(pre + "<img>") == (
        'line 2 column 1 - Warning: <img> lacks "alt" attribute\n'
        'line 2 column 1 - Warning: <img> lacks "src" attribute\n'
    )
    assert td(pre + '<img src="x.png" ismap>') == (
        'line 2 column 1 - Warning: <img> lacks "alt" attribute\n'
        "line 2 column 1 - Warning: <img> should use client-side image map\n"
    )
    assert td(pre + '<img src="x.png" ismap usemap="#m" alt="a">') == ""
    # valueless alt still counts as present (tidy's flag is set while
    # looping the lexed attvals); datafld databinding suppresses the
    # src report
    assert td(pre + "<img alt src=x>") == ""
    # datafld suppresses the src report (tidy's databinding flag) but is
    # itself VERS_PROPRIETARY in tidy's dictionary — the class-9 warning
    # fires for it exactly like real tidy's AttributeIsProprietary path
    assert td(pre + '<img alt="a" datafld="f">') == (
        'line 2 column 1 - Warning: <img> proprietary attribute "datafld"\n'
    )
    # CheckAREA: alt, then href unless nohref
    assert td(pre + '<map name="m"><area></map>') == (
        'line 2 column 15 - Warning: <area> lacks "alt" attribute\n'
        'line 2 column 15 - Warning: <area> lacks "href" attribute\n'
    )
    assert td(pre + '<map name="m"><area alt="a" nohref></map>') == ""
    assert td(pre + '<map name="m"><area alt="a" href="x"></map>') == ""
    # CheckFORM
    assert td(pre + "<form><input></form>") == (
        'line 2 column 1 - Warning: <form> lacks "action" attribute\n'
    )
    assert td(pre + '<form action=""><input></form>') == ""


def test_table_part_inference_cases():
    """Class 22 (r11): a tr/td/th start tag with no <table> open anywhere
    warns MISSING_STARTTAG ('missing <table>') — tidy infers the table.
    Same non-pushing scope limit as class 14: a second bare part warns
    again (real tidy's inferred table would absorb it; documented)."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    assert td(pre + "<body><tr><td>c</td></tr></body>") == (
        "line 2 column 7 - Warning: missing <table>\n"
        "line 2 column 11 - Warning: missing <table>\n"
    )
    assert td(pre + "<body><th>h</th></body>") == (
        "line 2 column 7 - Warning: missing <table>\n"
    )
    # inside a real table: silent
    assert td(pre + "<table><tr><td>c</td></tr></table>") == ""


def test_block_start_implied_close_cases():
    """Class 23 (r11): a block-level start tag implies closing open
    required-end INLINE elements (and an open heading when the trigger
    is not itself a heading) — tidy's ParseInline returns the token,
    MISSING_ENDTAG_BEFORE innermost-first anchored at the NEW tag; an
    open <p> in the path closes silently; flow containers stop the walk;
    the popped element's own later end tag discards (class 11)."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    assert td(pre + "<b>x<div>y</div></b>") == (
        "line 2 column 5 - Warning: missing </b> before <div>\n"
        "line 2 column 17 - Warning: discarding unexpected </b>\n"
    )
    # innermost-first cascade across two inlines
    assert td(pre + "<span>a<em>b<blockquote>q</blockquote>") == (
        "line 2 column 13 - Warning: missing </em> before <blockquote>\n"
        "line 2 column 13 - Warning: missing </span> before <blockquote>\n"
    )
    # heading closed by a non-heading block start
    assert td(pre + "<h1>a<p>x") == (
        "line 2 column 6 - Warning: missing </h1> before <p>\n"
    )
    # void block trigger (<hr>) closes the anchor too
    assert td(pre + '<a href="/x">l<hr>m') == (
        "line 2 column 15 - Warning: missing </a> before <hr>\n"
    )
    # a <p> in the pop path closes silently; the flow container (<div>)
    # stops the walk — block nesting inside div is legal and silent
    assert td(pre + "<div><p>x<div>y</div></div>") == ""
    # table parts / list items are NOT triggers (scope limit: those
    # parsers repair by moving content)
    assert td(pre + "<table><tr><td><b>x</b></td></tr></table>") == ""


def test_nested_emphasis_and_coerce_cases():
    """Classes 24+25 (r11): DIRECT same-tag inline nesting — tidy's
    ParseInline same-element check (top of stack only). No attributes ->
    COERCE_TO_ENDTAG: the start token becomes the end tag (closes the
    element, opens nothing, its later end tag discards). With
    attributes -> NESTED_EMPHASIS: warning only, the element nests.
    Anchors keep the class-16 branch; legal alternating nesting and
    sequential same-tag elements stay silent."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    assert td(pre + "<b>x<b>y</b></b>") == (
        "line 2 column 5 - Warning: <b> is probably intended as </b>\n"
        "line 2 column 9 - Warning: discarding unexpected </b>\n"
        "line 2 column 13 - Warning: discarding unexpected </b>\n"
    )
    assert td(pre + '<b>x<b class="z">y</b></b>') == (
        "line 2 column 5 - Warning: nested emphasis <b>\n"
    )
    assert td(pre + "<em>a<em>b") == (
        "line 2 column 6 - Warning: <em> is probably intended as </em>\n"
    )
    # alternating legal nesting: the inner <b>'s parent is <i>, not <b>
    assert td(pre + "<b><i>x<b>y</b></i></b>") == ""
    # sequential same-tag siblings never fire
    assert td(pre + "<b>x</b><b>y</b>") == ""
    # anchors route to class 16, never the emphasis pair
    assert td(pre + "<a href='/1'>x<a href='/2'>y</a>") == (
        "line 2 column 15 - Warning: missing </a> before <a>\n"
    )

def test_nested_quotation_cases():
    """Class 26 (r11): tidy excludes <q> from the same-tag emphasis
    branch, so a <q> start while a q is pushed — anywhere on the inline
    stack, attributes or not — reports NESTED_QUOTATION ("nested q
    elements, possible typo.") and the element nests normally (no
    coercion, so the inner q's end tag still matches)."""
    from warcraider_spark.functions.html import tidy_diagnostics as td

    pre = "<!DOCTYPE html><title>t</title>\n"
    # direct q-in-q, attributeless: NO coercion (unlike <b><b>), the
    # wording is the dedicated one, and both end tags match silently
    assert td(pre + "<q>a<q>b</q></q>") == (
        "line 2 column 5 - Warning: nested q elements, possible typo.\n"
    )
    # q nested DEEPER than innermost (q > b > q): classes 24/25 are
    # innermost-only, but the q check is pushed-anywhere
    assert td(pre + "<q>a<b>x<q>b</q></b></q>") == (
        "line 2 column 9 - Warning: nested q elements, possible typo.\n"
    )
    # attributes don't matter (cite is a legal q attribute — no class-9
    # noise): still the quotation wording, never "nested emphasis <q>"
    assert td(pre + '<q cite="/s">a<q cite="/t">b</q></q>') == (
        "line 2 column 15 - Warning: nested q elements, possible typo.\n"
    )
    # sequential q siblings never fire
    assert td(pre + "<q>a</q><q>b</q>") == ""
    # a block start closes the open q in our model first (class 23), so
    # the second q is NOT nested by then — one before-warning anchored
    # at the <div>, no quotation notice, and the single </q> matches the
    # inner q (documented istack/InlineDup scope limit)
    assert td(pre + "<q>a<div><q>b</q></div>") == (
        "line 2 column 5 - Warning: missing </q> before <div>\n"
    )
