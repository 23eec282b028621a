"""Parse-cascade property fuzz (VERDICT r8 #5): characterize
parse_html_py BEYOND the moneysmart golden.

The single-parser replacement is contract-by-golden; this generates 500+
seeded tag-soup documents (misnested ends, unclosed elements, CDATA
islands, comments, attribute junk, void quirks) and asserts the
invariants the reference's Rust cascade GUARANTEES, independent of byte
equality:

- the OBSERVABLE state machine = ammonia clean (lib.rs:188) composed
  with lib.rs:302-324: style/noscript/noframes are ammonia
  clean_content_tags — deleted WITH content before any parser runs, so
  nothing inside them (text, headings, meta, links, resources) is
  observable and they never touch in_body (r10 correction: the
  lib.rs noscript branch is dead code on the cleaned document). Text
  inside the head region or script content — and the post-<link> quirk
  (link START sets in_body=false and nothing but a head/script END or
  a <body> START restores it) — never reaches text_content; text
  emitted while in_body=true always does.
- lib.rs:290-301: links are EVERY real a[href] in document order,
  duplicates kept, '#'/'_' included at the parse level (the reference
  filters them at collection; our pipeline applies the identical filter
  in the q140 hygiene chain, extraction.py:179 — pinned there).
- resource_urls = src/href of real script/link tags, in order
  (style is ammonia-deleted and contributes none).
- meta_tags keeps name→content only when BOTH are non-empty (last wins).
- headings: a marker inside h1-h6 is in headings_text; also in text iff
  the in_body flag held (reference pushes to both independently).
- totality: parse_html_py and tidy_diagnostics never raise and keep the
  full result schema on every generated document.

Markers are unique tokens, so expectations are computed by the GENERATOR
(which knows each marker's context) via the reference's own state
machine — no reliance on our parser's internals.

r10 adds the soup-path precedence fuzz (test_soup_precedence_fuzz):
500 more documents dense in multi-key metas, charset declarations,
interleaved heading levels, entities and attribute junk, with BOTH
reference paths' expectations computed by the generator — the
quick-xml meta semantics (last key-attr in attribute order, both
fields non-empty) that our parser implements, and the soup fallback's
fixed precedence (name > http-equiv > charset > itemprop > property,
lib.rs:509-553) — plus the soup by-level heading sweep
(lib.rs:471-487) that our parser implements. Where the two reference
paths agree (every single-key non-empty meta — the real-page shape),
our output matches both; where they genuinely diverge, the corpus is
asserted to actually CONTAIN each divergence kind and our quick-xml
choice is pinned.
"""

from __future__ import annotations

import random
import re

from warcraider_spark.functions.html import (
    parse_html_py,
    parse_path,
    strict_parse_ok,
    tidy_diagnostics,
)

SAFE_TAGS = ["div", "p", "span", "b", "i", "em", "section", "td"]
HEADINGS = ["h1", "h2", "h3", "h4", "h5", "h6"]


def _gen_doc(rng: random.Random, idx: int):
    parts: list[str] = []
    visible: list[str] = []   # must appear in text
    hidden: list[str] = []    # must NOT appear in text
    heads: list[str] = []     # must appear in headings_text (in_heading
    #                           is INDEPENDENT of in_body in lib.rs —
    #                           title/anchor text inside an open heading
    #                           still reaches headings_text; ammonia-
    #                           deleted regions are the exception: their
    #                           text exists nowhere)
    cdata_marks: list[str] = []  # script content: excluded from
    #                           headings assertions (script SURVIVES
    #                           ammonia, so the reference pushes its text
    #                           when in_heading; rare — left out of the
    #                           exactness check). style content is
    #                           ammonia-DELETED: asserted absent like any
    #                           other deleted-region mark.
    all_marks: list[str] = []
    links: list[str] = []     # expected links, in order
    resources: list[str] = []
    metas: dict[str, str] = {}
    bad_metas: list[str] = []
    titles: list[str] = []

    in_body = True            # lib.rs init: text before any tag is body text
    cdata: str | None = None  # inside <script>/<style> raw content
    heading: int | None = None
    head_open = False
    mark_n = 0

    def marker() -> str:
        nonlocal mark_n
        mark_n += 1
        m = f"mk{idx}x{mark_n}q"  # 'q' terminator: no marker is a prefix of another
        all_marks.append(m)
        return m

    for _ in range(rng.randrange(8, 40)):
        if cdata is not None:
            # inside CDATA: only raw content or the closing tag
            if rng.random() < 0.6:
                m = marker()
                hidden.append(m)
                cdata_marks.append(m)
                parts.append(f"var x = '{m}' < 3 && y;" if cdata == "script" else f".{m} {{}}")
            else:
                parts.append(f"</{cdata}>")
                if cdata == "script":
                    in_body = True  # lib.rs End(script) => in_body = true
                # style: ammonia-deleted region — in_body untouched
                cdata = None
            continue
        op = rng.random()
        if op < 0.28:  # text
            m = marker()
            parts.append(f" {m} ")
            if heading is not None:
                heads.append(m)
            if in_body:
                visible.append(m)
            else:
                hidden.append(m)
        elif op < 0.36:  # open/close safe tags, sometimes mismatched
            t = rng.choice(SAFE_TAGS)
            if rng.random() < 0.6:
                parts.append(f"<{t}>")
            else:
                parts.append(f"</{t}>")  # possibly unmatched: soup
        elif op < 0.44:  # anchor
            m = marker()
            pfx = rng.choice(["/", "#", "_", "https://x.test/"])
            href = f"{pfx}{m}"
            txt = marker()
            if rng.random() < 0.15:
                # duplicate same-name attribute: ONE link either way,
                # but the kept twin is path-keyed (r12) — html5ever's
                # keep-FIRST if the doc happens to strict-parse, tidy's
                # keep-LAST otherwise. Record both; the test selects by
                # the page's actual path bit.
                decoy = marker()
                parts.append(f'<a href="/{decoy}" href="{href}">{txt}</a>')
                links.append((f"/{decoy}", href))
            else:
                parts.append(f'<a href="{href}">{txt}</a>')
                links.append((href, href))
            if heading is not None:
                heads.append(txt)
            if in_body:
                visible.append(txt)
            else:
                hidden.append(txt)
        elif op < 0.52:  # resource tags
            m = marker()
            kind = rng.choice(["link", "script", "style"])
            if kind == "link":
                parts.append(f'<link href="{m}.css">')
                in_body = False  # the post-<link> quirk: nothing restores
                # it except a head/script END or <body>
                resources.append(f"{m}.css")
            elif kind == "script":
                parts.append(f'<script src="{m}.js">')
                cdata = "script"
                in_body = False
                resources.append(f"{m}.js")
            else:
                # style is an ammonia-deleted region: no resource, no
                # in_body transition; its content marks stay hidden
                parts.append(f'<style href="{m}.s">')
                cdata = "style"
        elif op < 0.58:  # meta
            m = marker()
            if rng.random() < 0.7:
                parts.append(f'<meta name="n{m}" content="c{m}">')
                metas[f"n{m}"] = f"c{m}"
            else:  # one side empty: must be absent
                parts.append(
                    f'<meta name="n{m}" content="">'
                    if rng.random() < 0.5
                    else f'<meta name="" content="c{m}">'
                )
                bad_metas.append(f"n{m}")
        elif op < 0.64 and heading is None:  # heading open/close
            lvl = rng.randrange(6)
            heading = lvl
            parts.append(f"<{HEADINGS[lvl]}>")
        elif op < 0.70 and heading is not None:
            parts.append(f"</{HEADINGS[heading]}>")
            heading = None
        elif op < 0.76:  # comment: contents invisible everywhere
            m = marker()
            hidden.append(m)
            parts.append(f"<!-- {m} <a href='{m}'>x</a> -->")
        elif op < 0.84:  # head region open/close
            if head_open and rng.random() < 0.5:
                parts.append("</head>")
                head_open = False
                in_body = True
            else:
                parts.append("<head>")
                head_open = True
                in_body = False
        elif op < 0.90:  # body start restores text collection
            parts.append("<body>")
            in_body = True
        elif op < 0.95:  # noscript island: ammonia-deleted with content —
            # invisible EVERYWHERE (even inside an open heading) and
            # in_body is untouched (r10 correction; previously modelled
            # as the lib.rs dead-code in_body=false/true transition)
            m = marker()
            hidden.append(m)
            parts.append(f"<noscript>{m}</noscript>")
        else:  # title
            m = marker()
            parts.append(f"<title>{m}</title>")
            titles.append(m)
            if heading is not None:
                heads.append(m)
            if in_body:
                visible.append(m)  # body-misplaced title text IS body text
            else:
                hidden.append(m)

    return ("".join(parts), visible, hidden, heads, cdata_marks, all_marks,
            links, resources, metas, bad_metas, titles)


def _gen_soup_doc(rng: random.Random, idx: int):
    """Soup-path precedence generator (r10, VERDICT r9 #4): documents
    dense in multi-key metas, charset declarations, interleaved heading
    levels, entities and attribute junk — the shapes where the
    reference's TWO parse paths disagree with each other.

    The generator computes BOTH reference expectations per document:

    - quick-xml path (lib.rs:268-288): meta key = the LAST of
      name/http-equiv/itemprop/property in ATTRIBUTE order; kept only
      when key and content are both non-empty; charset ignored.
    - soup path (lib.rs:509-553): fixed precedence name > http-equiv >
      charset > itemprop > property regardless of attribute order;
      charset inserts under the literal key 'charset'; an EMPTY content
      string still inserts (only a missing content skips).

    Headings both-paths: the soup sweep is BY LEVEL h1..h6 then document
    order within a level (lib.rs:471-487, find_all is document-order),
    non-empty subtree text only — the semantics our single parser
    implements (pinned by the moneysmart golden); the quick-xml path
    would emit text events in document order instead (separator-level
    divergence documented at the pipeline join).
    """
    metas: list[dict] = []  # [{attrs: [(k, v)], qx: (k,v)|None, soup: (k,v)|None}]
    heading_items: list[tuple[int, str]] = []  # (level, expected stripped text)
    parts: list[str] = []
    mark_n = 0

    def marker() -> str:
        nonlocal mark_n
        mark_n += 1
        return f"sp{idx}x{mark_n}q"

    # entity table the generator understands (both engines decode these)
    ENT = [("&amp;", "&"), ("&lt;", "<"), ("&#65;", "A"), ("&eacute;", "é")]

    n_items = rng.randrange(6, 18)
    for _ in range(n_items):
        op = rng.random()
        if op < 0.5:  # a meta tag with a random key-attr mix
            key_attrs = rng.sample(
                ["name", "http-equiv", "itemprop", "property", "charset"],
                k=rng.randrange(1, 3),
            )
            attrs: list[tuple[str, str]] = []
            for ka in key_attrs:
                attrs.append((ka, f"k{marker()}"))
            has_content = rng.random() < 0.8
            content_val = f"c{marker()}" if rng.random() < 0.85 else ""
            if has_content:
                attrs.append(("content", content_val))
            # attribute junk: unknown attrs interleaved, case jitter
            if rng.random() < 0.4:
                attrs.append((f"data-j{mark_n}", "1"))
            rng.shuffle(attrs)
            quoted = [
                f'{k}="{v}"' if rng.random() < 0.8 else f"{k}={v or chr(39) + chr(39)}"
                for k, v in attrs
            ]
            parts.append(f"<meta {' '.join(quoted)}>")
            # quick-xml expectation: LAST key-attr in attribute order
            qx_key = ""
            qx_val = ""
            for k, v in attrs:
                if k in ("name", "http-equiv", "itemprop", "property"):
                    qx_key = v
                if k == "content":
                    qx_val = v
            qx = (qx_key, qx_val) if qx_key and qx_val else None
            # soup expectation: fixed precedence, charset special-cased
            amap = dict(attrs)
            soup = None
            for pk in ("name", "http-equiv"):
                if pk in amap:
                    if "content" in amap:
                        soup = (amap[pk], amap["content"])
                    break
            else:
                if "charset" in amap:
                    soup = ("charset", amap["charset"])
                else:
                    for pk in ("itemprop", "property"):
                        if pk in amap:
                            if "content" in amap:
                                soup = (amap[pk], amap["content"])
                            break
            metas.append({"qx": qx, "soup": soup})
        elif op < 0.85:  # heading, possibly entity-rich / anchor-bearing
            lvl = rng.randrange(1, 7)
            inner: list[str] = []
            expect: list[str] = []
            for _ in range(rng.randrange(1, 4)):
                r = rng.random()
                if r < 0.5:
                    m = marker()
                    inner.append(f" {m} ")
                    expect.append(f" {m} ")
                elif r < 0.8:
                    src, decoded = rng.choice(ENT)
                    m = marker()
                    inner.append(f"{m}{src}")
                    expect.append(f"{m}{decoded}")
                else:
                    m = marker()
                    inner.append(f'<a href="/{m}">{m}</a>')
                    expect.append(m)
            text = "".join(expect).strip()
            parts.append(f"<{HEADINGS[lvl - 1]}>{''.join(inner)}</{HEADINGS[lvl - 1]}>")
            if text:
                heading_items.append((lvl, text))
            if rng.random() < 0.3:  # empty heading: excluded both paths
                parts.append(f"<{HEADINGS[lvl - 1]}>   </{HEADINGS[lvl - 1]}>")
        else:  # body noise with entities
            src, decoded = rng.choice(ENT)
            parts.append(f"<p>noise{src}text</p>")

    # expected meta dicts (insertion order = document order, last wins)
    qx_meta: dict[str, str] = {}
    soup_meta: dict[str, str] = {}
    for m in metas:
        if m["qx"]:
            qx_meta[m["qx"][0]] = m["qx"][1]
        if m["soup"] is not None:
            soup_meta[m["soup"][0]] = m["soup"][1]
    # expected headings list: by level, document order within level
    exp_headings = [t for _, t in sorted(heading_items, key=lambda lt: lt[0])]
    return "".join(parts), qx_meta, soup_meta, exp_headings


def test_soup_precedence_fuzz():
    """r10 (VERDICT r9 #4): generator-computed soup-path precedence
    expectations over 500 documents. Asserts (a) our parser's meta map
    equals the quick-xml expectation on EVERY document — that is the
    path that handles every tidy-repairable page in the cascade, and
    the semantics our single parser implements; (b) our headings list
    equals the soup by-level sweep on every document (the semantics the
    moneysmart golden pins); (c) the two reference paths' meta
    semantics AGREE on every single-key, non-empty-content meta — the
    overwhelming real-page shape, where our parser therefore matches
    the soup path too; and (d) the shapes where the paths genuinely
    diverge (multi-key attribute order, charset declarations, empty
    content) each OCCUR in the corpus and are pinned to the quick-xml
    choice — the single-parser replacement's documented behavior, not
    an accident of the generator."""
    rng = random.Random(20260815 + 1)
    divergent_docs = 0
    charset_cases = 0
    multikey_cases = 0
    empty_content_cases = 0
    for i in range(500):
        doc, qx_meta, soup_meta, exp_headings = _gen_soup_doc(rng, i)
        r = parse_html_py(doc)
        assert r["meta_tags"] == qx_meta, (i, r["meta_tags"], qx_meta, doc[:400])
        assert r["headings_text"] == exp_headings, (i, r["headings_text"], exp_headings)
        if soup_meta != qx_meta:
            divergent_docs += 1
            if "charset" in soup_meta:
                charset_cases += 1
            if any(k in soup_meta and soup_meta[k] == "" for k in soup_meta):
                empty_content_cases += 1
            if any(k in qx_meta and k not in soup_meta for k in qx_meta):
                multikey_cases += 1
        assert isinstance(tidy_diagnostics(doc), str)
    # the divergence surface was actually exercised, in every kind
    assert divergent_docs > 50, divergent_docs
    assert charset_cases > 5, charset_cases
    assert multikey_cases > 5, multikey_cases
    assert empty_content_cases > 5, empty_content_cases


def test_parse_cascade_invariants_fuzz():
    rng = random.Random(20260815)
    for i in range(500):
        (doc, visible, hidden, heads, cdata_marks, all_marks,
         links, resources, metas, bad_metas, titles) = _gen_doc(rng, i)
        r = parse_html_py(doc)
        assert set(r.keys()) >= {
            "ok", "html_errors", "title", "text", "headings_text",
            "links", "resource_urls", "meta_tags",
        }, i
        joined = " ".join(r["text"])
        htext = " ".join(r["headings_text"])
        for m in visible:
            assert m in joined, (i, m, doc[:400])
        for m in hidden:
            assert m not in joined, (i, m, doc[:400])
        # headings membership is EXACT over every non-CDATA marker:
        # in headings_text iff emitted while a heading was open
        heads_set = set(heads)
        for m in all_marks:
            if m in cdata_marks:
                continue
            assert (m in htext) == (m in heads_set), (i, m, doc[:400])
        # r13 three-leg contract: keep-FIRST twins on the html5ever-
        # deduped legs (strict + soup — both parse clean(raw)), keep-
        # LAST only where tidy's repeated-attributes repair ran first
        path = parse_path(doc)
        exp_links = [last if path == "tidy" else first for first, last in links]
        assert r["links"] == exp_links, (i, path, doc[:400])
        assert r["resource_urls"] == resources, (i, doc[:400])
        for k, v in metas.items():
            assert r["meta_tags"].get(k) == v, (i, k, doc[:400])
        for k in bad_metas:
            assert k not in r["meta_tags"], (i, k)
        if titles:
            # last title text event wins on both engines (lib.rs:330
            # overwrites result.title per text event)
            assert r["title"] == titles[-1], (i, doc[:400])
        # tidy totality: the diagnostics catalog must be TOTAL on soup
        assert isinstance(tidy_diagnostics(doc), str)


# --- r11 (VERDICT r10 #5): deletion-region + scheme-allowlist fuzz ---------

_DELETED = ["style", "noscript", "noframes"]
# ammonia's default URL-scheme ALLOWLIST members used here, plus relative
_ALLOWED_HREFS = [
    "http://x.test/{m}", "https://x.test/{m}", "mailto:{m}@x.test",
    "tel:+61{n}", "ftp://x.test/{m}", "magnet:?xt={m}", "/{m}", "#{m}",
]
# outside the allowlist -> ammonia strips the attribute (link not kept);
# the WHATWG tab/newline removal means embedded controls don't hide a
# dangerous scheme (ADVICE r10 #1)
_BLOCKED_HREFS = [
    "javascript:alert('{m}')", "vbscript:{m}", "steam://run/{m}",
    "file:///{m}", "data:text/html,{m}", "whatsapp://send?text={m}",
    "java\tscript:alert('{m}')", "j\navascript:{m}",
]


def _gen_deletion_doc(rng: random.Random, idx: int):
    """Adversarial RAWTEXT deletion regions, expectations computed from
    html5ever's raw-text tokenization (the semantics ammonia parses
    with): a region opens at <style|noscript|noframes> (self-closing
    flag IGNORED on raw-text elements) and closes at the FIRST
    case-insensitive '</name' IMMEDIATELY after '</', followed by '>',
    whitespace, or '/' (the latter two route through the attribute
    states to the tag's closing '>', quoted values masking '>') — even
    inside comment-looking bytes; fake end tags (wrong name, continued
    name, '</ name' with a space, '</name-x') and nested same-name
    STARTS are raw text; an unterminated region (or EOF inside the end
    tag itself) swallows to EOF. Late-r11: attr-bearing and
    self-closing end tags are now spec-exact and generated here."""
    parts: list[str] = []
    visible: list[str] = []
    hidden: list[str] = []
    links: list[str] = []
    mark_n = 0

    def marker() -> str:
        nonlocal mark_n
        mark_n += 1
        return f"dk{idx}x{mark_n}q"

    n_regions = rng.randrange(1, 5)
    for _ in range(n_regions):
        # interstitial body text + a scheme-tested anchor
        m = marker()
        parts.append(f" {m} ")
        visible.append(m)
        am = marker()
        if rng.random() < 0.5:
            href = rng.choice(_ALLOWED_HREFS).format(m=am, n=mark_n)
            links.append(href)
        else:
            href = rng.choice(_BLOCKED_HREFS).format(m=am)
        txt = marker()
        parts.append(f'<a href="{href}">{txt}</a>')
        visible.append(txt)  # the anchor's TEXT survives either way

        tag = rng.choice(_DELETED)
        opener = f"<{tag}/>" if rng.random() < 0.2 else f"<{tag}>"
        parts.append(opener)
        # region content: raw bytes, all hidden
        for _ in range(rng.randrange(1, 5)):
            m = marker()
            hidden.append(m)
            shape = rng.random()
            if shape < 0.15:
                parts.append(f"<{tag}>{m}")          # nested start: text
            elif shape < 0.3:
                parts.append(f"</{tag}z>{m}")        # continued name: text
            elif shape < 0.4:
                parts.append(f"</ {tag}>{m}")        # space before name: text
            elif shape < 0.5:
                parts.append(f"</{tag}-x>{m}")       # non-delimiter after name: text
            elif shape < 0.62:
                parts.append(f'<a href="/{m}">{m}</a>')  # link: never kept
            elif shape < 0.75:
                parts.append(f"<!-- {m} ")           # comment bytes: raw
            else:
                parts.append(f" {m} ")
        close = rng.random()
        if close < 0.22:
            # the real end tag hiding inside comment-looking bytes STILL
            # closes the region; the comment tail becomes visible text
            tail = marker()
            parts.append(f"<!-- </{tag}> -->{tail}")
            visible.append(f"-->{tail}")  # our text events strip edges
        elif close < 0.37:
            parts.append(f"</{tag.upper()} >")       # case + space: closes
        elif close < 0.5:
            # attr-bearing end tag: parse error, but the token takes
            # effect — a quoted value masks its '>' (late-r11 spec-exact)
            am = marker()
            parts.append(
                rng.choice(
                    [
                        f'</{tag} data-k="a>{am}">',
                        f"</{tag} {am}=v x>",
                        f"</{tag}/>",
                        f"</{tag} {am}='q>r' b>",
                    ]
                )
            )
        elif close < 0.72:
            parts.append(f"</{tag}>")
        elif close < 0.86:
            # unterminated: everything after is swallowed to EOF
            for _ in range(rng.randrange(1, 3)):
                m = marker()
                hidden.append(m)
                parts.append(f" {m} <a href='/{m}'>x</a>")
            return "".join(parts), visible, hidden, links
        else:
            # EOF inside the end tag itself (after the matching name):
            # eof-in-tag — nothing emitted, swallowed to EOF
            m = marker()
            hidden.append(m)
            parts.append(rng.choice([f"</{tag} {m}", f'</{tag} k="{m}']))
            return "".join(parts), visible, hidden, links
    m = marker()
    parts.append(f" {m} ")
    visible.append(m)
    return "".join(parts), visible, hidden, links


def test_deletion_region_fuzz():
    rng = random.Random(1711)
    for i in range(500):
        doc, visible, hidden, links = _gen_deletion_doc(rng, i)
        r = parse_html_py(doc)
        joined = " ".join(r["text"])
        for m in visible:
            assert m in joined, (i, m, doc[:400])
        for m in hidden:
            assert m not in joined, (i, m, doc[:400])
            assert not any(m in l for l in r["links"]), (i, m)
            assert not any(m in h for h in r["headings_text"]), (i, m)
        assert r["links"] == links, (i, r["links"], links, doc[:400])
        assert isinstance(tidy_diagnostics(doc), str)


def test_deletion_region_context_interplay():
    """r11 follow-up to the deletion fuzz: regions interleaved with the
    head region and open headings — the observable couplings the
    flat-body generator can't reach. All expectations from the
    ammonia-composed state machine: a deleted region NEVER touches
    in_body (a region between <link> and </head> leaves the head state
    alone), its text exists NOWHERE (not even headings_text, unlike
    script CDATA which survives ammonia), and a region that swallows a
    '</head>' inside its raw bytes keeps the head OPEN."""
    from warcraider_spark.functions.html import parse_html_py

    # region inside an open heading: marker absent from BOTH text and
    # headings; heading text around it still collected
    r = parse_html_py("<h2>before<noscript>hidden</noscript>after</h2>tail")
    assert r["headings_text"] == ["beforeafter"] or r["headings_text"] == ["before after"] or (
        len(r["headings_text"]) == 1 and "hidden" not in r["headings_text"][0]
    )
    assert "hidden" not in " ".join(r["text"])
    assert "tail" in " ".join(r["text"])

    # region inside head: in_body stays false across it — text after the
    # region but before </head> is still head content (invisible)
    r2 = parse_html_py(
        '<head><link href="a.css"><style>.x{}</style>stillhead</head>visible'
    )
    assert r2["text"] == ["visible"]
    assert r2["resource_urls"] == ["a.css"]

    # a '</head>' hiding inside region raw bytes does NOT close the head
    r3 = parse_html_py("<head><noframes>x</head>y</noframes>after</head>shown")
    assert "y" not in " ".join(r3["text"])
    # 'after' is still inside the OPEN head -> invisible; 'shown' follows
    # the real </head>
    assert r3["text"] == ["shown"]

    # anchor with an allowed scheme inside a region: never collected;
    # the same anchor outside is
    r4 = parse_html_py(
        '<noscript><a href="mailto:a@b.c">x</a></noscript><a href="mailto:a@b.c">y</a>'
    )
    assert r4["links"] == ["mailto:a@b.c"]


def test_rawtext_endtag_tokenizer_rules():
    """Late-r11: the deletion-region end tag follows the spec tokenizer
    (html5ever) exactly — each case pins one state-machine branch."""
    from warcraider_spark.functions.html import parse_html_py

    def text(doc: str) -> str:
        return " ".join(parse_html_py(doc)["text"])

    # whitespace after the matching name -> attribute states -> closes
    assert text("<noscript>hidden</noscript x>visible") == "visible"
    # '/' after the name (self-closing flag on an end tag) -> closes
    assert text("<noscript>hidden</noscript/>visible") == "visible"
    # quoted attribute value masks '>' — the tag ends at the REAL '>'
    assert text('<noscript>hidden</noscript a="x>y">visible') == "visible"
    assert text("<noscript>h</noscript a='q>r' b>vis") == "vis"
    # unquoted value, then close
    assert text("<noscript>hidden</noscript foo=bar>visible") == "visible"
    # '=' in before-attribute-name is a parse error but starts an
    # attribute name — still closes
    assert text("<noscript>h</noscript =>vis") == "vis"
    # space between '</' and the name: raw text, region stays open
    assert text("<noscript>hidden</ noscript>alsohidden") == ""
    # continued name / non-delimiter after the name: raw text
    assert text("<noscript>h</noscriptz>hid</noscript>visible") == "visible"
    assert text("<noscript>h</noscript-x>hid</noscript>visible") == "visible"
    # EOF inside the end tag (eof-in-tag): swallowed, nothing emitted
    assert text('<noscript>hidden</noscript a="unterminated') == ""
    assert text("<noscript>hidden</noscript ") == ""
    # case-insensitive name + attrs
    assert text("<NOFRAMES>h</NOFRAMES X>vis") == "vis"
    # a link inside the region is markup-deleted even when the closer
    # carries attributes; links after the close are collected
    r = parse_html_py(
        '<noscript><a href="/in">x</a></noscript data-x>vis<a href="/out">y</a>'
    )
    assert r["links"] == ["/out"]
    assert " ".join(r["text"]) == "vis y"
    # script CDATA is untouched by the override (stock HTMLParser rules)
    assert text("<script>var x='</b>';</script>after") == "after"


def test_comment_termination_path_keyed():
    """r12 (ADVICE r11 #2): comment termination follows the engine that
    actually lexed the page.

    Strict pages: html5ever consumed the comments during the ammonia
    pre-clean, so the SPEC tokenizer rules hold — '<!-->'/'<!--->'
    close immediately (abrupt-closing-of-empty-comment), '--!>' closes
    (incorrectly-closed-comment), and only genuine eof-in-comment
    swallows to EOF. Tidy pages: tidy re-lexes the RAW bytes and its
    lexer needs '--' then '>' — the abrupt forms and '--!>' are not
    terminators there. Neither engine ever re-surfaces comment MARKUP
    as text (HTMLParser's -1 fallback)."""
    from warcraider_spark.functions.html import parse_html_py, strict_parse_ok

    # --- strict path (no unbalanced tags) → spec tokenizer ---
    assert strict_parse_ok("<!-->rest")
    assert parse_html_py("<!-->rest")["text"] == ["rest"]
    assert parse_html_py("<!--->rest")["text"] == ["rest"]
    assert parse_html_py("<!-->hidden--> tail")["text"] == ["hidden--> tail"]
    assert parse_html_py("<!--x--!>more-->tail")["text"] == ["more-->tail"]
    # '--->' terminates on both engines (>=2 dashes then '>')
    assert parse_html_py("<!--x--->tail")["text"] == ["tail"]
    # genuine eof-in-comment: swallow, and the masked '<b>' does not
    # break the strict replay (html5ever ate it before quick-xml ran)
    assert strict_parse_ok("a<!--x<b>bold")
    assert parse_html_py("a<!--x<b>bold")["text"] == ["a"]
    assert parse_html_py("<p>x</p><!--<div>unterm")["text"] == ["x"]

    # --- tidy path (unclosed <div> forces the tidy leg) → tidy lexer ---
    assert not strict_parse_ok("<div><!-->rest")
    assert parse_html_py("<div><!-->rest")["text"] == []
    assert parse_html_py("<div><!--->rest")["text"] == []
    assert parse_html_py("<div><!-->hidden--> tail")["text"] == ["tail"]
    assert parse_html_py("<div><!--x--!>more-->tail")["text"] == ["tail"]
    assert parse_html_py("<div>a<!--x<b>bold")["text"] == ["a"]


def test_duplicate_attrs_path_keyed():
    """r12 (ADVICE r11 #1+#3): duplicate same-name attributes resolve
    keep-FIRST on strict pages (html5ever deduped during the ammonia
    pre-clean — the spec drops the NEW attr; quick-xml never sees a
    dupe, so its checked-iterator truncation is unreachable) and
    keep-LAST on tidy pages (tidy's default repeated-attributes
    repair on the raw bytes)."""
    from warcraider_spark.functions.html import parse_html_py, strict_parse_ok

    # the ADVICE r11 adjudicated example: strict-OK page → ["/a"]
    assert strict_parse_ok('<a href="/a" href="/b">x</a>')
    r = parse_html_py('<a href="/a" href="/b">x</a>')
    assert r["links"] == ["/a"] and r["html_errors"] == ""
    # attributes AFTER the duplicate are kept (no truncation)
    r = parse_html_py('<meta content="v" content="w" name="k"/>')
    assert r["meta_tags"] == {"k": "v"}
    r = parse_html_py('<meta name="x" name="z" content="c"/>')
    assert r["meta_tags"] == {"x": "c"}

    # tidy leg: keep-LAST at the later twin's position
    r = parse_html_py('<div><a href="/a" href="/b">x</a>')
    assert r["links"] == ["/b"]
    r = parse_html_py('<link href="a.css" href="b.css">')  # unclosed <link> → tidy
    assert r["resource_urls"] == ["b.css"]
    # same-name meta dupes keep the later twin at its later position,
    # THEN the reference's last-key-attr-wins runs over distinct names
    r = parse_html_py('<meta name="k" content="v1" content="v2">')
    assert r["meta_tags"] == {"k": "v2"}
    r = parse_html_py('<meta name="x" property="y" name="z" content="c">')
    assert r["meta_tags"] == {"z": "c"}


def test_valueless_href_collected_as_empty():
    """'<a href>' (valueless) reaches the reference through the tidy
    path as href="" — ammonia keeps it (relative) and lib.rs pushes it;
    same for link/script src/href. Explicit href="" was already kept."""
    from warcraider_spark.functions.html import parse_html_py

    r = parse_html_py('<a href>x</a><a href="">y</a><link href><script src="s.js">')
    assert r["links"] == ["", ""]
    assert r["resource_urls"] == ["", "s.js"]


def test_attr_bytes_path_keyed():
    """r12 (VERDICT r11 #1), tightened per ADVICE r12: attribute BYTES
    are html5ever-escaped on BOTH dominant legs, because both end in
    ammonia's re-serialization read raw by quick-xml — strict parses
    clean(raw) (lib.rs:188/294/303-314), the tidy leg parses
    clean(tidy(raw)) (lib.rs:204) — and ammonia escapes AFTER tidy:
    '&'→'&amp;', U+00A0→'&nbsp;', '"'→'&quot;'; '<', '>', ''' literal.
    The entity-DECODED reading belongs only to the soup fallback
    (double parse failure, lib.rs:419-553)."""
    from warcraider_spark.functions.html import parse_html_py, strict_parse_ok

    # the r11 verdict's live-divergence shape: query-string ampersand
    doc = '<a href="p?a=1&amp;b=2">x</a><link href="q?x&#61;1"/>'
    assert strict_parse_ok(doc)
    r = parse_html_py(doc)
    assert r["links"] == ["p?a=1&amp;b=2"]
    # numeric charref for '=' decodes and does NOT re-escape
    assert r["resource_urls"] == ["q?x=1"]
    # a raw bare '&' in the source re-escapes identically to '&amp;'
    assert parse_html_py('<a href="p?a=1&b=2">x</a>')["links"] == ["p?a=1&amp;b=2"]
    # nbsp (named or numeric) and double-quote re-escape; '<' stays raw
    assert parse_html_py('<a href="/a&nbsp;b">x</a>')["links"] == ["/a&nbsp;b"]
    assert parse_html_py('<a href="/a&#160;b">x</a>')["links"] == ["/a&nbsp;b"]
    assert parse_html_py("<a href='/a\"b'>x</a>")["links"] == ['/a&quot;b']
    r = parse_html_py('<meta name="k&amp;k" content="v&lt;v"/>')
    assert r["meta_tags"] == {"k&amp;k": "v<v"}

    # tidy leg: SAME escaped bytes (ammonia re-serializes tidy's output
    # before quick-xml reads it raw — the escape is tidy-independent)
    r = parse_html_py('<div><a href="p?a=1&amp;b=2">x</a><link href="q?x&#61;1">')
    assert r["links"] == ["p?a=1&amp;b=2"]
    assert r["resource_urls"] == ["q?x=1"]
    r = parse_html_py('<div><meta name="k&amp;k" content="v&lt;v">')
    assert r["meta_tags"] == {"k&amp;k": "v<v"}
    r = parse_html_py('<div><a href="/a&nbsp;b">x</a><a href=\'/a"b\'>y</a>')
    assert r["links"] == ["/a&nbsp;b", "/a&quot;b"]

    # the scheme allowlist checks the DECODED value on both legs: a
    # charref-smuggled scheme is still filtered on a strict page
    assert parse_html_py('<a href="java&#115;cript:x()">t</a>')["links"] == []


def test_strict_attr_bytes_absolutize_interplay():
    """r12 (VERDICT r11 #1 recipe): the reference's quote-strip regex
    (lib.rs:59) contains '&quot;' precisely BECAUSE strict-path values
    arrive html5ever-escaped — compose parse_html's strict output with
    make_urls_absolute and check the bytes flow like the reference's:
    '&amp;' passes through url join untouched, '&quot;' is stripped."""
    from warcraider_spark.functions.html import parse_html_py
    from warcraider_spark.functions.urls import make_urls_absolute

    r = parse_html_py(
        '<a href="p?a=1&amp;b=2">x</a><a href=\'/q"r\'>y</a><a href="/plain">z</a>'
    )
    assert r["links"] == ["p?a=1&amp;b=2", "/q&quot;r", "/plain"]
    out = make_urls_absolute("https://x.test/dir/page", r["links"])
    # sorted+deduped like the reference; &amp; survives the join, the
    # escaped quote is stripped (lib.rs:410)
    assert out == [
        "https://x.test/dir/p?a=1&amp;b=2",
        "https://x.test/plain",
        "https://x.test/qr",
    ]


def test_strict_replay_spec_comment_masking():
    """r12: the strict replay masks comments with SPEC spans — what
    html5ever consumed (and ammonia stripped) before quick-xml ever saw
    the page. An unterminated comment therefore hides every later tag
    from the replay; the abrupt forms close exactly where the spec
    closes them."""
    from warcraider_spark.functions.html import strict_parse_ok

    # unterminated comment swallows the unbalanced <div>: cleaned page
    # is just '<p>x</p>' -> strict
    assert strict_parse_ok("<p>x</p><!--<div>")
    # abrupt empty comment CLOSES at '<!-->': the <div> after it is
    # real and unbalanced -> NOT strict
    assert not strict_parse_ok("<!--><div>x")
    assert not strict_parse_ok("<!---><div>x")
    # a terminated comment masks only its own span
    assert strict_parse_ok("<!--<div>-->x")
    assert not strict_parse_ok("<!--ok--><div>x")
    # '--!>' closes (incorrectly-closed-comment): the following tag is
    # visible to the replay
    assert not strict_parse_ok("<!--x--!><div>y")
    # '-- >' (whitespace between dashes and '>') does NOT close for the
    # spec: everything after stays masked
    assert strict_parse_ok("<!--x-- ><div>y")
    # dash runs: '---->' closes
    assert not strict_parse_ok("<!--x----><div>y")


def test_spec_comment_spans_property():
    """Property pin for _spec_comment_spans (the strict replay's comment
    mask): compare against a LITERAL transcription of the spec
    tokenizer's comment states (comment-start / comment-start-dash /
    comment / comment-end-dash / comment-end / comment-end-bang), run
    character by character — the find/regex fast path must agree on
    dense random soup from the comment alphabet."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from warcraider_spark.functions.html import _spec_comment_spans

    def ref_spans(s: str) -> list[tuple[int, int]]:
        spans = []
        pos = 0
        n = len(s)
        while (i := s.find("<!--", pos)) != -1:
            p = i + 4
            state = "start"
            end = None
            while p < n and end is None:
                c = s[p]
                if state == "start":
                    if c == "-":
                        state = "start-dash"
                    elif c == ">":
                        end = p + 1  # abrupt-closing-of-empty-comment
                    else:
                        state = "comment"
                elif state == "start-dash":
                    if c == "-":
                        state = "end"
                    elif c == ">":
                        end = p + 1  # abrupt close
                    else:
                        state = "comment"
                elif state == "comment":
                    if c == "-":
                        state = "end-dash"
                elif state == "end-dash":
                    if c == "-":
                        state = "end"
                    else:
                        state = "comment"
                elif state == "end":
                    if c == ">":
                        end = p + 1
                    elif c == "!":
                        state = "end-bang"
                    elif c != "-":
                        state = "comment"
                elif state == "end-bang":
                    if c == ">":
                        end = p + 1  # incorrectly-closed-comment
                    elif c == "-":
                        state = "end-dash"
                    else:
                        state = "comment"
                p += 1
            spans.append((i, end if end is not None else n))
            pos = spans[-1][1]
        return spans

    @given(st.text(alphabet="<!->a ", max_size=60))
    @settings(max_examples=500, deadline=None)
    def check(s):
        assert _spec_comment_spans(s) == ref_spans(s), s

    check()
    # the named shapes, explicitly
    for s in ("<!-->x", "<!--->x", "<!--x--!>y", "<!--x-- >y",
              "<!--x---->y", "<!--x", "a<!--b--><!--c"):
        assert _spec_comment_spans(s) == ref_spans(s), s


def test_strict_attr_bytes_fuzz():
    """r12 directed fuzz (VERDICT r11 #1+#3): strict-clean pages dense
    in entity-bearing attribute values and duplicate attributes, with
    expectations computed BY THE GENERATOR from the reference contract:

    - strict page → keep-FIRST twins, values in html5ever's re-escaped
      attribute serialization of the decoded value ('&'→'&amp;',
      U+00A0→'&nbsp;', '"'→'&quot;', everything else literal);
    - the SAME page made non-strict (one unclosed <div> prepended) →
      keep-LAST twins (tidy's repeated-attributes repair), but the SAME
      escaped bytes — ammonia re-serializes AFTER tidy (ADVICE r12), so
      only the dup-attr rule distinguishes the legs, never the escape.

    The generator builds each value as a (source_fragment, decoded)
    pair list, so both expectations are derived without consulting the
    parser."""
    rng = random.Random(20260816)

    # (source form, decoded char) — both engines decode these charrefs
    ENT = [
        ("&amp;", "&"), ("&#38;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&#61;", "="), ("&eacute;", "é"), ("&nbsp;", "\xa0"),
        ("&#160;", "\xa0"), ("&#x26;", "&"), ("&quot;", '"'),
    ]

    def h5(v: str) -> str:
        return v.replace("&", "&amp;").replace("\xa0", "&nbsp;").replace('"', "&quot;")

    checked_escape_kinds = set()
    for i in range(400):
        parts: list[str] = []
        strict_links: list[str] = []
        tidy_links: list[str] = []
        strict_res: list[str] = []
        tidy_res: list[str] = []
        strict_meta: dict[str, str] = {}
        tidy_meta: dict[str, str] = {}
        mark = 0

        def value(allow_quote: bool) -> tuple[str, str]:
            """(source bytes inside double quotes, decoded value)."""
            nonlocal mark
            mark += 1
            src, dec = f"v{i}x{mark}", f"v{i}x{mark}"
            for _ in range(rng.randrange(0, 3)):
                e_src, e_dec = rng.choice(ENT)
                if not allow_quote and e_dec == '"':
                    continue
                src += e_src + "t"
                dec += e_dec + "t"
            return src, dec

        for _ in range(rng.randrange(3, 10)):
            op = rng.random()
            if op < 0.45:  # anchor, 30% duplicate href
                s1, d1 = value(allow_quote=False)
                if rng.random() < 0.3:
                    s2, d2 = value(allow_quote=False)
                    parts.append(f'<a href="/{s1}" href="/{s2}">t</a>')
                    strict_links.append(h5("/" + d1))  # keep-first
                    tidy_links.append(h5("/" + d2))    # keep-last, same escape
                else:
                    parts.append(f'<a href="/{s1}">t</a>')
                    strict_links.append(h5("/" + d1))
                    tidy_links.append(h5("/" + d1))
            elif op < 0.7:  # self-closed resource (strict-parseable)
                s1, d1 = value(allow_quote=False)
                parts.append(f'<script src="/{s1}.js"></script>')
                strict_res.append(h5("/" + d1 + ".js"))
                tidy_res.append(h5("/" + d1 + ".js"))
            else:  # meta, key and content both entity-bearing
                ks, kd = value(allow_quote=False)
                vs, vd = value(allow_quote=False)
                parts.append(f'<meta name="k{ks}" content="c{vs}"/>')
                strict_meta[h5("k" + kd)] = h5("c" + vd)
                tidy_meta[h5("k" + kd)] = h5("c" + vd)

        doc = "".join(parts)
        assert strict_parse_ok(doc), (i, doc[:300])
        r = parse_html_py(doc)
        assert r["html_errors"] == ""
        assert r["links"] == strict_links, (i, r["links"], strict_links)
        assert r["resource_urls"] == strict_res, (i, doc[:300])
        assert r["meta_tags"] == strict_meta, (i, doc[:300])
        for v in strict_links + strict_res:
            for kind, ch in (("amp", "&amp;"), ("nbsp", "&nbsp;")):
                if ch in v:
                    checked_escape_kinds.add(kind)

        tidy_doc = "<div>" + doc  # one unclosed element: tidy leg
        assert not strict_parse_ok(tidy_doc)
        r2 = parse_html_py(tidy_doc)
        assert r2["links"] == tidy_links, (i, r2["links"], tidy_links)
        assert r2["resource_urls"] == tidy_res, (i, tidy_doc[:300])
        assert r2["meta_tags"] == tidy_meta, (i, tidy_doc[:300])

    # the corpus actually exercised the escape classes
    assert checked_escape_kinds == {"amp", "nbsp"}, checked_escape_kinds


def test_strict_attr_escape_roundtrip_property():
    """Round-trip property for the strict-path attribute bytes: for an
    arbitrary decoded value v, a strict page whose source carries v
    (source-escaped just enough to be lexable: & and \") must emit
    exactly _h5_escape_attr(v) — html5ever's serializer escape of the
    tokenizer-decoded value — through parse_html_py. Exercises raw
    unicode, literal NBSP, '<', '>', quotes and ampersand runs beyond
    the generator table of the directed fuzz."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from warcraider_spark.functions.html import _h5_escape_attr

    alphabet = (
        "".join(chr(c) for c in range(0x20, 0x7F)) + "\xa0\xe9\xea" + "一丁"
    )
    value = st.text(alphabet=alphabet, max_size=24)

    @given(value)
    @settings(max_examples=400, deadline=None)
    def check(v):
        src = v.replace("&", "&amp;").replace('"', "&quot;")
        doc = f'<a href="/x{src}">t</a><meta name="k" content="c{src}"/>'
        assert strict_parse_ok(doc), doc
        r = parse_html_py(doc)
        want = _h5_escape_attr("/x" + v)
        # ammonia's scheme check on the decoded value can only drop the
        # href if v smuggles a scheme; '/x' prefix keeps it relative
        assert r["links"] == [want], (v, r["links"])
        assert r["meta_tags"] == {"k": _h5_escape_attr("c" + v)}

    check()


def test_scan_tag_close_property():
    """Property test for the RAWTEXT end-tag attribute scanner: build
    attribute sequences constructively so the closing '>' position is
    known by construction — quoted values may contain '>', everything
    else must not — then check _scan_tag_close lands exactly past it.
    Also: a '>' inside a quoted value never closes; EOF returns None."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from warcraider_spark.functions.html import _Extractor

    name_chars = st.text(alphabet="abcz123-_", min_size=1, max_size=6)
    ws = st.sampled_from([" ", "\t", "\n", "\f", "  "])

    @st.composite
    def attr_fragment(draw):
        kind = draw(st.integers(0, 4))
        n = draw(name_chars)
        if kind == 0:
            return draw(ws) + n  # bare attribute
        if kind == 1:  # double-quoted value, may hide '>'
            v = draw(st.text(alphabet="a>b<' =/", max_size=8))
            return draw(ws) + n + '="' + v + '"'
        if kind == 2:  # single-quoted value, may hide '>'
            v = draw(st.text(alphabet='a>b<" =/', max_size=8))
            return draw(ws) + n + "='" + v + "'"
        if kind == 3:  # unquoted value (no '>', no quotes, no ws)
            v = draw(st.text(alphabet="abc123&;", min_size=1, max_size=6))
            return draw(ws) + n + "=" + v
        return draw(ws) + "/"  # stray solidus

    @given(st.lists(attr_fragment(), max_size=5), st.text(alphabet="axz ", max_size=6))
    @settings(max_examples=300, deadline=None)
    def check(frags, tail):
        body = "".join(frags)
        s = " " + body + ">" + tail  # scanner starts at the first delimiter
        got = _Extractor._scan_tag_close(s, 0, len(s))
        assert got == 2 + len(body), (s, got)
        # EOF inside the tag: no '>' at all -> None
        assert _Extractor._scan_tag_close(" " + body, 0, 1 + len(body)) is None

    check()


# --- r13 (ADVICE r12): three-leg path model — tidy vs soup split -----------


HAZ = "<script>var x='<!'+'[CD'+'ATA';</script>"  # the moneysmart shape


def test_parse_path_classifier(monkeypatch):
    """parse_path routes pages by the mechanism the reference actually
    exhibits (lib.rs:184-239): strict quick-xml success → 'strict';
    a quick-xml FATAL token preserved through tidy+ammonia (script
    rawtext) kills BOTH quick-xml legs → 'soup'; any other strict
    failure is structural, which tidy repairs and check_end_names=false
    forgives → 'tidy'. The soup specimen is moneysmart itself: its
    email-payload script contains "<!'" (UnexpectedBang) and its golden
    meta values hold a DECODED '&' where the raw page has '&amp;' —
    only the soup leg decodes. The specimen check runs last: without the
    reference tree every synthetic assertion still runs before the
    counted skip."""
    from tests.test_reference_fidelity import ref_file
    from warcraider_spark.functions import html as H
    from warcraider_spark.functions.html import parse_path, quickxml_fatal_hazard

    assert parse_path("<p>x</p>") == "strict"
    assert parse_path("<div><p>x") == "tidy"
    # bang hazard → soup, even on an otherwise balanced page
    assert parse_path(HAZ + "<p>x</p>") == "soup"
    # one hazard scan per page, whichever leg wins
    calls = []
    scan = H._rawtext_scan
    monkeypatch.setattr(H, "_rawtext_scan", lambda doc: calls.append(doc) or scan(doc))
    for page in ("<p>x</p>", "<div><p>x", HAZ + "<p>x</p>"):
        calls.clear()
        H.parse_html_py(page)
        assert calls == [page], (page, len(calls))
    monkeypatch.undo()
    assert quickxml_fatal_hazard(HAZ)
    # '<!' shapes quick-xml accepts are NOT hazards: comment (closed
    # later), CDATA (closed), DOCTYPE-ish (scan to '>')
    assert not quickxml_fatal_hazard("<script>//<!-- c --></script>")
    assert not quickxml_fatal_hazard("<script>s='<![CDATA[x]]>';</script>")
    assert not quickxml_fatal_hazard("<script>s='<!DOCTYPE x>';</script>")
    # unterminated scans ARE hazards (UnexpectedEof)
    assert quickxml_fatal_hazard("<script>//<!--\n</script><p>x</p>")
    assert quickxml_fatal_hazard("<script>s='<![CDATA[x';</script>")
    assert quickxml_fatal_hazard("<script>var a = b <")
    # quick-xml's comment scan may terminate on text bytes AFTER the
    # script ('>' is not escaped in serialized text), but a closer
    # inside a TRUE markup comment is stripped by ammonia and cannot
    # terminate the scan
    assert not quickxml_fatal_hazard("<script>//<!--\n</script><p>x --> y</p>")
    assert quickxml_fatal_hazard("<script>//<!--\n</script><!-- x --><p>q</p>")
    # plain-JS scripts carry no hazard; '<' in a phantom-tag scan that
    # finds a later '>' is fine
    assert not quickxml_fatal_hazard("<script>var a=1; if(a<2){f();}</script>")
    # markup '<!' never reaches quick-xml (html5ever: bogus comment,
    # stripped) — only script rawtext is a habitat
    assert parse_path("<p>x</p><!x>") != "soup"
    # '<script' inside an attribute value opens no region
    assert not quickxml_fatal_hazard('<p title="<script>"><b><!-- ok --></b></p>')
    # a script inside an ammonia-deleted rawtext region never serializes
    assert not quickxml_fatal_hazard("<noscript><script>a='<!'+'x';</script></noscript>")
    # the real specimen
    raw = ref_file("moneysmart.htm").read_text(errors="replace")
    assert parse_path(raw) == "soup"


def test_hazard_scan_linear_time():
    """The hazard scan stays linear on the page shapes that once made it
    quadratic (times on a 4-vCPU host):
    - 40,000 markup comments after a script's unterminated '<!--': each
      '-->' candidate is tested against the comments with one binary
      search (against every comment: about a minute);
    - 100,000 script elements (1.8 MB): each rawtext end tag is searched
      in place (copying the rest of the page per region: about 6 s)."""
    import time

    from warcraider_spark.functions.html import quickxml_fatal_hazard

    for page, limit_s in (
        ("<script>//<!--\n</script>" + "<!-- c -->" * 40_000 + "<p>x --> y</p>", 5.0),
        ("<script>x</script>" * 100_000, 2.0),
    ):
        t0 = time.perf_counter()
        assert not quickxml_fatal_hazard(page)
        assert time.perf_counter() - t0 < limit_s, page[:40]


def test_soup_leg_semantics():
    """Soup pages (double parse failure) read html5ever's DOM: values
    entity-DECODED (lib.rs:419-553), duplicate attrs keep-FIRST
    (html5ever deduped clean(raw) — tidy's keep-last repair output is
    never parsed), comments per the SPEC tokenizer (html5ever consumed
    them during the pre-clean)."""
    from warcraider_spark.functions.html import parse_html_py, strict_parse_ok

    doc = HAZ + '<a href="p?a=1&amp;b=2">x</a><link href="q?x&#61;1">'
    assert not strict_parse_ok(doc)
    r = parse_html_py(doc)
    assert r["links"] == ["p?a=1&b=2"]          # decoded, not re-escaped
    assert r["resource_urls"] == ["q?x=1"]
    r = parse_html_py(HAZ + '<a href="/a&nbsp;b">x</a>')
    assert r["links"] == ["/a\xa0b"]
    r = parse_html_py(HAZ + '<meta name="k&amp;k" content="v&lt;v">')
    assert r["meta_tags"] == {"k&k": "v<v"}
    # keep-FIRST twins (html5ever rule — NOT tidy's keep-last)
    r = parse_html_py(HAZ + '<a href="/a" href="/b">x</a>')
    assert r["links"] == ["/a"]
    # spec comment termination (abrupt close), not tidy's '--\\s*>'
    r = parse_html_py(HAZ + "<!-->rest")
    assert r["text"] == ["rest"]
    # html_errors still carries tidy's stderr: tidy RUNS on every
    # non-strict page even when its output fails to parse (lib.rs:240)
    assert isinstance(r["html_errors"], str)


def _ref_tag_end(s: str, lt: int) -> int | None:
    """Literal character loop of quick-xml 0.17's read_elem_until: from
    the '<' at ``lt``, the index past the first '>' outside quotes
    (either quote char toggles); None = EOF inside the tag."""
    q = None
    for p in range(lt + 1, len(s)):
        c = s[p]
        if q:
            if c == q:
                q = None
        elif c in "\"'":
            q = c
        elif c == ">":
            return p + 1
    return None


def test_rawtext_scan_property():
    """Property pin for _rawtext_scan (the soup classifier's tokenizer)
    and its tag scanner _TagScanner.end: compare the find/regex
    fast path against a LITERAL character-by-character transcription of
    the html5ever tokenization it models — NORMAL / TAG(quote-aware) /
    rawtext-to-'</name'+delimiter / spec-comment states — on dense
    random soup from the trigger alphabet. Both the script spans AND the
    markup-comment spans must agree (the hazard search excludes
    terminators inside the latter)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from warcraider_spark.functions.html import _rawtext_scan, _TagScanner

    RAW = ("script", "style", "noscript", "noframes")

    def ref_scan(s: str):
        import re as _re

        scripts, comments = [], []
        pos, n = 0, len(s)
        while pos < n:
            if s[pos] != "<":
                pos += 1
                continue
            low = s[pos:].lower()
            raw = next(
                (
                    t
                    for t in RAW
                    if low.startswith("<" + t)
                    and (
                        len(low) == len(t) + 1
                        or low[len(t) + 1] in "\t\n\r\f />"
                    )
                ),
                None,
            )
            if raw is not None:
                # tag-open scan: quote-aware to the first unquoted '>'
                gt = _ref_tag_end(s, pos)
                if gt is None:
                    break  # EOF inside the start tag
                m = _re.search(
                    r"</%s(?=[\t\n\r\f />]|$)" % raw, s[gt:], _re.I
                )
                end = gt + m.start() if m else n
                if raw == "script":
                    scripts.append((gt, end))
                pos = end + 2 if m else n
                continue
            if s.startswith("<!--", pos):
                j = pos + 4
                if s[j : j + 1] == ">":
                    e = j + 1
                elif s[j : j + 2] == "->":
                    e = j + 2
                else:
                    # comment state machine: >=2 dashes then optional '!'
                    # then '>' (the _SPEC_COMMENT_CLOSE contract, already
                    # property-pinned against the spec tokenizer)
                    m = _re.search(r"-{2,}!?>", s[j:])
                    e = j + m.end() if m else n
                comments.append((pos, e))
                pos = e
                continue
            # ordinary '<...': quote-aware scan to '>' or treat as text
            end = _ref_tag_end(s, pos)
            pos = end if end is not None else pos + 1
        return scripts, comments

    alphabet = "<>!-'\"/scriptnoyleamf D[CDATA]"

    @given(st.text(alphabet=alphabet, max_size=80))
    @settings(max_examples=600, deadline=None)
    def check(s):
        assert _rawtext_scan(s) == ref_scan(s), s
        assert _TagScanner(s).end(0) == _ref_tag_end(s, 0), s

    check()
    # directed shapes at the state seams
    for s in (
        "<script>a</script>",
        "<SCRIPT a='>'>x</SCRIPT >b",
        '<p title="<script>">no</p>',
        "<noscript><script>x</script></noscript><script>y</script>",
        "<script>unterminated",
        "<script",
        "<!-- <script>hidden</script> --><script>real</script>",
        "<script>//<!--\n</script><!-- c -->",
        "<style>.a{}</style><script>s</script>",
        "<scriptx>not raw</scriptx><script/>still raw</script>",
        "<script></scripts></script>",
        '<a title="unterminated',                # '"' open at EOF
        """<a title="it's">x""",                 # "'" inside "…"
        """<a t='1>2' u="3>4">x""",             # '>' inside both quote kinds
        "<>x",
        "<a" + " b='c'" * (2**20 // 6),          # 1 MB tag with no '>'
    ):
        assert _rawtext_scan(s) == ref_scan(s), s[:80]
        assert _TagScanner(s).end(0) == _ref_tag_end(s, 0), s[:80]


# The tag regexes the scanner replaced, kept as its oracle: _ORACLE_TAG_RE
# was the element-tag scan of the balance replay and tidy's main pass,
# _ORACLE_REST_RE quick-xml's tag-end scan in the rawtext and hazard scans.
_ORACLE_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)(/?)>"
)
_ORACLE_REST_RE = re.compile(r"""[^"'>]*(?:(?:"[^"]*"|'[^']*')[^"'>]*)*>""")


def test_tag_scanner_matches_regex_oracle():
    """_TagScanner answers every query like the regexes it replaced:
    ``end(i)`` like _ORACLE_REST_RE from i + 1, ``search(pos)`` like
    _ORACLE_TAG_RE.search (same span and groups 1-3; the oracle's group
    4 is always empty, its group 3 keeps a trailing '/'). Strings carry
    unmatched quotes of both kinds, and the queries of one page run in a
    random order on one scanner, so answers read from the memo of an
    earlier failed scan are checked too."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from warcraider_spark.functions.html import _TagScanner

    @given(
        st.text(alphabet="<>\"'/ab= \n-!", max_size=60),
        st.randoms(use_true_random=False),
    )
    @settings(max_examples=600, deadline=None)
    def check(s, rnd):
        scan = _TagScanner(s)
        positions = list(range(len(s) + 1))
        rnd.shuffle(positions)
        for i in positions:
            m = _ORACLE_REST_RE.match(s, i + 1)
            assert scan.end(i) == (m.end() if m else None), (s, i)
            want = _ORACLE_TAG_RE.search(s, i)
            got = scan.search(i)
            if want is None:
                assert got is None, (s, i)
                continue
            assert want.group(4) == ""
            assert got is not None, (s, i)
            assert (got.span(), got.group(1, 2, 3)) == (
                want.span(),
                want.group(1, 2, 3),
            ), (s, i)

    check()


def test_tag_scans_linear_on_unclosed_tail():
    """A '>'-free tail of 'a<b' (200 KB) fails the tag scan from every
    '<'; each failed chain is followed once, so the rawtext scan, the
    balance replay and tidy's tag pass stay linear. With one regex scan
    per '<' each took minutes (20 KB: 3-14 s, 4-vCPU host)."""
    import time

    from warcraider_spark.functions.html import (
        _end_names_balance,
        _rawtext_scan,
        tidy_diagnostics,
    )

    page = "<script>x</script>" + "a<b" * (200 * 1024 // 3) + "it's"
    for fn in (_rawtext_scan, _end_names_balance, tidy_diagnostics):
        t0 = time.perf_counter()
        fn(page)
        assert time.perf_counter() - t0 < 1.0, fn.__name__
    # tidy's missing-quote lexer looks for a '</' only up to the closing
    # quote: 20,000 quoted attributes with no end tag after them (260 KB)
    # took 4.4 s when each quote searched for '</' to EOF
    t0 = time.perf_counter()
    tidy_diagnostics('<img src="a">' * 20_000)
    assert time.perf_counter() - t0 < 2.0
