"""Property-based tests (SURVEY §5 test plan #4) — hypothesis over the
pure-Python operator cores (the same functions the pandas UDFs wrap)."""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from warcraider_spark.functions.rake import rake_text
from warcraider_spark.functions.stopwords import SMART_STOPWORDS
from warcraider_spark.functions.urls import make_urls_absolute

url_paths = st.from_regex(r"/[a-z0-9/_.-]{0,30}", fullmatch=True)
words = st.from_regex(r"[A-Za-z]{1,12}", fullmatch=True)
texts = st.lists(words, min_size=0, max_size=60).map(" ".join)


@settings(max_examples=200, deadline=None)
@given(st.lists(url_paths, max_size=10))
@example(["//h"])  # protocol-relative link whose host is a prefix of
# "http": the old empty-path normalization substring-replaced the netloc
# and produced "h/ttp://h" (hypothesis-found regression)
def test_absolutize_idempotent(links):
    """absolutize(absolutize(x)) == absolutize(x) — resolved URLs resolve
    to themselves (lib.rs:400-417 semantics)."""
    base = "http://example.gov.au/dir/page.html"
    once = make_urls_absolute(base, links)
    twice = make_urls_absolute(base, once)
    assert twice == once


@settings(max_examples=200, deadline=None)
@given(st.lists(url_paths, max_size=10))
def test_absolutize_sorted_unique(links):
    out = make_urls_absolute("http://example.com", links)
    assert out == sorted(set(out))


@settings(max_examples=200, deadline=None)
@given(texts)
def test_rake_keywords_from_vocabulary(text):
    """Every keyword is made of non-stopword tokens of the input, and all
    scores are non-negative (scores are sums of (degree+freq)/freq ≥ 1,
    or 0 for all-number phrases)."""
    kws = rake_text(text)
    vocab = set(text.split())
    for kw, score in kws.items():
        assert score >= 0.0
        for w in kw.split(" "):
            assert w in vocab
            assert w.lower() not in SMART_STOPWORDS


@settings(max_examples=100, deadline=None)
@given(texts)
def test_rake_deterministic(text):
    assert rake_text(text) == rake_text(text)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200))
def test_parse_html_never_raises(raw):
    """The parse UDF must be total — arbitrary input produces a valid
    HTMLResult dict, never an exception (the pipeline depends on it)."""
    from warcraider_spark.functions.html import parse_html_py

    out = parse_html_py(raw)
    assert set(out) == {
        "ok", "html_errors", "title", "text", "headings_text", "links", "resource_urls", "meta_tags",
    }


def _pack_model(counts: list[int], cap: int) -> list[tuple[int, int, bool]]:
    """Reference model for sequence packing: walk the concatenated token
    stream; each doc's bin is where its first token lands; it straddles
    iff its first and last token land in different bins."""
    out, offset = [], 0
    for n in counts:
        start_bin = offset // cap
        end_bin = (offset + n - 1) // cap if n > 0 else start_bin
        out.append((offset, start_bin, n > 0 and start_bin != end_bin))
        offset += n
    return out


def test_sequence_pack_edge_cases(spark):
    """Zero-token docs, a doc wider than a whole window, an exact-boundary
    fit, and a boundary-crossing doc — Spark result must equal the
    walk-the-stream reference model."""
    from warcraider_spark.operators.text import sequence_pack

    cap = 10
    counts = [3, 0, 7, 10, 25, 0, 5, 10, 1]  # exact fit at 3+7, giant 25, zeros
    rows = [("s", i, n) for i, n in enumerate(counts)]
    base = spark.createDataFrame(rows, "source string, doc_id long, n_tok long")
    got = {
        r["doc_id"]: (r["start_offset"], r["bin_id"], r["straddles"])
        for r in sequence_pack(base, cap=cap).collect()
    }
    expect = {i: v for i, v in enumerate(_pack_model(counts, cap))}
    assert got == expect
    # bin ids are monotone non-decreasing in stream order
    bins = [got[i][1] for i in range(len(counts))]
    assert bins == sorted(bins)


def test_sequence_pack_shards_independent(spark):
    """Packing is per-shard: identical token streams in two shards get
    identical offsets/bins (no cross-shard leakage)."""
    from warcraider_spark.operators.text import sequence_pack

    counts = [4, 9, 2, 11]
    rows = [(s, i, n) for s in ("a", "b") for i, n in enumerate(counts)]
    base = spark.createDataFrame(rows, "source string, doc_id long, n_tok long")
    out = sequence_pack(base, cap=8).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["source"], {})[r["doc_id"]] = (
            r["start_offset"], r["bin_id"], r["straddles"],
        )
    assert by_shard["a"] == by_shard["b"]


# --- CDC chunker properties (q136/q130, r6) -------------------------------


def _cdc_ref(text: str):
    """Pure-python reference of the q136 chunker (same constants), used
    to state the invariants independently of both engines."""
    import re as _re

    from warcraider_spark.operators.dedup import CDC_M, CDC_MASK, CDC_W, _CDC_POWS

    s = _re.sub(r"[^a-zA-Z0-9 ]", "", text).lower()
    L = len(s)
    cuts = []
    if L >= CDC_W:
        for i in range(1, L - CDC_W + 2):  # 1-based like the SQL
            h = sum(ord(s[i + j - 1]) * _CDC_POWS[j] for j in range(CDC_W)) % CDC_M
            b = i + CDC_W - 1
            if h % (CDC_MASK + 1) == 0 and b < L:
                cuts.append(b)
    starts, ends = [0] + cuts, cuts + [L]
    return s, [s[a:b] for a, b in zip(starts, ends)]


@given(st.text(alphabet="abcdefgh XYZ.!129", min_size=0, max_size=400))
@settings(max_examples=200, deadline=None)
def test_cdc_reference_conserves_text(text):
    """Chunking is a partition of the normalized text: concatenating the
    chunks in order reproduces it exactly, every chunk is non-empty
    (when the text is), and every boundary sits at least W chars in."""
    from warcraider_spark.operators.dedup import CDC_W

    s, chunks = _cdc_ref(text)
    assert "".join(chunks) == s
    if s:
        assert all(chunks)
        pos = 0
        for c in chunks[:-1]:
            pos += len(c)
            assert CDC_W <= pos < len(s)


def _cdc_spark_chunks(spark, samples):
    from pyspark.sql import functions as F

    from warcraider_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(samples)], "doc_id long, text string"
    )
    rows = (
        cdc_chunks(df)
        .groupBy("doc_id")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(chunk_idx, chunk))), x -> x.chunk)"
        ).alias("chunks"))
        .collect()
    )
    return {r["doc_id"]: list(r["chunks"]) for r in rows}


def _cdc_adversarial_samples():
    import random

    rng = random.Random(1846)
    alphabet = "abcdefgh XYZ.!129"
    samples = ["", "...", "!!", "short", "a" * 15, "a" * 16, "ab " * 200]
    samples += ["".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 400)))
                for _ in range(60)]
    return samples


def test_cdc_spark_matches_reference(spark):
    """The Spark chunker (Arrow cuts path) equals the python
    reference on a deterministic batch of adversarial strings (empty,
    punctuation-only, shorter than W, boundary-dense repeats) — ONE
    Spark job for the whole batch."""
    samples = _cdc_adversarial_samples()
    got = _cdc_spark_chunks(spark, samples)
    for i, t in enumerate(samples):
        s, ref = _cdc_ref(t)
        if not s:
            # builder drops empty TEXT rows; text normalizing to '' yields
            # one empty chunk through both engines (documented edge)
            assert got.get(i, [""]) in ([""], [])
            continue
        assert got[i] == ref, (i, t[:50])


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(list("<>/\"'= abdefhilmnoprstuvy\n\t!-&#;x9")),
        max_size=300,
    )
)
def test_tidy_diagnostics_total_and_wellformed(raw):
    """The diagnostics scanner must be total over adversarial tag soup
    (r8: the alphabet is tag-construction-heavy so broken quotes, bare
    end tags, half-formed comments and doctypes all reach the parser
    paths, and includes '&'/'#'/';'/hex chars so half-formed entities
    reach the class-12/13 scanner): it never raises, returns "" or
    newline-terminated tidy-format lines, and is deterministic."""
    import re as _re

    from warcraider_spark.functions.html import tidy_diagnostics

    out = tidy_diagnostics(raw)
    assert out == "" or out.endswith("\n")
    for line in out.splitlines():
        assert _re.match(r"^line \d+ column \d+ - Warning: ", line), line
    assert tidy_diagnostics(raw) == out


def _rep_adversarial_samples():
    import random

    rng = random.Random(2024)
    alphabet = "ab c\nd\te AB. !"
    samples = [
        "",                       # empty: [""] token path, text_chars 0
        " ",                      # whitespace-only
        "one",                    # G < every n: whole-doc gram
        "a a",                    # G=2: exactly one 2-gram
        "x y x y",                # tie between ("x","y") and ("y","x")
        "aa bb aa bb cc ddd cc ddd",  # cnt tie, longer gram wins
        "\n\n\n",                 # paragraph-split edges
        "dup\ndup\nuniq",         # duplicate lines
        "p1 text\n\np1 text\n\nother",  # duplicate paragraphs
        "tab\tstays inside token",  # \t is a token splitter (ASCII \s)
        "trail  ",                # trailing empties dropped (Java split)
        "  lead",                 # leading empty kept
        "日本 語 日本 語 テスト",      # multi-byte chars: char counts not bytes
    ]
    samples += [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 300)))
        for _ in range(50)
    ]
    return samples


def _rep_ref(text: str) -> dict[str, int]:
    """Pure-Python reference of q139's 21 repetition signals, written
    from its docstring: whitespace tokens (ASCII \\s, outer spaces
    trimmed, empties dropped); lines on \\n and paragraphs on \\n{2,},
    each trimmed of spaces with empties dropped; duplicate counts and
    characters over ALL members of a duplicated group; occurrence-weighted
    dup-gram characters; top-gram count ties broken to the longer gram;
    a doc with fewer than n tokens is ONE whole-doc n-gram; the character
    denominator is the single-space-joined token text."""
    from collections import Counter

    from warcraider_spark.operators.text import _REP_DUP_PCT, _REP_TOP_PCT

    toks = [w for w in re.split(r"\s+", text.strip(" "), flags=re.ASCII) if w]
    lines = [v for v in (x.strip(" ") for x in text.split("\n")) if v]
    paras = [v for v in (x.strip(" ") for x in re.split(r"\n{2,}", text)) if v]
    joined = " ".join(toks)

    def dup(vals):
        c = Counter(vals)
        return (
            sum(k for k in c.values() if k >= 2),
            sum(k * len(v) for v, k in c.items() if k >= 2),
        )

    def grams(n):
        if len(toks) < n:
            return [joined]
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    sig = {
        "text_chars": len(joined),
        "n_lines": len(lines),
        "line_chars": sum(map(len, lines)),
        "n_paras": len(paras),
        "para_chars": sum(map(len, paras)),
    }
    sig["dup_lines"], sig["dup_line_chars"] = dup(lines)
    sig["dup_paras"], sig["dup_para_chars"] = dup(paras)
    for n in sorted(_REP_TOP_PCT):
        c = Counter(grams(n))
        top = max(c.values())
        sig[f"top{n}_cnt"] = top
        sig[f"top{n}_len"] = max(len(g) for g, k in c.items() if k == top)
    for n in sorted(_REP_DUP_PCT):
        sig[f"dup{n}_chars"] = dup(grams(n))[1]
    return sig


def test_rep_arrow_matches_python_reference(spark):
    """The shipped batched-Arrow repetition kernel produces exactly the
    pure-Python reference's 21 signals on the adversarial batch (short
    docs, ties, multi-line/multi-paragraph, Java-split quirks, multi-byte
    chars), and ``kept`` is the AND of every verdict column."""
    from warcraider_spark.operators.text import (
        _REP_SIGNAL_FIELDS,
        gopher_repetition_table,
    )

    samples = _rep_adversarial_samples()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(samples)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition_table(df).collect()}
    assert sorted(got) == list(range(len(samples)))
    for k, row in got.items():
        want = _rep_ref(samples[k])
        sig = {f: row[f] for f in _REP_SIGNAL_FIELDS}
        assert sig == want, (k, samples[k][:50], {
            f: (sig[f], want[f]) for f in want if sig[f] != want[f]
        })
        oks = [v for f, v in row.items() if f.endswith("_ok")]
        assert len(oks) == 13 and row["kept"] == all(oks)


def test_sdot_tf_kernel_matches_python_counter(spark):
    """_sdot_tf_arrow counts terms per document inside each Arrow batch:
    with two-record batches every document (one row per doc_id, the
    kernel's precondition) still gets exactly its own counts, saturated
    at SDOT_TF_CAP, equal to a pure-Python term counter. Null terms
    count as their own group, as a Spark groupBy on (doc_id, term)
    would."""
    from collections import Counter

    from warcraider_spark.operators.text import SDOT_TF_CAP, _sdot_tf_arrow

    rows = [
        (1, ["a b", "b c", "a b"]),
        (2, []),
        (3, ["x y"] * (SDOT_TF_CAP + 10) + ["y z"]),   # saturates
        (4, ["a b"]),                                   # term shared across docs
        (5, ["p q", None, "p q", None]),
        (6, ["b c", "c d", "d e", "c d"]),
        (7, ["日本 語", "日本 語"]),
    ]
    ts = spark.createDataFrame(rows, "doc_id long, ts array<string>").coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        got = Counter(
            (r.doc_id, r.term, r.tf) for r in _sdot_tf_arrow(ts).collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = Counter(
        (doc_id, term, min(n, SDOT_TF_CAP))
        for doc_id, terms in rows
        for term, n in Counter(terms).items()
    )
    assert got == want
