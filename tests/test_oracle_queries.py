"""Every registered query hash-matches its DuckDB oracle at sf0.001.

This is a local replica of the driver's t2 gate (run at the smaller sf for
speed; the driver runs sf0.01). Queries without an oracle just must run and
return a stable schema.
"""

from __future__ import annotations

import pytest

from warcraider_spark.oracle import run_oracle
from warcraider_spark.registry import all_specs


@pytest.mark.parametrize("name", sorted(all_specs()))
def test_query_matches_oracle(spark, sf_smoke, name):
    spec = all_specs()[name]
    res = run_oracle(spark, spec, sf_smoke)
    assert res.ok, f"{name}: {res.detail}"
    assert res.spark_rows >= 0


def test_rows_only_list_column_rejected(spark, sf_smoke):
    """A rows-only query emitting an array column must fail LOCALLY: the
    driver's pandas canonicalizer crashes on list cells (q150's r2 ERR), so
    run_oracle hashes rows-only output through the same strict canon."""
    from pyspark.sql import functions as F

    from warcraider_spark.registry import QuerySpec

    spec = QuerySpec(
        name="rows_only_list_probe",
        builder=lambda s, d: s.range(3).select(F.array(F.col("id")).alias("arr")),
        oracle=None,
    )
    with pytest.raises(TypeError, match="array/map"):
        run_oracle(spark, spec, sf_smoke)


def test_pmi_log_domain_guard(spark):
    """q135's ranking column on synthetic (n_xy, n_x, n_y, nn, mx, mxx,
    mxy) rows: cert-scale counts take the integer path; counts whose
    numerator (mx*nn*1e6) or denominator (mxx*mxy) could overflow int64
    take the log-domain micro-nat path, each guard checked on both sides
    of its boundary; and the log path ranks like driver-side math.log."""
    import math

    from warcraider_spark.operators.text import _pmi_rank

    int64max = 2**63 - 1
    nn_big = 10**12
    cut_num = (int64max // 1_000_000) // nn_big  # largest integer-path mx
    cut_den = int64max // 2_000_000_000  # largest integer-path mxx
    big = 60_000_000_000
    rows = [  # (w1, w2, n_xy, n_x, n_y, nn, mx, mxx, mxy, path)
        ("cert", "scale", 50, 400, 300, 10**6, 10_000, 5_000, 5_000, "int"),
        ("num", "below", 9, 1_000, 2_000, nn_big, cut_num, 10**6, 10**6, "int"),
        ("num", "above", 9, 1_000, 2_000, nn_big, cut_num + 1, 10**6, 10**6, "log"),
        ("den", "below", 5, 4 * 10**9, 2 * 10**9, 10**10, 5, cut_den, 2 * 10**9, "int"),
        ("den", "above", 5, 4 * 10**9, 2 * 10**9, 10**10, 5, cut_den + 1, 2 * 10**9, "log"),
        # web-scale marginals: the log path must keep the PMI ranking
        ("new", "york", 9_000_000, 20_000_000, 10_000_000, nn_big, 9_000_000, big, big, "log"),
        ("of", "the", 8_000_000, 40 * 10**9, big, nn_big, 9_000_000, big, big, "log"),
        ("machine", "learning", 2_000_000, 5_000_000, 3_000_000, nn_big, 9_000_000, big, big, "log"),
        ("hong", "kong", 1_500_000, 1_600_000, 1_550_000, nn_big, 9_000_000, big, big, "log"),
    ]
    df = spark.createDataFrame(
        [r[:-1] for r in rows],
        "w1 string, w2 string, n_xy long, n_x long, n_y long, nn long, mx long, mxx long, mxy long",
    )
    got = {
        (r["w1"], r["w2"]): r["pmi"]
        for r in df.select("w1", "w2", _pmi_rank().alias("pmi")).collect()
    }
    for w1, w2, n_xy, n_x, n_y, nn, _mx, _mxx, _mxy, path in rows:
        if path == "int":
            assert got[(w1, w2)] == n_xy * nn * 1_000_000 // (n_x * n_y), (w1, w2)
        else:
            exact = math.floor(
                1_000_000 * (math.log(n_xy) + math.log(nn) - math.log(n_x) - math.log(n_y))
            )
            assert abs(got[(w1, w2)] - exact) <= 1, (w1, w2, got[(w1, w2)], exact)
    web = [k for k in got if k[0] in ("new", "of", "machine", "hong")]
    assert sorted(web, key=lambda k: -got[k]) == [
        ("hong", "kong"),  # ratio ~6.0e5
        ("machine", "learning"),  # ~1.3e5
        ("new", "york"),  # ~4.5e4
        ("of", "the"),  # ~3.3e-3 (negative PMI)
    ]


def test_gopher_rules_both_ways(spark):
    """q140's rules certified both ways on constructed documents — the
    synthetic corpus never satisfies the stopword rule (its vocabulary
    has no two Gopher stopwords), so without this the intersect logic
    could silently degrade to constant-false."""
    from warcraider_spark.operators.text import gopher_rule_table

    good = "the cat sat with a friend and that was that " * 8  # 80 tokens
    bad_stop = "alpha beta gamma delta " * 20  # 80 tokens, no stopwords
    bullets = "the bull and that pen\n" + "\n".join("- item %d" % i for i in range(19))
    ellipsis = "the start and that end\n" + "\n".join(
        "line %d trails ..." % i for i in range(9)
    )
    df = spark.createDataFrame(
        [(0, good), (1, bad_stop), (2, "the of"), (3, bullets), (4, ellipsis)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_rule_table(df).collect()}
    assert rows[0].stopword_ok and rows[0].word_count_ok and rows[0].kept
    assert not rows[1].stopword_ok and not rows[1].kept
    assert rows[1].word_count_ok  # fails ONLY the stopword rule
    assert rows[2].stopword_ok and not rows[2].word_count_ok  # 2 tokens
    # 19 of 20 lines bulleted = 95% > 90% threshold
    assert not rows[3].bullet_lines_ok
    # 9 of 10 lines end in ellipsis = 90% > 30% threshold
    assert not rows[4].ellipsis_lines_ok


def test_gopher_repetition_both_ways(spark):
    """q139's line/paragraph signals certified both ways on constructed
    multi-line documents — the synthetic corpus is single-line, so those
    signals are corpus-vacuous (always ok) and only these tests prove
    they can fire; also pins the top-gram tie-break (longer gram wins)."""
    from warcraider_spark.operators.text import gopher_repetition_table

    # 10 distinct lines of distinct tokens: nothing repeats
    clean = "\n".join(f"tok{i}a tok{i}b tok{i}c tok{i}d tok{i}e" for i in range(10))
    # 4 of 10 lines identical = 40% > 30% (count) and char fraction
    # 4*13 / (6*13 + 6*26) = 52/234 = 22.2% > 20%
    dup_lines = "\n".join(["repeat me now"] * 4 + [f"unique line {i} with padding" for i in range(6)])
    # 2 of 5 paragraphs identical = 40% > 30%
    dup_paras = "\n\n".join(["same para twice here"] * 2 + [f"different paragraph {i} x" for i in range(3)])
    # one dominant 2-gram: 40x "spam ham" over 359 chars = 89% > 20%,
    # and every 5-gram duplicated -> dup5 fires too
    top2 = "spam ham " * 40
    # 2-gram count tie ("aa bb" x2 vs "cc ddd" x2): longer gram wins
    tie = "aa bb aa bb cc ddd cc ddd"
    df = spark.createDataFrame(
        [(0, clean), (1, dup_lines), (2, dup_paras), (3, top2.strip()), (4, tie)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_repetition_table(df).collect()}
    assert rows[0].kept and rows[0].dup_line_ok and rows[0].dup_lines == 0
    assert rows[0].n_lines == 10 and rows[0].n_paras == 1  # no blank lines

    assert rows[1].dup_lines == 4 and rows[1].dup_line_chars == 4 * len("repeat me now")
    assert not rows[1].dup_line_ok and not rows[1].dup_line_char_ok and not rows[1].kept
    assert rows[1].dup_para_ok  # single paragraph: vacuously ok

    assert rows[2].n_paras == 5 and rows[2].dup_paras == 2
    assert not rows[2].dup_para_ok and not rows[2].kept
    # the duplicated paragraphs are duplicated lines too (2/5 = 40%)
    assert not rows[2].dup_line_ok

    assert rows[3].top2_cnt == 40 and rows[3].top2_len == len("spam ham")
    assert not rows[3].top2_ok and not rows[3].top3_ok and not rows[3].top4_ok
    assert not rows[3].dup5_ok and not rows[3].dup10_ok and not rows[3].kept
    assert rows[3].dup_line_ok  # one line: line signals stay vacuous

    assert rows[4].top2_cnt == 2 and rows[4].top2_len == len("cc ddd")


def _short_doc_corpus(tmp_path):
    """Adversarial documents table the shipped testdata never exposes (its
    minimum is 10 tokens — exactly the largest gram order): empty and
    whitespace-only docs, G < k short docs, ties, duplicate
    lines/paragraphs. Other tables symlink to sf0.001."""
    import duckdb as _dd

    rows = [
        (0, ""), (1, " "), (2, "one"), (3, "a a"), (4, "x y x y"),
        (5, "aa bb aa bb cc ddd cc ddd"),
        (6, "dup\ndup\nuniq words here now"),
        (7, "p1 text\n\np1 text\n\nother para"),
        (8, "\n\n\n"),
        (9, "nine tok doc here with just nine total words"),
        (10, "ten tok doc here with just ten total words ok"),
        (11, "spam ham " * 40),
    ]
    d = tmp_path / "corpus"
    d.mkdir()
    con = _dd.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO t VALUES (?,?,?,?,?)",
        [(i, t, "en", "s", len(t)) for i, t in rows],
    )
    con.execute(f"COPY t TO '{d}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        (d / f"{t}.parquet").symlink_to(f"/root/testdata/sf0.001/{t}.parquet")
    return str(d)


def test_gopher_repetition_oracle_total_on_short_docs(spark, tmp_path):
    """Tri-implementation agreement END-TO-END through run_oracle on the
    short-doc corpus. Pins the oracle's G < n whole-doc-as-one-gram CASE
    and the array_to_string([]) NULL coalesce — without them the oracle
    emits NULL grams/verdicts on sub-k-token docs (a latent hash
    landmine for any future corpus)."""
    from warcraider_spark.oracle import run_oracle
    from warcraider_spark.registry import all_specs

    r = run_oracle(spark, all_specs()["q139_gopher_repetition"], _short_doc_corpus(tmp_path))
    assert r.ok, r.detail


def test_shingle_oracles_total_on_short_docs(spark, tmp_path):
    """Every shingles_sql-based oracle survives sub-k-token documents
    (same landmine class as q139's: the unguarded toks[i+j] || chain
    NULLed short-doc shingles until the r8 CASE guard). q036 is vacuous
    on 12 docs (its decontamination branch never fires) and is covered
    at sf0.01 by the driver."""
    from warcraider_spark.oracle import run_oracle
    from warcraider_spark.registry import all_specs

    d = _short_doc_corpus(tmp_path)
    specs = all_specs()
    names = [
        "q189_minhash_lsh_pairs",
        "q098_ngram_jaccard_pairs",
        "q144_containment_dedup",
        "q099_dedup_clusters",
        "q055_benchmark_contamination",
        "q085_incremental_dedup",
        "q192_shingle_fingerprint",
    ]
    for n in names:
        r = run_oracle(spark, specs[n], d)
        assert r.ok, (n, r.detail)


def test_degenerate_doc_totality(spark, tmp_path):
    """The r8 adversarial sweep's crash/divergence findings, pinned: on a
    corpus with empty/whitespace-only docs (guaranteed in any real web
    corpus) q054 must not DIVIDE_BY_ZERO under ANSI mode, q146's
    MinHashLSH join must not FAILED_EXECUTE_UDF on all-zero vectors
    (InferFiltersFromGenerate pushes the hash UDF into the scan filter —
    the localCheckpoint barrier pins it to filtered rows), q114's oracle
    must not NULL through list()-of-zero-rows / array_to_string([]),
    q111/q048 tokenization must drop empty tokens on both engines, and
    q170's crosstab schema must stay the closed 5-lang contract when a
    lang is corpus-absent."""
    from warcraider_spark.oracle import run_oracle
    from warcraider_spark.registry import all_specs

    d = _short_doc_corpus(tmp_path)
    specs = all_specs()
    for n in [
        "q054_bpe_pretokenize",
        "q114_span_excision",
        "q111_repetition_ratio",
        "q048_bigram_udtf",
        "q146_ml_lsh_variants",
        "q170_crosstab",
    ]:
        r = run_oracle(spark, specs[n], d)
        assert r.ok, (n, r.detail)


def _zero_vector_corpus(tmp_path):
    """Adversarial embeddings: an all-zero vector (no direction — no
    cosine, no absmax quantization), an exact duplicate of a real vector,
    and singleton labels; other tables symlink to sf0.001."""
    import duckdb as _dd

    d = tmp_path / "embcorpus"
    d.mkdir()
    con = _dd.connect()
    con.execute(f"""
COPY (
  SELECT vec_id, embedding, label
  FROM read_parquet('/root/testdata/sf0.001/embeddings.parquet') WHERE vec_id < 40
  UNION ALL
  SELECT 9001, list_transform(generate_series(1,64), i -> CAST(0.0 AS FLOAT)), 101
  UNION ALL
  SELECT 9002, (SELECT embedding FROM read_parquet(
      '/root/testdata/sf0.001/embeddings.parquet') WHERE vec_id = 0), 102
  UNION ALL
  SELECT 9003, list_transform(generate_series(1,64), i -> CAST(0.0 AS FLOAT)), 103
) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
""")
    con.close()
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        (d / f"{t}.parquet").symlink_to(f"/root/testdata/sf0.001/{t}.parquet")
    return str(d)


def test_zero_vector_totality(spark, tmp_path):
    """The r8 zero-vector sweep's findings, pinned: all-zero embedding
    rows (one corrupted row in a 100 TB corpus) must not ANSI-kill the
    cosine family (q019/q105/q097: nrm > 0 exclusion — no direction, no
    cosine), the absmax quantizer (q050: raw_scale > 0), or the grouped
    eigensolve (q026: np.cov of a singleton group is 0-d; the oracle's
    aniso division needs the zero-trace CASE)."""
    from warcraider_spark.oracle import run_oracle
    from warcraider_spark.registry import all_specs

    d = _zero_vector_corpus(tmp_path)
    specs = all_specs()
    for n in [
        "q019_cosine_topk_bruteforce",
        "q105_ann_sign_lsh",
        "q050_two_stage_rerank",
        "q097_embedding_neardup",
        "q026_group_spectral_stats",
    ]:
        r = run_oracle(spark, specs[n], d)
        assert r.ok, (n, r.detail)


def _unicode_corpus(tmp_path):
    """Multilingual/Unicode adversarial documents (VERDICT r8 #6): real
    100 TB crawls are majority non-English, but every prior corpus was
    ASCII. CJK with and without ASCII spaces (+U+3000 ideographic space,
    which is NOT ASCII \\s on either engine), duplicate CJK lines and
    paragraphs, Arabic RTL, Hebrew with niqqud combining marks,
    precomposed vs decomposed accents, astral-plane emoji, Turkish
    dotted/dotless I, Greek final-sigma casing, full-width Latin, Thai,
    zero-width/bidi controls inside tokens, and sharp-s casing. r10
    extends past the BMP: ZWJ emoji sequences, Deseret astral case
    pairs, math alphanumerics, CJK Ext-B surrogate-dense dups, and
    regional-indicator/skin-tone clusters — all chosen OUTSIDE the
    pinned astral skew ranges, and the whole 29-query family
    hash-matches on them (the exhaustive astral sweep predicted it:
    \\s/\\d/\\w are astral-clean and both engines agree on
    established-script astral case). Other tables symlink to
    sf0.001."""
    import duckdb as _dd

    rows = [
        (0, "深度学习模型训练数据质量很重要深度学习模型训练"),
        (1, "深度学习　模型训练　深度学习"),
        (2, "深度学习 模型训练 深度学习 模型训练 质量 很重要"),
        (3, "模型训练数据\n模型训练数据\n其他内容在这里"),
        (4, "段落一的文字\n\n段落一的文字\n\n另一个段落"),
        (5, "مرحبا بالعالم مرحبا بالعالم هذا نص عربي"),
        (6, "שָׁלוֹם עוֹלָם שָׁלוֹם עוֹלָם"),
        (7, "café café café café naïve"),
        (8, "🎉🎉 🎉 data 🚀 data 🚀 more 🎉🎉 text"),
        (9, "İstanbul ısparta İSTANBUL DİYARBAKIR istanbul"),
        (10, "ΣΟΦΟΣ σοφος ΟΔΥΣΣΕΥΣ οδυσσευς ΣΟΦΟΣ"),
        (11, "ＡＢＣ ａｂｃ ＡＢＣ full　width"),
        (12, "ภาษาไทยไม่มีช่องว่าง และ คำ ไทย คำ ไทย"),
        (13, "word​word ‏عربي‎ latin​​word"),
        (14, "ß STRASSE straße ẞ ss"),
        (15, "á á á á b̆ b̆"),
        # U+000B vertical tab + form feed: Java/Python \s includes \x0B,
        # RE2's does NOT — the r9 BMP whitespace sweep's finding; every
        # oracle now splits on [\s\v] (= Java \s) to match
        (16, "tok1tok2 tok3tok4tok5"),
        # Arabic Extended-B (Unicode 14): \p{L} version-skew codepoints
        # the BPE pattern spells explicitly (U+061D stays OUT of this
        # corpus — it would hit RAKE's documented three-engine \p{P}
        # skew; see test_engine_unicode_parity)
        (17, "نص ࡰࡱࡲ عادي ࡰࡱ نهاية"),
        # CRLF / bare-CR / mixed line endings: the line & paragraph
        # signals split on \n only, leaving \r on line tails — must be
        # engine-stable (r9 CRLF sweep: it is; pinned here)
        (18, "line one\r\nline one\r\nline two\r\n\r\npara two\r\n\r\npara two"),
        (19, "mac\rlines\rmac\rlines"),
        (20, "mixed\nendings\r\nmixed\rendings\n\r\n\r\ntail"),
        (21, "trail spaces  \r\n  lead spaces\r\n\ttab line\r\n"),
        # r10 astral additions (VERDICT r9 #7): every codepoint below is
        # OUTSIDE the pinned astral skew ranges (Vithkuqi/Garay case
        # maps, Unicode-14+ \p{L}/\p{N}/\p{P} allocations — see
        # test_engine_unicode_parity), so the family must hash-match.
        # ZWJ (U+200D) emoji sequences: Cf inside tokens, splits nowhere
        (22, "👨‍👩‍👧‍👦 family 👨‍👩‍👧‍👦 team 🏳️‍🌈 flag 👨‍👩‍👧‍👦"),
        # Deseret (Unicode 3.1): astral CASE MAPPING both engines know —
        # exercises fold_lower/lower parity beyond the BMP
        (23, "𐐐𐐯𐑊𐐬 𐐸𐐯𐑊𐐬 𐐐𐐯𐑊𐐬 𐐐𐐯𐑊𐐬 text"),
        # math alphanumerics + bold digits (Nd since 3.1, skew-free)
        (24, "𝐀𝐁𝐂 𝟎𝟏𝟐 𝐀𝐁𝐂 𝟎𝟏𝟐 plain 012"),
        # CJK Extension B: surrogate-pair-dense dup text for the
        # shingle/simhash/chunk byte paths
        (25, "𠀀𠀁𠀂𠀃𠀀𠀁𠀂𠀃 中文 𠀀𠀁𠀂 𠀀𠀁𠀂"),
        # regional-indicator flags + skin-tone modifiers mid-token
        (26, "🇦🇺 flag 🇦🇺 👍🏽 thumb 👍🏽 🇦🇺"),
        # r11 Unicode-whitespace RUNS (VERDICT r10 #1): the quirk's
        # {2,} branch and word_count must agree across Spark (?U)\s,
        # DuckDB's explicit White_Space class, and the reference's Rust
        # \s — U+3000/NBSP/NNBSP/thin-space runs, singles (kept), and
        # White_Space-only documents
        (27, "run\u3000\u3000test\u00a0\u00a0run  done"),
        (28, "nbsp\u00a0word \u00a0run\u00a0\u00a0end plain"),
        (29, "single\u3000sep kept\u00a0here no runs"),
        (30, "\u3000\u3000lead mid\u202f\u205fmid trail\u2009\u2009"),
        (31, "\u6df1\u5ea6\u5b66\u4e60\u3000\u3000\u6a21\u578b\u8bad\u7ec3\u3000\u6570\u636e"),
    ]
    d = tmp_path / "unicorpus"
    d.mkdir()
    con = _dd.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO t VALUES (?,?,?,?,?)",
        [(i, t, "xx", "s", len(t)) for i, t in rows],
    )
    con.execute(f"COPY t TO '{d}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        (d / f"{t}.parquet").symlink_to(f"/root/testdata/sf0.001/{t}.parquet")
    return str(d)


def test_unicode_multilingual_totality(spark, tmp_path):
    """The r9 Unicode sweep's findings, pinned. Divergences it caught
    and their fixes: (a) Java lower() is CONTEXT-SENSITIVE — word-final
    Σ lowers to 'ς' on the JVM, 'σ' in DuckDB, and İ (U+0130) lowers to
    'i'+U+0307 on the JVM, plain 'i' in DuckDB — so every lowercased
    fingerprint/tokenization now applies the engine-stable case fold
    (textfn.fold_lower / its textual SQL twin; ASCII no-op); the İ form
    also split '[a-z]+' token runs differently (the combining dot
    breaks a run), shifting q084/q114/q016/q141 token counts and span
    offsets. (b) Python str.split() is Unicode-whitespace and split
    U+3000-spaced CJK where every oracle's ASCII \\s did not — the q048
    bigram UDTF now ASCII-splits like the house tokenizer.

    q135/q041/q180 are excluded as corpus-vacuous here (their
    discriminating branches need more data than 16 docs; min_rows
    guards them) — they're covered at sf0.01 by the driver."""
    from warcraider_spark.oracle import run_oracle
    from warcraider_spark.registry import all_specs

    d = _unicode_corpus(tmp_path)
    specs = all_specs()
    names = [
        "q139_gopher_repetition", "q140_gopher_rules", "q043_rake_keywords",
        "q060_token_stats", "q061_lang_id", "q087_quality_score",
        "q089_fingerprint", "q192_shingle_fingerprint", "q064_word_count_ref",
        "q111_repetition_ratio", "q054_bpe_pretokenize", "q048_bigram_udtf",
        "q189_minhash_lsh_pairs", "q191_tfidf", "q100_document_chunking",
        "q168_line_dedup", "q098_ngram_jaccard_pairs", "q099_dedup_clusters",
        "q101_simhash_dupes", "q133_duplicate_spans",
        "q055_benchmark_contamination", "q084_token_budget_select",
        "q114_span_excision", "q016_heavy_hitters", "q141_bpe_encode",
        "q039_simhash_radius", "q040_bpe_merge_train",
        "q144_containment_dedup", "q174_training_data_pipeline",
        "q072_whitespace_quirks", "q125_sequence_packing",
    ]
    for n in names:
        r = run_oracle(spark, specs[n], d)
        assert r.ok, (n, r.detail)


def test_unicode_extended_sweep(spark, tmp_path):
    """r11: the unicode-corpus sweep extended to every remaining
    documents.text-consuming registry query (the first sweep's 31 names
    cover the text family proper; these 27 are the dedup/curation/
    relational/media consumers). The extension immediately caught two
    latent cross-engine hazards the ASCII corpora masked — the
    explode-outer oracle measured token length in BYTES (DuckDB strlen)
    where Spark counts characters, and the snapshot-diff oracle
    fingerprinted v2 with bare lower() where the Spark side applies the
    engine-stability case fold (JVM final-sigma context sensitivity) —
    both fixed in the oracle text (ASCII-identical, so no certified
    hash moved). Excluded as corpus-vacuous on the 32-doc corpus (their
    min_rows guards fire): set-containment join, sparse-dot top-k,
    longest-prefix route, decontaminate, count-min, n-gram novelty,
    PMI."""
    from warcraider_spark.oracle import run_oracle
    from warcraider_spark.registry import all_specs

    d = _unicode_corpus(tmp_path)
    specs = all_specs()
    names = [
        "q057_lm_score", "q085_incremental_dedup", "q130_cdc_excision",
        "q136_cdc_chunk_dedup", "q147_inverted_index", "q167_skyline_docs",
        "q172_perceptron_train", "q183_posexplode",
        "q187_mixture_pipeline_e2e", "q008_mixture_apply_select",
        "q009_domain_mixture_weights", "q010_dsir_select",
        "q011_domain_quality_select", "q018_pii_redaction",
        "q070_ga_extract", "q103_explode_outer", "q074_array_set_funcs",
        "q028_corpus_snapshot_diff", "q083_dedup_keep_canonical",
        "q033_media_features", "q108_concat_chunk_blocks",
        "q037_bloom_dedup_probe", "q038_split_leakage", "q096_source_cap",
        "q121_media_stats", "q190_exact_dedup_groups",
        "q146_ml_lsh_variants",
    ]
    for n in names:
        r = run_oracle(spark, specs[n], d)
        assert r.ok, (n, r.detail)


def _unicode_large_corpus(tmp_path):
    """160-doc unicode corpus dense in REPEATED grams and rule-prefixed
    first tokens — sized so the seven queries whose min_rows guards made
    the 32-doc corpus vacuous (set-containment, sparse-dot, LPM route,
    decontaminate, count-min, n-gram novelty, PMI) all fire their
    discriminating branches. CJK + U+3000/NBSP runs throughout, near-dup
    variation via an id-keyed suffix token."""
    import duckdb as _dd

    bases = [
        "深度学习　模型训练 data quality matters 深度学习",
        "scan the 模型训练 corpus scan the 模型训练 corpus again",
        "window functions over 　　 streams window functions over streams",
        "merge sorted runs merge sorted runs مرحبا بالعالم",
        "column pruning wins column pruning wins café naïve café",
        "query planning with  nbsp runs query planning with nbsp runs",
        "İstanbul ısparta İSTANBUL istanbul tokens repeat tokens repeat",
        "ΣΟΦΟΣ σοφος ΣΟΦΟΣ wisdom text wisdom text",
        "sorted 字符串 sorted 字符串 keys repeat",
        "cache friendly 缓存 cache friendly 缓存 lines",
    ]
    rows = [
        (i, bases[i % len(bases)] + f" tail{i % 5}", "xx", f"s{i % 4}",
         len(bases[i % len(bases)]))
        for i in range(160)
    ]
    d = tmp_path / "bigunicorpus"
    d.mkdir()
    con = _dd.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", rows)
    con.execute(f"COPY t TO '{d}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        (d / f"{t}.parquet").symlink_to(f"/root/testdata/sf0.001/{t}.parquet")
    return str(d)


def test_unicode_large_corpus_sweep(spark, tmp_path):
    """r11: closes the last unicode-sweep exclusion — the gram-heavy
    family (where Unicode tokenization hazards are most likely) now
    hash-matches on a corpus big enough to fire every min_rows guard.
    With this, EVERY documents.text-consuming registry query is
    unicode-swept on at least one adversarial corpus."""
    from warcraider_spark.oracle import run_oracle
    from warcraider_spark.registry import all_specs

    d = _unicode_large_corpus(tmp_path)
    specs = all_specs()
    names = [
        "q180_set_containment_join", "q023_sparse_dot_topk",
        "q031_longest_prefix_route", "q036_decontaminate",
        "q124_countmin_freq", "q041_ngram_novelty", "q135_pmi_collocations",
    ]
    for n in names:
        r = run_oracle(spark, specs[n], d)
        assert r.ok, (n, r.detail)


def _degenerate_dup_corpus(tmp_path):
    """Degenerate docs (empty, whitespace-only, below the k+w-1=27
    detection threshold, exactly-at-threshold-minus-one) PLUS one
    genuine duplicate pair, so the winnowing family's min_rows is
    satisfied while the degenerates stress both engines' totality
    (DuckDB range() on negative spans, Spark sequence() guards, the
    q063 left join keeping weight-1 rows for every degenerate)."""
    import duckdb as _dd

    shared = "the identical sixty character run that both documents carry!"
    rows = [
        (1, ""),
        (2, "   \t\n  "),
        (3, "tiny"),
        (4, "x" * 26),                       # one char below threshold
        (5, "prefix " + shared),
        (6, shared + " suffix tail here"),
    ]
    d = tmp_path / "degdup"
    d.mkdir()
    con = _dd.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO t VALUES (?,?,?,?,?)",
        [(i, t, "en", "s", len(t)) for i, t in rows],
    )
    con.execute(f"COPY t TO '{d}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        (d / f"{t}.parquet").symlink_to(f"/root/testdata/sf0.001/{t}.parquet")
    return str(d)


def test_winnowing_family_total_on_degenerate_docs(spark, tmp_path):
    """r13 totality sweep for the winnowing trio (the r8 discipline
    applied to the new operators): empty/whitespace/sub-threshold docs
    must flow through pair detection, cluster election AND the
    full-corpus weight join on BOTH engines — hash match end to end,
    with every degenerate doc present in q063's output at weight 1."""
    from warcraider_spark.oracle import run_oracle
    from warcraider_spark.registry import all_specs

    d = _degenerate_dup_corpus(tmp_path)
    specs = all_specs()
    for n in (
        "q069_winnowing_dup_pairs",
        "q062_winnowing_dedup_keep",
        "q063_winnowing_soft_dedup_weights",
        "q088_exact_substring_excision",
    ):
        r = run_oracle(spark, specs[n], d)
        assert r.ok, (n, r.detail)
    w = specs["q063_winnowing_soft_dedup_weights"].builder(spark, d)
    got = {r.doc_id: (r.cluster_size, r.weight) for r in w.collect()}
    assert got[1] == (1, 1.0) and got[2] == (1, 1.0)
    assert got[3] == (1, 1.0) and got[4] == (1, 1.0)
    assert got[5] == (2, 0.5) and got[6] == (2, 0.5)
