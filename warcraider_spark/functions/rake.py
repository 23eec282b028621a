"""RAKE keyword extraction (SURVEY §2.6, §3.3).

Reference: /root/reference/src/rake/rake.rs:25-96 (phrase split + scoring),
inner.rs:4-14 (number exclusion), keyword.rs:28-54 (sort), lib.rs:386-399
(f32 map). Two implementations, per SURVEY §2.6:

(a) ``rake_keywords_udf`` — pure-Python per-document RAKE inside an
    Arrow-batched pandas UDF. Bit-exact reference semantics: Unicode
    punctuation phrase split ``[^\\P{P}-]|\\s+-\\s+``, stop-word phrase
    breaks (lowercased compare), number-token exclusion (substring match of
    ``-?\\p{N}+[./٫,']?\\p{N}*``), duplicate-phrase last-wins, f32 score
    truncation. Embarrassingly parallel — one Arrow batch per task, no
    shuffle.

(b) ``rake_native`` — the 100 TB path: explode phrases → word-stat groupBy
    (map-side partial agg) → score join. No Python in the loop; Catalyst
    plans partial+final hash aggregation. Duplicate phrases converge to the
    same score (scores depend only on the doc-level word table), so the
    reference's last-wins assignment (rake.rs:43, ``=`` not ``+=``) is
    equivalent to distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType, MapType, StringType

from warcraider_spark.functions.stopwords import SMART_STOPWORDS

try:  # Unicode property classes need `regex`; stdlib `re` lacks \p{}
    import regex as _re

    PUNC_RE = _re.compile(r"[^\P{P}-]|\s+-\s+")
    NUM_RE = _re.compile(r"-?\p{N}+[./٫,']?\p{N}*")
except ImportError:  # pragma: no cover - regex is available in this env
    import re as _re

    PUNC_RE = _re.compile(r"[^\w\s-]|\s+-\s+")
    NUM_RE = _re.compile(r"-?\d+[./٫,']?\d*")

__all__ = ["rake_text", "rake_keywords_udf", "rake_native"]

# Java-regex twin of the Rust punctuation pattern for the native path.
# (?U) = UNICODE_CHARACTER_CLASS so \s matches White_Space like Rust's \s
# (r11; \p{P} is a Unicode category in Java regardless of the flag).
PUNC_PATTERN_JAVA = r"(?U)[^\P{P}-]|\s+-\s+"
NUM_PATTERN_JAVA = r"-?\p{N}+[./٫,']?\p{N}*"
_SENTINEL = "\x01"


def rake_text(text: str) -> dict[str, float]:
    """Reference RAKE on one document → {keyword: f32-truncated score}."""
    if not text:
        return {}
    phrases: list[list[str]] = []
    for segment in PUNC_RE.split(text):
        if not segment:
            continue
        phrase: list[str] = []
        for word in segment.split():
            if word.lower() in SMART_STOPWORDS:
                if phrase:
                    phrases.append(phrase)
                    phrase = []
            else:
                phrase.append(word)
        if phrase:
            phrases.append(phrase)

    word_freq: dict[str, int] = {}
    word_degree: dict[str, int] = {}
    for phrase in phrases:
        scorable = [w for w in phrase if not NUM_RE.search(w)]
        if not scorable:
            continue
        for w in scorable:
            word_freq[w] = word_freq.get(w, 0) + 1
            word_degree[w] = word_degree.get(w, 0) + len(scorable) - 1
    word_score = {w: (word_degree[w] + f) / f for w, f in word_freq.items()}

    keywords: dict[str, float] = {}
    for phrase in phrases:
        score = sum(word_score[w] for w in phrase if not NUM_RE.search(w))
        keywords[" ".join(phrase)] = score  # last-wins (rake.rs:43)
    import struct

    return {k: struct.unpack("f", struct.pack("f", v))[0] for k, v in keywords.items()}


def rake_keywords_udf() -> Column:
    """Factory for the fidelity pandas UDF: string → map<string,float>."""
    from warcraider_spark.dist import ensure_package_on_executors
    ensure_package_on_executors()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(MapType(StringType(), FloatType()))
    def _rake(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: rake_text(t or ""))

    return _rake


# ---------------------------------------------------------------------------
# Native (explode/groupBy) variant — the scale path
# ---------------------------------------------------------------------------


def _phrases_col(text: Column) -> Column:
    """text → array<string> of RAKE phrases, all in Catalyst expressions.

    Stop-word tokens are replaced with a sentinel, then the token stream is
    re-split on sentinel runs — equivalent to the reference's break-at-
    stop-word loop (rake.rs:77-96).
    """
    # Stop-word test via isin(): Catalyst's OptimizeIn rewrites a >10-literal
    # In to InSet, an O(1) hash-set probe — vs array_contains over a
    # 572-element literal array, an O(572) scan per token on the hottest
    # path (VERDICT r1 #5; this runs inside interpreted HOF lambdas).
    stop_list = sorted(SMART_STOPWORDS)
    segments = F.split(text, PUNC_PATTERN_JAVA)
    # (?U)\s+ = Rust split_whitespace (rake.rs:81) — Unicode whitespace;
    # the empty-token filter elides leading/trailing pieces so the
    # (ASCII-only) trim is no longer load-bearing, just cheap
    toks_per_seg = F.transform(
        segments,
        lambda seg: F.transform(
            F.filter(F.split(F.trim(seg), r"(?U)\s+"), lambda t: t != ""),
            lambda t: F.when(F.lower(t).isin(stop_list), _SENTINEL).otherwise(t),
        ),
    )
    phrase_strings = F.transform(toks_per_seg, lambda ts: F.array_join(ts, " "))
    # split each segment string on sentinel runs, trim, drop empties
    phrases_nested = F.transform(
        phrase_strings,
        lambda s: F.filter(
            F.transform(F.split(s, _SENTINEL), lambda p: F.trim(p)),
            lambda p: p != "",
        ),
    )
    return F.flatten(phrases_nested)


def rake_native(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distributed RAKE: returns (id, keyword, score) rows.

    Plan shape: one explode to phrases, one to words, a groupBy(id, word)
    with map-side partial agg for freq/degree, a broadcast-friendly join
    back to phrase words, and a final groupBy(id, phrase). Two shuffles on
    (id, word)/(id, phrase) — both high-cardinality uniform keys.
    """
    from warcraider_spark.lineage import cut_lineage

    # phrase OCCURRENCES keep their position so duplicate texts count twice
    # in the word statistics (exactly like the reference's occurrence loop).
    # cut_lineage: the occurrence stream feeds BOTH the word-stat window
    # path and the distinct-phrase path, and neither consumer has an
    # exchange between the scan and itself, so without the cut the corpus
    # scan + phrase extraction would execute twice per action (med 0.68 vs
    # 0.62 s at sf0.1; at scale a full second corpus pass). The two
    # distinct-phrase consumers are deduplicated by exchange reuse.
    occurrences = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_phrases_col(F.col(text_col))).alias("occ", "phrase"),
    ).transform(cut_lineage)
    occ_words = occurrences.select(
        "_id",
        "occ",
        "phrase",
        F.explode(F.split(F.col("phrase"), r"\s+")).alias("word"),
    ).filter(~F.col("word").rlike(NUM_PATTERN_JAVA))

    # phrase length via a window over the occurrence — one exchange instead
    # of the groupBy+join formulation (same result, fewer stages)
    from pyspark.sql.window import Window

    w_occ = Window.partitionBy("_id", "occ")
    stats = (
        occ_words.withColumn("plen", F.count(F.lit(1)).over(w_occ))
        .groupBy("_id", "word")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum(F.col("plen") - 1).alias("degree"))
    )
    word_scores = stats.select(
        "_id", "word", ((F.col("degree") + F.col("freq")) / F.col("freq")).alias("wscore")
    )

    # duplicate phrases share the score (last-wins ≡ distinct), so score the
    # DISTINCT phrase texts: explode their words once, sum the word scores
    distinct_phrases = occurrences.select("_id", "phrase").distinct()
    phrase_words = distinct_phrases.select(
        "_id", "phrase", F.explode(F.split(F.col("phrase"), r"\s+")).alias("word")
    ).filter(~F.col("word").rlike(NUM_PATTERN_JAVA))
    scored = (
        phrase_words.join(word_scores, ["_id", "word"])
        .groupBy("_id", "phrase")
        .agg(F.sum("wscore").alias("score"))
    )
    # all-number phrases still emit a keyword with score 0.0 (the reference
    # sums over zero scorable words but inserts the entry, rake.rs:31-44)
    return (
        distinct_phrases.join(scored, ["_id", "phrase"], "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("phrase").alias("keyword"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
    )
