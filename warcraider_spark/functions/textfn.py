"""Native Column builders for text analysis — all JVM-side expressions.

Nothing here is a Python UDF: tokenization, shingling, hashing, and scoring
are Catalyst expressions (split / transform / aggregate / md5 / conv) — all
JVM-side with no Arrow transfer, scaling linearly with executors. (Scalar
expressions compile into whole-stage codegen; the higher-order array
functions are CodegenFallback — interpreted, fine for cheap lambda bodies,
which is why the HEAVY per-row folds ship as batched Arrow kernels:
the q139/q136 pattern.)

Cross-engine hashing convention (used by dedup/minhash/simhash oracles):
``md5_int(s)`` = first 15 hex chars of md5(s) as a bigint — identical in
Spark (``conv(substr(md5(s),1,15),16,10)``) and DuckDB
(``CAST('0x' || substr(md5(s),1,15) AS BIGINT)``); 60 bits so it fits
signed int64 exactly in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "fold_lower",
    "FOLD_LOWER_TEXT_SQL",
    "norm_text",
    "tokens",
    "unicode_tokens",
    "word_count",
    "word_count_sql",
    "DUCK_UWS",
    "md5_int",
    "shingles",
    "doc_fingerprint",
    "shingle_fingerprint",
]


# the same snippet is valid Spark SQL AND DuckDB SQL, so oracles embed it
# textually; fold_lower is the Column form
FOLD_LOWER_TEXT_SQL = "replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i')"


def fold_lower(col: Column | str) -> Column:
    """lower() + the r9 engine-stability case fold: word-final GREEK
    CAPITAL SIGMA lowers context-sensitively on the JVM ('ς') but not in
    DuckDB/utf8proc ('σ'), and U+0130 lowers to 'i'+U+0307 on the JVM
    but plain 'i' in DuckDB. Folding ς→σ (the Unicode case-fold mapping)
    and i+U+0307→i after lower() on BOTH engines makes every lowercased
    tokenization/fingerprint engine-stable; both are no-ops on ASCII."""
    c = F.col(col) if isinstance(col, str) else col
    return F.replace(
        F.replace(F.lower(c), F.lit("ς"), F.lit("σ")), F.lit("i̇"), F.lit("i")
    )


def norm_text(col: Column | str) -> Column:
    """Lowercase + case-fold canonicalization + collapse whitespace runs
    to single spaces + trim.

    The canonicalization (r9 Unicode sweep): Java's lower() is
    context-sensitive where utf8proc's (DuckDB's) is not — word-final
    GREEK CAPITAL SIGMA lowers to 'ς' on the JVM but 'σ' in DuckDB, and
    LATIN CAPITAL I WITH DOT ABOVE lowers to 'i'+U+0307 on the JVM but
    plain 'i' in DuckDB. Folding ς→σ (the Unicode case-fold mapping)
    and i+U+0307→i AFTER lower() on BOTH engines makes fingerprints
    engine-stable; both replacements are no-ops on ASCII text, so every
    existing fingerprint is unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(fold_lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """HOUSE whitespace tokenization: ASCII ``\\s`` on both engines (the
    DuckDB twin is ``[\\s\\v]`` — RE2 lacks VT). This is the engine-internal
    convention every shingle/fingerprint/dedup operator is certified
    against; reference-parity word counting is `unicode_tokens` /
    `word_count` below (r11 split — they differed silently before)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


# DuckDB/RE2 twin of Unicode White_Space for reference-parity oracles.
# RE2 \s = [\t\n\f\r ] (ASCII minus VT); union with VT + Zs + NEL/LS/PS
# reconstructs the exact White_Space set Rust regex and Java (?U)\s match.
# Codepoint-exact across all three engines: tests/test_engine_unicode_parity.py.
DUCK_UWS = r"[\s\x0B\p{Zs}\x{0085}\x{2028}\x{2029}]"


def unicode_tokens(col: Column | str) -> Column:
    """Unicode-whitespace tokens with empties dropped — Rust
    ``str::split_whitespace`` (the reference word_count tokenizer,
    /root/reference/src/main.rs:470; RAKE's word splitter, rake.rs:81).
    Java (?U) switches \\s to the White_Space property; filtering ''
    reproduces split_whitespace's leading/trailing/empty elision without
    needing a (Unicode-blind) trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"(?U)\s+"), lambda t: t != "")


def word_count(col: Column | str) -> Column:
    """main.rs:468-471: ``text.par_split_whitespace().count() as i32`` —
    UNICODE whitespace (r11: previously ASCII \\s, the last documented
    wrong-vs-reference behavior; COVERAGE.md §2.3). Empty/whitespace-only
    text counts 0 by construction (every split piece is '' and filtered)."""
    return F.size(unicode_tokens(col)).cast("int")


def word_count_sql(expr: str) -> str:
    """DuckDB twin of word_count for oracle SQL strings."""
    return f"len(list_filter(string_split_regex({expr}, '{DUCK_UWS}+'), t -> t <> ''))"


def md5_int(col: Column) -> Column:
    """Portable 60-bit integer hash (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_int_sql(expr: str) -> str:
    """DuckDB twin of md5_int for oracle SQL strings."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def all_shingles(tok: Column, k: int = 3) -> Column:
    """All k-token shingles (space-joined, one per position, NOT distinct)
    from a token array — the multiset the repetition signals count over.

    Built as chained ``zip_with`` over k shifted ``slice``s — the token
    array expression is evaluated O(k) times per ROW. (A transform-with-
    element_at formulation re-evaluates the array per ELEMENT, turning
    tokenization O(n²) per document — 4× slower on the minhash bench.)

    Docs shorter than k tokens produce their full text as one shingle
    (zip_with pads with null; concat_ws skips nulls) so no document
    silently vanishes from minhash/jaccard.
    """
    cnt = F.greatest(F.size(tok) - (k - 1), F.lit(1))
    acc = F.slice(tok, 1, cnt)
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(tok, j + 1, cnt), lambda a, b: F.concat_ws(" ", a, b))
    return acc


def shingles(tok: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (space-joined), from a token array.
    See ``all_shingles`` for construction and short-document semantics."""
    return F.array_distinct(all_shingles(tok, k))


def shingles_sql(tok_col: str, k: int = 3) -> str:
    """DuckDB twin of shingles() for oracle SQL. ``tok_col`` must be a named
    list column in scope (lambdas can reference row columns directly).

    Short docs (len < k) produce the whole doc as ONE shingle — exactly
    Spark's concat_ws-skips-NULL-padding semantics (r8: previously a
    documented >= k-token precondition; the unguarded ``toks[i+j] || …``
    chain NULLs the shingle below it, a latent oracle hash landmine for
    any corpus with a sub-k-token doc — the q139 _ngram_sql lesson).
    Split-derived token lists are never empty ([''] for empty text), so
    the G = 0 case is unreachable on both engines.
    """
    parts = " || ' ' || ".join(f"{tok_col}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({tok_col}) >= {k} THEN "
        f"list_distinct(list_transform(generate_series(1, len({tok_col}) - {k - 1}), "
        f"i -> {parts})) "
        f"ELSE [array_to_string({tok_col}, ' ')] END"
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Exact-dedup fingerprint: md5 of normalized text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(norm_text(c))


def shingle_fingerprint(col: Column | str, k: int = 3) -> Column:
    """Order-insensitive structural fingerprint: md5 over the sorted distinct
    k-shingle set (rolling-hash document sketch)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.array_join(F.array_sort(shingles(tokens(c), k)), "|"))
