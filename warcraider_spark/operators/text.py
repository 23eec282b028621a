"""Text-analysis operators over ``documents`` (BASELINE north-star surface).

Language-ID, quality scoring, token counting, and document fingerprinting —
all as native Catalyst expressions (no Python UDFs), so at 100 TB these are
embarrassingly parallel map-side scans with zero shuffle except the final
aggregations.

The reference's only text analytics are word_count
(/root/reference/src/main.rs:468-471) and RAKE (src/rake/rake.rs) — RAKE
fidelity lives in functions/rake.py; these queries add the LLM-pipeline
text ops the engine declares beyond the reference.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warcraider_spark.functions.textfn import (
    DUCK_UWS,
    fold_lower,
    doc_fingerprint,
    md5_int,
    md5_int_sql,
    norm_text,
    shingle_fingerprint,
    shingles,
    shingles_sql,
    tokens,
    unicode_tokens,
    word_count,
    word_count_sql,
)
from warcraider_spark.lineage import cut_lineage, range_presort
from warcraider_spark.registry import query
from warcraider_spark.tables import load_table, table_row_count

# Marker tokens for the n-gram language heuristic: a deterministic scoring
# function (ratio of marker hits per language, argmax with lexicographic
# tie-break). Markers chosen from the corpus vocabulary so scores are
# non-degenerate on the synthetic data.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow", "big", "small"),
    "fr": ("table", "line", "part", "group", "filter", "merge"),
    "es": ("data", "row", "scan", "stream", "batch", "order"),
    "de": ("hash", "key", "join", "sort", "window", "vector"),
    "zh": ("spark", "query", "value", "column", "customer", "agg"),
}


@query(
    "q060_token_stats",
    oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars,
         list_filter(string_split_regex(text, '{DUCK_UWS}+'), x -> x <> '') AS tok
  FROM documents
)
SELECT doc_id,
       len(tok) AS n_tokens,
       len(list_distinct(tok)) AS n_distinct,
       CASE WHEN len(tok) = 0 THEN 0.0
            ELSE ROUND(list_aggregate(list_transform(tok,
                 x -> CAST(length(x) AS DOUBLE)), 'sum') / len(tok), 4) END AS avg_token_len,
       n_chars
FROM t
ORDER BY doc_id
""",
    tags=("text", "tokens"),
    bench=True,
)
def q060_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + distinct count + mean length.

    The BPE-ish subword count variant is q087's token_per_char; this is the
    reference's exact word_count tokenizer (main.rs:468-471) — Unicode
    split_whitespace, so empty/whitespace-only docs count 0 tokens.
    """
    # range_presort + sortWithinPartitions, not a trailing orderBy: the
    # per-doc HOF work then runs ONCE (no range-boundary sampling re-run)
    # and in parallel (the local single-row-group scan is one task) — see
    # lineage.range_presort. The other per-doc text queries do the same.
    docs = range_presort(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = unicode_tokens("text")
    tok_lens = F.transform(tok, lambda t: F.length(t).cast("double"))
    n = F.size(tok)
    avg = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(F.aggregate(tok_lens, F.lit(0.0), lambda a, x: a + x) / n, 4)
    )
    return (
        docs.select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            F.size(F.array_distinct(tok)).cast("long").alias("n_distinct"),
            avg.alias("avg_token_len"),
            "n_chars",
        )
        .sortWithinPartitions("doc_id")
    )


def _lang_score_spark(tok, lang: str):
    markers = LANG_MARKERS[lang]
    hits = F.size(F.filter(tok, lambda t: t.isin(*markers)))
    return F.round(hits / F.size(tok), 6)


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"ROUND(len(list_filter(toks, t -> t IN ({markers}))) / CAST(len(toks) AS DOUBLE), 6)"


@query(
    "q061_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('es')} AS s_es,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('zh')} AS s_zh
  FROM (SELECT doc_id, lang, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents)
), guessed AS (
  SELECT doc_id, lang,
         CASE greatest(s_en, s_fr, s_es, s_de, s_zh)
              WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
              WHEN s_fr THEN 'fr' ELSE 'zh' END AS lang_guess
  FROM scored
)
SELECT lang, lang_guess, COUNT(*) AS n
FROM guessed GROUP BY lang, lang_guess ORDER BY lang, lang_guess
""",
    tags=("text", "langid"),
)
def q061_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token ratio per language, argmax with
    lexicographic tie-break (de<en<es<fr<zh), confusion counts vs label.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    scored = docs.select(
        "doc_id",
        "lang",
        *[_lang_score_spark(tok, lang).alias(f"s_{lang}") for lang in ("en", "fr", "es", "de", "zh")],
    )
    best = F.greatest("s_en", "s_fr", "s_es", "s_de", "s_zh")
    guess = (
        F.when(F.col("s_de") == best, "de")
        .when(F.col("s_en") == best, "en")
        .when(F.col("s_es") == best, "es")
        .when(F.col("s_fr") == best, "fr")
        .otherwise("zh")
    )
    return (
        scored.select("lang", guess.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_guess")
    )


@query(
    "q087_quality_score",
    oracle="""
WITH m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         ROUND(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4) AS distinct_ratio,
         ROUND(list_aggregate(list_transform(toks, t -> CAST(length(t) AS DOUBLE)), 'sum') / len(toks), 4) AS mean_len,
         CASE WHEN len(toks) >= 20 THEN 1.0 ELSE len(toks) / 20.0 END AS len_score
  FROM (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents)
), q AS (
  -- quality from ROUNDED intermediates, itself UNROUNDED: inputs identical
  -- across engines → the composite double is bit-identical, while a final
  -- ROUND would diverge at decimal-half boundaries (DuckDB rounds via
  -- x*10^s which can snap to .5 exactly; Spark uses exact-decimal HALF_UP)
  SELECT *, 0.5 * len_score + 0.3 * distinct_ratio + 0.2 * LEAST(mean_len / 5.0, 1.0) AS quality
  FROM m
)
SELECT doc_id, n_tokens, distinct_ratio, mean_len, quality,
       CASE WHEN quality >= 0.75 THEN 'high'
            WHEN quality >= 0.5 THEN 'medium'
            ELSE 'low' END AS quality_bucket
FROM q
ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def q087_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/diversity/word-shape composite with buckets
    (the heuristic-filter stage of a training-data pipeline)."""
    docs = range_presort(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = tokens("text")
    n = F.size(tok)
    # intermediates rounded to 4 BEFORE the composite so quality is
    # bit-identical across engines (raw double sums differ in the last ulp)
    distinct_ratio = F.round(F.size(F.array_distinct(tok)) / n.cast("double"), 4)
    mean_len = F.round(
        F.aggregate(F.transform(tok, lambda t: F.length(t).cast("double")), F.lit(0.0), lambda a, x: a + x) / n, 4
    )
    len_score = F.when(n >= 20, F.lit(1.0)).otherwise(n / F.lit(20.0))
    # unrounded on purpose — see the oracle SQL comment on cross-engine ROUND
    quality = 0.5 * len_score + 0.3 * distinct_ratio + 0.2 * F.least(mean_len / 5.0, F.lit(1.0))
    return (
        docs.select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            distinct_ratio.alias("distinct_ratio"),
            mean_len.alias("mean_len"),
            quality.alias("quality"),
            F.when(quality >= 0.75, "high").when(quality >= 0.5, "medium").otherwise("low").alias("quality_bucket"),
        )
        .sortWithinPartitions("doc_id")
    )


_NORM_SQL = (
    # lower + case-fold canon (ς→σ, i+U+0307→i): see functions.textfn.norm_text;
    # [\s\v] = Java \s (RE2's \s lacks U+000B);
    # trim(…, ' ') NOT bare trim: DuckDB's bare trim strips Unicode
    # whitespace, Spark's F.trim strips ASCII space only
    r"trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'),"
    r" '[\s\v]+', ' ', 'g'), ' ')"
)

@query(
    "q089_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5({_NORM_SQL}) AS fp,
       {md5_int_sql(_NORM_SQL)} AS fp_int
FROM documents
ORDER BY doc_id
""",
    tags=("text", "fingerprint"),
)
def q089_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact document fingerprint: md5 of normalized text, plus the portable
    60-bit integer form used by minhash/simhash."""
    docs = range_presort(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select(
            "doc_id",
            doc_fingerprint("text").alias("fp"),
            md5_int(norm_text("text")).alias("fp_int"),
        )
        .sortWithinPartitions("doc_id")
    )


@query(
    "q192_shingle_fingerprint",
    # shingles_sql carries the short-doc CASE guard (whole doc as one
    # shingle below k, matching Spark's concat_ws semantics) — the former
    # inline greatest(len-2,1) form NULLed sub-3-token docs' shingles
    oracle=f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents),
     s AS (SELECT doc_id, {shingles_sql("toks", 3)} AS sh FROM t)
SELECT doc_id,
       md5(array_to_string(list_sort(sh), '|')) AS shingle_fp,
       len(sh) AS n_shingles
FROM s
ORDER BY doc_id
""",
    tags=("text", "fingerprint", "shingle"),
)
def q192_shingle_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural fingerprint: md5 over the sorted distinct 3-shingle set
    (document-level rolling-hash sketch; the minhash input representation).
    """
    from warcraider_spark.functions.textfn import shingles

    docs = range_presort(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = shingles(tokens("text"), 3)
    return (
        docs.select(
            "doc_id",
            shingle_fingerprint("text", 3).alias("shingle_fp"),
            F.size(sh).cast("long").alias("n_shingles"),
        )
        .sortWithinPartitions("doc_id")
    )


@query(
    "q064_word_count_ref",
    oracle=f"""
SELECT doc_id,
       {word_count_sql('text')} AS word_count
FROM documents
ORDER BY doc_id
""",
    tags=("text", "reference-parity"),
)
def q064_word_count_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's word_count operator verbatim: Unicode
    split_whitespace token count as i32, 0 for empty
    (/root/reference/src/main.rs:468-471)."""
    docs = range_presort(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", word_count("text").cast("long").alias("word_count")).sortWithinPartitions("doc_id")


# ---------------------------------------------------------------------------
# RAKE (the reference's flagship per-document operator, SURVEY §2.6 — the
# oracle replicates the whole algorithm in DuckDB SQL)
# ---------------------------------------------------------------------------

def _rake_oracle_sql() -> str:
    from warcraider_spark.functions.stopwords import SMART_STOPWORDS

    stoplist = ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(SMART_STOPWORDS))
    # Rust \s = Unicode White_Space; RE2 needs the explicit class
    punc = rf"[^\P{{P}}-]|{DUCK_UWS}+-{DUCK_UWS}+"
    num = r"-?\p{N}+[./٫,'']?\p{N}*"
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
seg AS (
  SELECT doc_id, unnest(string_split_regex(text, '{punc}')) AS seg FROM docs
),
marked AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             list_filter(string_split_regex(trim(seg, ' '), '{DUCK_UWS}+'), x -> x <> ''),
             t -> CASE WHEN lower(t) IN ({stoplist}) THEN chr(1) ELSE t END),
           ' ') AS m
  FROM seg WHERE trim(seg, ' ') <> ''
),
phr AS (
  SELECT doc_id, trim(p, ' ') AS phrase
  FROM (SELECT doc_id, unnest(string_split(m, chr(1))) AS p FROM marked)
  WHERE trim(p, ' ') <> ''
),
occ AS (
  SELECT doc_id, phrase, row_number() OVER (PARTITION BY doc_id ORDER BY phrase) AS occ_id FROM phr
),
ow AS (
  SELECT doc_id, occ_id, unnest(string_split(phrase, ' ')) AS word FROM occ
),
ow2 AS (SELECT * FROM ow WHERE NOT regexp_matches(word, '{num}')),
plen AS (SELECT doc_id, occ_id, COUNT(*) AS plen FROM ow2 GROUP BY doc_id, occ_id),
stats AS (
  SELECT a.doc_id, a.word, COUNT(*) AS freq, SUM(p.plen - 1) AS degree
  FROM ow2 a JOIN plen p ON a.doc_id = p.doc_id AND a.occ_id = p.occ_id
  GROUP BY a.doc_id, a.word
),
wscore AS (SELECT doc_id, word, (degree + freq) / CAST(freq AS DOUBLE) AS ws FROM stats),
dphr AS (SELECT DISTINCT doc_id, phrase FROM phr),
pw AS (
  SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS word FROM dphr
),
pw2 AS (SELECT * FROM pw WHERE NOT regexp_matches(word, '{num}')),
scored AS (
  SELECT a.doc_id, a.phrase, SUM(w.ws) AS score
  FROM pw2 a JOIN wscore w ON a.doc_id = w.doc_id AND a.word = w.word
  GROUP BY a.doc_id, a.phrase
)
SELECT d.doc_id, d.phrase AS keyword,
       ROUND(COALESCE(s.score, 0.0), 4) AS score
FROM dphr d LEFT JOIN scored s ON d.doc_id = s.doc_id AND d.phrase = s.phrase
ORDER BY d.doc_id, keyword
"""


@query(
    "q043_rake_keywords",
    oracle=_rake_oracle_sql(),
    tags=("text", "rake", "reference-parity"),
    bench=True,
)
def q043_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keywords (src/rake/rake.rs): the ETL's per-document kernel
    (functions.rake.rake_keywords_udf) exploded to (doc_id, keyword,
    score) rows, map-side. The input is range-presorted on doc_id, so
    the kernel runs once, after the only exchange, and the presentation
    sort is partition-local (see lineage.range_presort). The DuckDB
    oracle re-implements the full algorithm independently in SQL."""
    from warcraider_spark.functions.rake import rake_keywords_udf

    rake = rake_keywords_udf()
    docs = range_presort(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200), "doc_id"
    )
    return (
        docs.select("doc_id", F.explode(rake(F.col("text"))).alias("keyword", "score"))
        .select("doc_id", "keyword", F.round("score", 4).alias("score"))
        .sortWithinPartitions("doc_id", "keyword")
    )


@query(
    "q191_tfidf",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY doc_id, tok
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM t)
SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
WHERE tf.doc_id < 60
ORDER BY tf.doc_id, tf.tok
""",
    tags=("text", "tfidf"),
)
def q191_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF natively (SURVEY §2.11 north-star): explode → per-doc TF,
    corpus DF, smoothed IDF ln((N+1)/(df+1))+1 (the pyspark.ml IDF
    formula) — two shuffles, both partial-aggregated map-side. The idf
    value is bit-identical across engines (exact integer inputs to ln).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = table_row_count(sf_dir, "documents")  # footer count, no job
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
    # No broadcast hint on df: at 100 TB the token vocabulary is far beyond
    # driver/broadcast limits. The join key is uniform, so
    # AQE picks broadcast when df is actually small and SMJ when it isn't.
    return (
        tf.join(df, "tok")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "tok", "tf", "df", (F.col("tf") * idf).alias("tfidf"))
        .orderBy("doc_id", "tok")
    )


@query(
    "q146_ml_lsh_variants",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(
           string_split_regex(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+'), x -> x <> ''))) AS ts
  FROM documents WHERE doc_id < 200
),
-- len(ts) > 0 mirrors the engine's empty-vector exclusion: MinHashLSH
-- REQUIRES >= 1 non-zero entry (an empty token set has no minhash), so
-- token-less docs carry no sketch on either side (corpus-unreachable)
g AS (SELECT ts, COUNT(*) AS k FROM t WHERE len(ts) > 0 GROUP BY ts)
SELECT * FROM (VALUES
  ('brp_vectors_hashed', (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)),
  ('exact_dup_pairs_found', (SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT) FROM g)),
  ('threshold_violations', CAST(0 AS BIGINT))
) AS v(metric, n)
ORDER BY metric
""",
    tags=("dedup", "similarity", "mllib"),
)
def q146_ml_lsh_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pyspark.ml LSH estimators SURVEY §2.11 names (MinHashLSH +
    BucketedRandomProjectionLSH), run end-to-end: token binary vectors →
    MinHashLSH.approxSimilarityJoin for near-dup pairs; embeddings →
    BRP-LSH hashing. The native q189/q105 carry the hash-checked
    banded-LSH equivalents.

    Certification:
    raw candidate counts are seed/engine-specific (LSH recall at
    0 < dist ≤ 0.5 depends on the hash draw), so the driver
    hash-certifies the DETERMINISTIC invariants instead:
    `exact_dup_pairs_found` — pairs the join returns at jaccard_dist
    == 0.0; identical token sets minhash identically in EVERY table, so
    LSH recall at distance 0 is exactly 1 and the count equals the
    oracle's identical-token-set pair count (non-vacuous: 28-53 such
    pairs across cert SFs) — `threshold_violations` — returned pairs
    whose EXACT distance exceeds the 0.5 threshold (the join's distCol
    post-filter contract; always 0) — and `brp_vectors_hashed` — every
    embedding row hashed into exactly numHashTables=3 BRP buckets,
    pinning the transform's shape against the table count."""
    from pyspark.ml.feature import (
        BucketedRandomProjectionLSH,
        CountVectorizer,
        MinHashLSH,
        Tokenizer,
    )
    from pyspark.ml.functions import array_to_vector

    # Token-less docs are excluded at the SOURCE column (any doc with no
    # non-whitespace char): MinHashLSH throws FAILED_EXECUTE_UDF on
    # all-zero vectors ("must have at least 1 non zero entry"), so a
    # single empty doc would kill the whole job at 100 TB (the oracle's
    # len(ts) > 0 mirror; an empty set has no minhash by definition).
    # The predicate must sit on the scan column, NOT on the derived
    # words/features: approxSimilarityJoin re-derives its plan and the
    # hash UDF is deterministic, so Catalyst may evaluate it before a
    # same-stage filter on a derived column (observed: the derived-filter
    # form still crashed while transform() alone passed).
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .filter(F.regexp_count("text", F.lit(r"\S")) > 0)
        .select("doc_id", "text")
    )
    toked = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    # Tokenizer keeps '' tokens on leading/extra whitespace; drop them so
    # the feature SETS match the oracle's filtered token sets
    toked = toked.withColumn(
        "words", F.filter(F.col("words"), lambda w: w != F.lit(""))
    )
    cv = CountVectorizer(inputCol="words", outputCol="features", binary=True).fit(toked)
    # localCheckpoint = an optimizer barrier, not (just) a perf cache:
    # approxSimilarityJoin posexplodes UDF(features), and
    # InferFiltersFromGenerate pushes the inferred size(hashes) > 0 —
    # with the hash UDF substituted in — all the way into the SCAN
    # filter, where subexpression elimination evaluates the UDF on every
    # raw row BEFORE the empty-doc predicate can short-circuit (observed:
    # the source-filtered plan still crashed inside the join while
    # transform() alone passed). Cutting lineage pins the UDF's input to
    # the already-filtered rows; Spark ML docs recommend caching LSH join
    # inputs anyway (q146 owns build-time jobs: the fits above).
    feats = cv.transform(toked).localCheckpoint(eager=False)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42).fit(feats)
    pairs = (
        mh.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            "jaccard_dist",
        )
    )
    minhash_rows = pairs.agg(
        F.sum((F.col("jaccard_dist") == 0.0).cast("bigint")).alias("dist0"),
        F.sum((F.col("jaccard_dist") > 0.5).cast("bigint")).alias("viol"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact_dup_pairs_found").alias("metric"),
                    F.coalesce(F.col("dist0"), F.lit(0)).alias("n"),
                ),
                F.struct(
                    F.lit("threshold_violations").alias("metric"),
                    F.coalesce(F.col("viol"), F.lit(0)).alias("n"),
                ),
            )
        ).alias("z")
    ).select("z.metric", "z.n")

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.transform("embedding", lambda x: x.cast("double"))).alias("features")
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.2, numHashTables=3, seed=42
    ).fit(em)
    brp_rows = (
        brp.transform(em)
        .agg(F.sum((F.size("hashes") == 3).cast("bigint")).alias("n"))
        .select(F.lit("brp_vectors_hashed").alias("metric"), F.col("n"))
    )
    return brp_rows.unionAll(minhash_rows).orderBy("metric")


@query(
    "q100_document_chunking",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents WHERE doc_id < 100),
c AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(CAST(ceil((len(toks) - 8) / 24.0) AS BIGINT) + 1, 1)),
                i -> {'chunk_idx': i - 1,
                      'chunk': array_to_string(toks[(i - 1) * 24 + 1 : (i - 1) * 24 + 32], ' ')}),
                recursive := true)
  FROM t
)
SELECT doc_id, chunk_idx, chunk,
       len(string_split(chunk, ' ')) AS chunk_tokens
FROM c
WHERE chunk <> ''
ORDER BY doc_id, chunk_idx
""",
    tags=("text", "chunking"),
)
def q100_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token windows, stride 24 →
    8-token overlap): the context-window packing stage of a training-data
    pipeline, as pure array expressions (slice per chunk index)."""
    WINDOW, STRIDE = 32, 24
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = tokens("text")
    n_chunks = F.greatest(F.ceil((F.size(tok) - (WINDOW - STRIDE)) / float(STRIDE)).cast("long") + 1, F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.struct(
            (i - 1).cast("long").alias("chunk_idx"),
            F.array_join(F.slice(tok, ((i - 1) * STRIDE + 1).cast("int"), WINDOW), " ").alias("chunk"),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk").alias("chunk"),
        )
        .filter(F.col("chunk") != "")
        .withColumn("chunk_tokens", F.size(F.split("chunk", " ")).cast("long"))
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "q086_embedding_quantize",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 300
),
s AS (
  -- inner name raw_scale: DuckDB lateral aliasing would let an output
  -- alias named 'scale' SHADOW this column inside the same SELECT
  SELECT vec_id, v,
         greatest(abs(list_aggregate(v, 'max')), abs(list_aggregate(v, 'min'))) AS raw_scale
  FROM e
)
SELECT vec_id,
       ROUND(raw_scale, 6) + 0.0 AS scale,
       array_to_string(list_transform(v, x -> CAST(floor(x / raw_scale * 127 + 0.5) AS INT))[1:8], '|') AS q_head,
       CAST(list_aggregate(list_transform(v, x -> CAST(floor(x / raw_scale * 127 + 0.5) AS INT)), 'sum') AS BIGINT) AS q_sum
FROM s
ORDER BY vec_id
""",
    tags=("similarity", "quantization"),
)
def q086_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (absmax scaling) — the
    storage/bandwidth stage of a vector index at 100 TB; all native
    higher-order functions, int outputs so the oracle is exact."""
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    v = F.transform("embedding", lambda x: x.cast("double"))
    sel = em.select("vec_id", v.alias("v"))
    scale = F.greatest(F.abs(F.array_max("v")), F.abs(F.array_min("v")))
    # intermediate named raw_scale: BOTH engines lateral-resolve a bare
    # "scale" inside later same-select expressions to the OUTPUT alias
    # "scale" (Spark 4 lateral column aliases; DuckDB lateral aliases),
    # silently quantizing with the rounded value
    s = sel.withColumn("raw_scale", scale)
    # floor(x+0.5), not round(): engine ROUND double half-cases diverge; floor
    # of an identical double is bit-deterministic in both engines
    q = F.transform("v", lambda x: F.floor(x / F.col("raw_scale") * 127 + 0.5).cast("int"))
    return (
        s.select(
            "vec_id",
            (F.round("raw_scale", 6) + 0.0).alias("scale"),
            F.array_join(F.slice(q, 1, 8), "|").alias("q_head"),  # driver canon rejects lists
            F.aggregate(q, F.lit(0), lambda a, x: a + x).cast("long").alias("q_sum"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

# The driver corpus is clean word-soup, so — as with dedup's dup_corpus —
# the query injects deterministic PII (email / AU-mobile / IPv4) into every
# 5th document, identically in Spark and the oracle, then proves the
# redactor finds and replaces exactly those spans. Patterns use only
# constructs with identical semantics in Java regex and RE2: literal
# classes, \d, \b.
_EMAIL_RE = r"[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
_PHONE_RE = r"\b04\d{8}\b"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_TEXT_SQL = """
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           text || ' contact user' || doc_id || '@example.com or 04' ||
           lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') ||
           ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
           CAST((doc_id * 7) % 256 AS VARCHAR)
         ELSE text END AS text
  FROM documents
"""


@query(
    "q018_pii_redaction",
    oracle=f"""
WITH pii AS ({_PII_TEXT_SQL}),
     red AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
         len(regexp_extract_all(regexp_replace(text, '{_PHONE_RE}', '<PHONE>', 'g'), '{_IP_RE}')) AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_IP_RE}', '<IP>', 'g') AS redacted
  FROM pii
)
SELECT doc_id, n_emails, n_phones, n_ips, md5(redacted) AS redacted_md5
FROM red
WHERE n_emails + n_phones + n_ips > 0
ORDER BY doc_id
""",
    tags=("text", "pii", "redaction"),
)
def q018_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex redaction of emails / phone numbers / IPv4 with
    per-class counts — the compliance pass of a training-data pipeline.
    One linear scan, all JVM-side regexp expressions (codegen), no UDF; at
    100 TB this is a map-only stage with full scan parallelism.

    Phone redaction runs BEFORE IP counting so the 10-digit mobile can
    never be re-matched, and the injected corpus is deterministic so the
    oracle hash checks exact replacement spans, not just counts.
    """
    docs = range_presort(load_table(spark, sf_dir, "documents"), "doc_id")
    injected = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 04"),
            F.lpad((F.col("doc_id") % 100000000).cast("string"), 8, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ),
    ).otherwise(F.col("text"))
    pii = docs.select("doc_id", injected.alias("text"))
    no_phone = F.regexp_replace("text", _PHONE_RE, "<PHONE>")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ),
        _IP_RE,
        "<IP>",
    )
    out = pii.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(no_phone, F.lit(_IP_RE)).cast("long").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )
    return out.filter(
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ips")) > 0
    ).sortWithinPartitions("doc_id")


# ---------------------------------------------------------------------------
# Repetition ratio (Gopher-style quality signal)
# ---------------------------------------------------------------------------


@query(
    "q111_repetition_ratio",
    # shingles_sql carries the short-doc CASE guard — the former inline
    # gram NULLed below 5 tokens and DuckDB's list_distinct DROPS NULLs,
    # skewing distinct_5grams to 0 (rep_ratio 1.0) where Spark says 1 (0.0)
    oracle=f"""
SELECT doc_id,
       len(toks) AS n_tokens,
       greatest(len(toks) - 4, 1) AS total_5grams,
       len({shingles_sql("toks", 5)}) AS distinct_5grams,
       -- raw double quotient of exact ints: bit-identical across engines,
       -- never ROUND a composite (decimal-half divergence)
       1.0 - len({shingles_sql("toks", 5)})
           / CAST(greatest(len(toks) - 4, 1) AS DOUBLE) AS rep_ratio
FROM (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents)
ORDER BY doc_id
""",
    tags=("text", "quality", "repetition"),
)
def q111_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-5-gram fraction per document (the Gopher-style repetition
    signal for filtering low-quality/boilerplate docs). Distinct counting
    happens inside the row via the shingle expression — a map-only linear
    scan, no explode, no shuffle.
    """
    docs = range_presort(load_table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select("doc_id", tokens("text").alias("toks"))
    total = F.greatest(F.size("toks") - 4, F.lit(1))
    distinct = F.size(shingles(F.col("toks"), 5))
    return base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        total.cast("long").alias("total_5grams"),
        distinct.cast("long").alias("distinct_5grams"),
        (F.lit(1.0) - distinct / total.cast("double")).alias("rep_ratio"),
    ).sortWithinPartitions("doc_id")


# ---------------------------------------------------------------------------
# Gopher repetition-signal suite (round 8)
# ---------------------------------------------------------------------------

# Published thresholds (Rae et al. 2021 Table A1), percent-scaled so every
# verdict is an integer cross-multiplication (100*num <= T*den) with zero
# cross-engine float risk: a doc is DROPPED when a fraction EXCEEDS its
# threshold, so *_ok means fraction <= threshold.
_REP_TOP_PCT = {2: 20, 3: 18, 4: 16}
_REP_DUP_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def _ngram_sql(tok_col: str, k: int) -> str:
    """Non-distinct k-gram list. Short docs (len < k) produce the WHOLE
    doc as one gram — the canonical G < n semantics shared with
    all_shingles and the Arrow kernel (without the CASE, the series
    still yields one element but out-of-range ``tok[i+j]`` is NULL and
    the ``||`` chain NULLs the gram — a latent hash landmine if a corpus
    ever carries a sub-k-token doc; the shipped testdata's minimum is
    exactly 10 tokens, the largest gram order)."""
    parts = " || ' ' || ".join(f"{tok_col}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({tok_col}) >= {k} THEN "
        f"list_transform(generate_series(1, len({tok_col}) - {k - 1}), i -> {parts}) "
        f"ELSE [array_to_string({tok_col}, ' ')] END"
    )


def _rep_oracle() -> str:
    gram_ctes, joins, cols, verdicts = [], [], [], []
    for n in sorted(_REP_TOP_PCT | _REP_DUP_PCT):
        gram_ctes.append(
            f"c{n} AS (SELECT doc_id, g, count(*) AS cnt, length(g) AS glen FROM "
            f"(SELECT doc_id, unnest({_ngram_sql('toks', n)}) AS g FROM t) GROUP BY 1, 2)"
        )
        if n in _REP_TOP_PCT:
            gram_ctes.append(
                f"top{n} AS (SELECT doc_id, CAST(cnt AS BIGINT) AS top{n}_cnt, "
                f"CAST(glen AS BIGINT) AS top{n}_len FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY doc_id ORDER BY cnt DESC, glen DESC) AS rn FROM c{n}) WHERE rn = 1)"
            )
            joins.append(f"LEFT JOIN top{n} USING (doc_id)")
            cols += [
                f"coalesce(top{n}_cnt, 0) AS top{n}_cnt",
                f"coalesce(top{n}_len, 0) AS top{n}_len",
            ]
            verdicts.append(
                f"(100 * coalesce(top{n}_cnt, 0) * coalesce(top{n}_len, 0) "
                f"<= {_REP_TOP_PCT[n]} * text_chars) AS top{n}_ok"
            )
        else:
            gram_ctes.append(
                f"dup{n} AS (SELECT doc_id, CAST(coalesce(sum(CASE WHEN cnt >= 2 "
                f"THEN cnt * glen END), 0) AS BIGINT) AS dup{n}_chars FROM c{n} GROUP BY 1)"
            )
            joins.append(f"LEFT JOIN dup{n} USING (doc_id)")
            cols.append(f"coalesce(dup{n}_chars, 0) AS dup{n}_chars")
            verdicts.append(
                f"(100 * coalesce(dup{n}_chars, 0) <= {_REP_DUP_PCT[n]} * text_chars) "
                f"AS dup{n}_ok"
            )
    line_stat = (
        "{p}stat AS (SELECT doc_id, "
        "CAST(coalesce(sum(CASE WHEN cnt >= 2 THEN cnt END), 0) AS BIGINT) AS dup_{w}s, "
        "CAST(coalesce(sum(CASE WHEN cnt >= 2 THEN cnt * vlen END), 0) AS BIGINT) AS dup_{w}_chars "
        "FROM (SELECT doc_id, v, count(*) AS cnt, length(v) AS vlen FROM "
        "(SELECT doc_id, unnest({a}) AS v FROM t) GROUP BY 1, 2) GROUP BY 1)"
    )
    sum_chars = (
        "CAST(coalesce(list_aggregate(list_transform({a}, v -> CAST(length(v) AS BIGINT)), "
        "'sum'), 0) AS BIGINT)"
    )
    gram_ctes_sql = ",\n".join(gram_ctes)
    cols_sql = ",\n       ".join(cols)
    verdicts_sql = ",\n       ".join(verdicts)
    kept_sql = " AND ".join(v.split(" AS ")[0] for v in verdicts)
    joins_sql = "\n".join(joins)
    return f"""
WITH t AS (
  -- trim(x, ' ') NOT trim(x): DuckDB's bare trim strips UNICODE
  -- whitespace (U+3000 et al.) where the kernel's .strip(' ') and
  -- Spark's F.trim strip ASCII space only — the house convention is
  -- ASCII
  SELECT doc_id,
         list_filter(string_split_regex(trim(text, ' '), '[\\s\\v]+'), x -> x <> '') AS toks,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l, ' ')), l -> l <> '') AS ls,
         list_filter(list_transform(string_split_regex(text, '\\n{{2,}}'), p -> trim(p, ' ')), p -> p <> '') AS ps
  FROM documents
),
base AS (
  SELECT doc_id,
         CAST(coalesce(length(array_to_string(toks, ' ')), 0) AS BIGINT) AS text_chars,
         CAST(len(ls) AS BIGINT) AS n_lines,
         {sum_chars.format(a="ls")} AS line_chars,
         CAST(len(ps) AS BIGINT) AS n_paras,
         {sum_chars.format(a="ps")} AS para_chars
  FROM t
),
{line_stat.format(p="l", w="line", a="ls")},
{line_stat.format(p="p", w="para", a="ps")},
{gram_ctes_sql}
SELECT doc_id, text_chars, n_lines, line_chars, n_paras, para_chars,
       coalesce(dup_lines, 0) AS dup_lines,
       coalesce(dup_line_chars, 0) AS dup_line_chars,
       coalesce(dup_paras, 0) AS dup_paras,
       coalesce(dup_para_chars, 0) AS dup_para_chars,
       {cols_sql},
       (100 * coalesce(dup_lines, 0) <= 30 * n_lines) AS dup_line_ok,
       (100 * coalesce(dup_line_chars, 0) <= 20 * line_chars) AS dup_line_char_ok,
       (100 * coalesce(dup_paras, 0) <= 30 * n_paras) AS dup_para_ok,
       (100 * coalesce(dup_para_chars, 0) <= 20 * para_chars) AS dup_para_char_ok,
       {verdicts_sql},
       ((100 * coalesce(dup_lines, 0) <= 30 * n_lines)
        AND (100 * coalesce(dup_line_chars, 0) <= 20 * line_chars)
        AND (100 * coalesce(dup_paras, 0) <= 30 * n_paras)
        AND (100 * coalesce(dup_para_chars, 0) <= 20 * para_chars)
        AND {kept_sql}) AS kept
FROM base
LEFT JOIN lstat USING (doc_id)
LEFT JOIN pstat USING (doc_id)
{joins_sql}
ORDER BY doc_id
"""


@query(
    "q139_gopher_repetition",
    oracle=_rep_oracle(),
    tags=("text", "quality", "repetition", "training-pipeline"),
    bench=True,
)
def q139_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-removal suite (Rae et al. 2021 §A1.1 Table A1 —
    the signals q140's heuristic rules deliberately exclude): duplicate
    line / paragraph fractions (count and character), top-2/3/4-gram
    character fractions, and duplicate-5..10-gram character fractions,
    each with its published threshold as an integer-exact verdict and the
    AND'd `kept` a repetition filter stage would apply.

    Spec choices, shared verbatim with the oracle: "words" are whitespace
    tokens; lines split on \\n and paragraphs on \\n{2,} (trimmed,
    empties dropped); duplicate fractions count ALL members of a
    duplicated group; dup-n-gram character counts are occurrence-weighted
    (overlapping occurrences each count their full character length — the
    multiset variant; position-coverage implementations dedup overlaps,
    so our fractions upper-bound theirs and can exceed 1); the character
    denominator is the single-space-joined token text. Top-gram count
    ties break to the longer gram; equal count+length ties leave the
    emitted (cnt, len) pair unchanged, so no lexicographic tie-break is
    needed for determinism.

    The signals come from one fused Arrow/numpy kernel
    (``_rep_signals_kernel``: one token-id np.unique per batch, then a
    rank chain serving every n-gram order, run stats off the sorted
    ranks). A Catalyst formulation needs an ArrayAggregate fold per
    signal, which is CodegenFallback (interpreted, ~1 ms/doc, and an
    expression tree Catalyst analyzes slowly). The kernel is ONE map-only
    corpus scan with no explode and no shuffle (the oracle's nine
    unnest+groupBy rounds show the shuffle bill it avoids), only 21
    integers per doc crossing Arrow, embarrassingly parallel at 100 TB.
    tests/test_properties.py pins it against a pure-Python reference of
    the semantics below.

    The synthetic corpus is single-line (no \\n), so the line/paragraph
    signals are corpus-vacuous there (like q140's stopword rule) — their
    both-ways behavior is certified by constructed-data unit tests over
    ``gopher_repetition_table``; the nine n-gram signals discriminate
    strongly on the corpus (small vocabulary, heavy repetition) and
    carry the hash entropy.
    """
    return gopher_repetition_table(load_table(spark, sf_dir, "documents"))


# the 21 per-doc repetition signals, in schema order (all bigint)
_REP_SIGNAL_FIELDS = (
    ["text_chars", "n_lines", "line_chars", "n_paras", "para_chars",
     "dup_lines", "dup_line_chars", "dup_paras", "dup_para_chars"]
    + [f"top{n}_{f}" for n in sorted(_REP_TOP_PCT) for f in ("cnt", "len")]
    + [f"dup{n}_chars" for n in sorted(_REP_DUP_PCT)]
)


def _rep_signals_kernel(s):
    """Fused Arrow-batch numpy kernel computing all 21 signals per
    document, vectorized ACROSS the batch (a per-doc numpy loop spends
    ~1 ms/doc in call overhead on ~50-token docs; this form measured
    ~10x less): all docs' tokens form one global id array (one
    np.unique), then a suffix-doubling-style
    RANK CHAIN serves every n-gram order in one sweep instead of nine
    independent per-order sorts. r1 = dense rank of (doc, token id);
    r_n = dense rank of (r_{n-1}[i], r1[i+n-1]) via one int64
    np.unique per order (typed radix-ish sorts — measured ~1.7x faster
    than the previous per-order void-memcmp argsorts, ~9x less sort
    work). Because doc is embedded in r1, equal ranks never cross
    docs and unique-value order keeps docs contiguous; windows that
    would cross a doc end get a per-position unique sentinel key, so
    they equal nothing and are dropped before the stats. Each order's
    np.unique ALSO returns the run table (first index + counts), from
    which per-doc top/dup stats follow via maximum/add.reduceat as
    before. Gram char lengths come from a global cumsum of token
    lengths (+1 per joining space), so no gram string is ever
    materialized. Matches the pure-Python reference in
    tests/test_properties.py exactly, including the short-doc path
    (G < n -> the whole doc as one gram) and the shared tokenization: ASCII \\s splits, EMPTY TOKENS
    DROPPED (the oracle's list_filter semantics — Gopher words are
    non-empty), trim strips only spaces."""
    import re
    from collections import Counter
    from itertools import chain

    import numpy as np
    import pandas as pd

    top_ns, dup_ns = sorted(_REP_TOP_PCT), sorted(_REP_DUP_PCT)
    fields = list(_REP_SIGNAL_FIELDS)

    def java_split(pattern, text):
        parts = re.split(pattern, text, flags=re.ASCII)
        while len(parts) > 1 and parts[-1] == "":
            parts.pop()
        return parts

    def dup_stats(vals):
        c = Counter(vals)
        dup_n = sum(v for v in c.values() if v >= 2)
        dup_chars = sum(v * len(k) for k, v in c.items() if v >= 2)
        return dup_n, dup_chars

    ndocs = len(s)
    toks_list = []
    head = np.zeros((ndocs, 9), dtype=np.int64)
    for i, t in enumerate(s):
        t = t or ""
        toks = [w for w in java_split(r"\s+", t.strip(" ")) if w]
        toks_list.append(toks)
        ls = [v for v in (x.strip(" ") for x in java_split("\n", t)) if v]
        ps = [v for v in (x.strip(" ") for x in java_split(r"\n{2,}", t)) if v]
        dl, dlc = dup_stats(ls)
        dp, dpc = dup_stats(ps)
        head[i, 1:] = (len(ls), sum(map(len, ls)), len(ps), sum(map(len, ps)),
                       dl, dlc, dp, dpc)

    gs = np.fromiter((len(t) for t in toks_list), dtype=np.int64, count=ndocs)
    tok_starts = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(gs, out=tok_starts[1:])
    all_toks = np.asarray(list(chain.from_iterable(toks_list)), dtype=str)
    doc_of = np.repeat(np.arange(ndocs, dtype=np.int32), gs)
    _, gids = np.unique(all_toks, return_inverse=True)
    gids = np.ascontiguousarray(gids, dtype=np.int64)
    lens = np.char.str_len(all_toks).astype(np.int64)
    cl = np.zeros(len(all_toks) + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=cl[1:])
    # single-space-joined token text length per doc (0 for [""] docs)
    text_chars = cl[tok_starts[1:]] - cl[tok_starts[:-1]] - 1
    text_chars = np.maximum(text_chars, 0)
    head[:, 0] = text_chars

    orders = top_ns + dup_ns
    maxn = max(orders)
    per_n = {}
    for n in orders:
        # short docs (G < n): the whole doc as one gram — cnt 1, len
        # text_chars, no duplicates; overwritten below for G >= n
        per_n[n] = (
            np.ones(ndocs, dtype=np.int64),
            text_chars.copy(),
            np.zeros(ndocs, dtype=np.int64),
        )

    T = len(gids)
    if T:
        posT = np.arange(T, dtype=np.int64)
        doc_end = tok_starts[doc_of + 1]
        validlen = doc_end - posT  # in-doc tokens available from here
        pad = maxn
        # r1 ids < T; tail sentinels in [T, T+pad) never equal a rank
        r1 = np.empty(T + pad, dtype=np.int64)
        r1[:T] = np.unique(
            doc_of.astype(np.int64) * (T + 1) + gids, return_inverse=True
        )[1]
        r1[T:] = np.arange(T, T + pad)
        # composed keys < T*B; sentinel keys start at SENT and sort LAST,
        # so valid uniques stay a doc-contiguous prefix
        B = np.int64(2 * T + pad + 2)
        SENT = np.int64(T) * B + 1
        prev = r1[:T]
        for n in range(2, maxn + 1):
            key = prev * B + r1[n - 1 : T + n - 1]
            inv_mask = validlen < n
            key[inv_mask] = SENT + posT[inv_mask]
            uvals, uidx, uinv, ucnt = np.unique(
                key, return_index=True, return_inverse=True, return_counts=True
            )
            prev = uinv.astype(np.int64)
            if n not in per_n:
                continue
            ok = uvals < SENT  # drop the crossing-window sentinels
            rep = uidx[ok]  # one representative window per run
            runlens = ucnt[ok].astype(np.int64)
            if not len(rep):
                continue
            top_cnt, top_len, dup_chars = per_n[n]
            glens = cl[rep + n] - cl[rep] - 1
            rdoc = doc_of[rep]  # non-decreasing: doc leads the rank order
            db = np.concatenate(([0], np.nonzero(rdoc[1:] != rdoc[:-1])[0] + 1))
            seg_docs = rdoc[db]
            seg_top = np.maximum.reduceat(runlens, db)
            top_rep = np.repeat(seg_top, np.diff(np.concatenate((db, [len(runlens)]))))
            seg_top_len = np.maximum.reduceat(np.where(runlens == top_rep, glens, -1), db)
            seg_dup = np.add.reduceat(np.where(runlens >= 2, runlens * glens, 0), db)
            top_cnt[seg_docs] = seg_top
            top_len[seg_docs] = seg_top_len
            dup_chars[seg_docs] = seg_dup

    out = np.empty((ndocs, len(fields)), dtype=np.int64)
    out[:, :9] = head
    c = 9
    for n in top_ns:
        out[:, c] = per_n[n][0]
        out[:, c + 1] = per_n[n][1]
        c += 2
    for n in dup_ns:
        out[:, c] = per_n[n][2]
        c += 1
    return pd.DataFrame(out, columns=fields)


def _rep_signals_arrow_udf():
    """pandas_udf wrapper over the module-level fused kernel (kept
    separate so the kernel benchmarks and property-tests without a
    SparkSession)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from warcraider_spark.dist import ensure_package_on_executors

    # the kernel is module-level, pickled by reference: workers import it
    ensure_package_on_executors()

    def _signals(s):
        return _rep_signals_kernel(s)

    _signals.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    return pandas_udf(_signals, ", ".join(f"{f} long" for f in _REP_SIGNAL_FIELDS))


def _rep_signals_arrow(docs: DataFrame) -> DataFrame:
    sig = docs.select("doc_id", _rep_signals_arrow_udf()(F.col("text")).alias("S"))
    return sig.select("doc_id", *[F.col(f"S.{f}").alias(f) for f in _REP_SIGNAL_FIELDS])


def gopher_repetition_table(docs: DataFrame) -> DataFrame:
    """q139's signal computation over an arbitrary (doc_id, text) frame —
    factored so tests can drive the corpus-vacuous line/paragraph signals
    both ways on constructed multi-line documents.

    Input is range-presorted on doc_id and the presentation sort is
    partition-local (see lineage.range_presort). A trailing global
    ``orderBy`` would range-sample — i.e. RE-RUN — the entire signal
    kernel, and the single-row-group local scan would run it on ONE
    task (med 2.49 s vs 0.65 s at sf0.1). At 100 TB the
    range exchange moves the raw text once; that is the floor for a
    globally doc_id-ordered corpus-sized output (the alternative —
    kernel map-side + lineage cut + signal-only sort — trades it for
    checkpoint I/O and is the right shape only when the output order
    can be relaxed)."""
    sig = _rep_signals_arrow(range_presort(docs, "doc_id"))
    verdicts = [
        (100 * F.col("dup_lines") <= 30 * F.col("n_lines")).alias("dup_line_ok"),
        (100 * F.col("dup_line_chars") <= 20 * F.col("line_chars")).alias("dup_line_char_ok"),
        (100 * F.col("dup_paras") <= 30 * F.col("n_paras")).alias("dup_para_ok"),
        (100 * F.col("dup_para_chars") <= 20 * F.col("para_chars")).alias("dup_para_char_ok"),
    ]
    for n in sorted(_REP_TOP_PCT | _REP_DUP_PCT):
        if n in _REP_TOP_PCT:
            verdicts.append(
                (
                    100 * F.col(f"top{n}_cnt") * F.col(f"top{n}_len")
                    <= _REP_TOP_PCT[n] * F.col("text_chars")
                ).alias(f"top{n}_ok")
            )
        else:
            verdicts.append(
                (
                    100 * F.col(f"dup{n}_chars") <= _REP_DUP_PCT[n] * F.col("text_chars")
                ).alias(f"dup{n}_ok")
            )
    out = sig.select("*", *verdicts)
    verdict_names = [
        "dup_line_ok",
        "dup_line_char_ok",
        "dup_para_ok",
        "dup_para_char_ok",
    ] + [
        (f"top{n}_ok" if n in _REP_TOP_PCT else f"dup{n}_ok")
        for n in sorted(_REP_TOP_PCT | _REP_DUP_PCT)
    ]
    return out.withColumn(
        "kept", reduce(lambda a, b: a & b, [F.col(v) for v in verdict_names])
    ).sortWithinPartitions("doc_id")


# ---------------------------------------------------------------------------
# GPT-style pretokenization, weighted mixture sampling (training-data ops)
# ---------------------------------------------------------------------------

# GPT-2's pretokenizer splits runs of letters / digits / punctuation with an
# optional leading space (public pattern from the GPT-2 encoder). The
# contraction alternatives and the \s+(?!\S) lookahead are dropped: DuckDB's
# RE2 has no lookahead, and the oracle must run the IDENTICAL pattern — the
# remaining pattern still yields subword-ish counts that track BPE token
# counts far better than whitespace words.
# \x0B spelled explicitly: Java \s includes VT, RE2's does not — and \v
# can't bridge them inside a SHARED pattern (Java class \v = the vertical-
# WHITESPACE set incl. U+0085/U+2028/U+2029; RE2 \v = the VT char). The
# hex escape means the same single char in both.
#
# _SKEW_L: the 56 BMP codepoints where \p{L} itself diverges (utf8proc's
# newer Unicode tables classify them as letters, the JVM's don't — Arabic
# Extended-B, late CJK, Latin Extended-D; pinned exhaustively in
# tests/test_engine_unicode_parity.py). Spelling them into the letter
# class AND out of the punctuation catch-all makes the shared pattern
# engine-stable even on corpora that reach them (Arabic Ext-B is real
# crawl content) — and matches the newer-Unicode reading, where they ARE
# letters.
_SKEW_L = (
    r"\x{0870}-\x{0887}\x{0889}-\x{088E}\x{08B5}\x{08C8}\x{08C9}"
    r"\x{0C5D}\x{0CDD}\x{170D}\x{171F}\x{1B4C}\x{2C2F}\x{2C5F}"
    r"\x{9FFD}-\x{9FFF}\x{A7C0}\x{A7C1}\x{A7D0}\x{A7D1}\x{A7D3}"
    r"\x{A7D5}-\x{A7D9}\x{A7F2}-\x{A7F4}"
)
BPE_ISH_PATTERN = (
    r" ?[\p{L}" + _SKEW_L + r"]+| ?\p{N}+| ?[^\s\x0B\p{L}\p{N}" + _SKEW_L + r"]+"
)


@query(
    "q054_bpe_pretokenize",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_pretokens,
       {word_count_sql('text')} AS n_words,
       CASE WHEN length(text) = 0 THEN 0.0
            ELSE ROUND(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))
                       / CAST(length(text) AS DOUBLE), 6) END AS tokens_per_char
FROM documents
ORDER BY doc_id
""",
    tags=("text", "tokens", "bpe"),
)
def q054_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimation with a BPE-style pretokenizer regex: the
    unit LLM data budgets are measured in is (sub)tokens, not words.
    regexp_count keeps the whole computation in codegen — one pass over
    the text, no explode — so the per-document token ledger is a
    map-only stage at any scale."""
    from warcraider_spark.functions.textfn import word_count

    docs = range_presort(load_table(spark, sf_dir, "documents"), "doc_id")
    n_pre = F.regexp_count("text", F.lit(BPE_ISH_PATTERN))
    # empty text → rate 0.0, not DIVIDE_BY_ZERO: under ANSI mode the bare
    # division KILLS the job on the first zero-length doc — and a real
    # 100 TB web corpus always carries some (the synthetic corpus never
    # exposes it)
    rate = F.when(
        F.length("text") > 0,
        F.round(n_pre / F.length("text").cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return (
        docs.select(
            "doc_id",
            n_pre.cast("long").alias("n_pretokens"),
            word_count("text").cast("long").alias("n_words"),
            rate.alias("tokens_per_char"),
        )
        .sortWithinPartitions("doc_id")
    )


# Target sampling rate per source, in thousandths (a data-mixture recipe:
# up/down-weight corpora to hit a target blend). Literal map mirrored in SQL.
MIXTURE_WEIGHTS = {"web": 250, "wiki": 1000, "news": 500, "social": 100, "docs": 750}
_DEFAULT_WEIGHT = 300


@query(
    "q160_weighted_mixture",
    oracle=f"""
WITH w(source_name, keep_permille) AS (
  VALUES {", ".join(f"('{s}', {w})" for s, w in sorted(MIXTURE_WEIGHTS.items()))}
),
     sampled AS (
  SELECT d.source,
         CASE WHEN {md5_int_sql("'mix|' || CAST(d.doc_id AS VARCHAR)")} % 1000
                   < COALESCE(w.keep_permille, {_DEFAULT_WEIGHT})
              THEN 1 ELSE 0 END AS keep
  FROM documents d LEFT JOIN w ON d.source = w.source_name
)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       ROUND(SUM(keep) / CAST(COUNT(*) AS DOUBLE), 4) AS kept_rate
FROM sampled
GROUP BY source
ORDER BY source
""",
    tags=("sampling", "mixture", "pipeline"),
)
def q160_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted mixture sampling: each source corpus is
    down-sampled to its recipe weight by hashing the DOCUMENT ID, not by
    rand() — so the sample is reproducible across runs/engines, stable
    under retries, and needs no shuffle (the keep decision is a map-side
    expression; only the accounting aggregates). The weight table is a
    broadcast-size literal joined on source. This is how a 100 TB blend
    ('25% web, 100% wiki, …') is cut without materializing an ordering."""
    docs = load_table(spark, sf_dir, "documents")
    from warcraider_spark.functions.textfn import md5_int

    w = spark.createDataFrame(
        sorted(MIXTURE_WEIGHTS.items()), "source_name string, keep_permille int"
    )
    h = md5_int(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))) % 1000
    keep = F.when(
        h < F.coalesce(F.col("keep_permille"), F.lit(_DEFAULT_WEIGHT)), 1
    ).otherwise(0)
    return (
        docs.join(F.broadcast(w), docs.source == w.source_name, "left")
        .select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("keep").alias("n_kept"),
            F.round(F.sum("keep") / F.count(F.lit(1)).cast("double"), 4).alias("kept_rate"),
        )
        .orderBy("source")
    )


def sequence_pack(base: DataFrame, cap: int, shard_col: str = "source", order_col: str = "doc_id") -> DataFrame:
    """Core packing transform: (shard, order, n_tok) → start_offset /
    bin_id / straddles via one window cumsum per shard. Factored from
    q125 so edge cases (zero-token docs, docs wider than a window,
    exact-boundary fits) are unit-testable against a reference model."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(shard_col).orderBy(order_col)
    c = base.withColumn("cum", F.sum("n_tok").over(w))
    return c.select(
        shard_col,
        order_col,
        "n_tok",
        (F.col("cum") - F.col("n_tok")).alias("start_offset"),
        F.expr(f"(cum - n_tok) div {cap}").alias("bin_id"),
        (
            (F.col("n_tok") > 0)
            & (F.expr(f"(cum - n_tok) div {cap}") != F.expr(f"(cum - 1) div {cap}"))
        ).alias("straddles"),
    )


@query(
    "q125_sequence_packing",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id,
         {word_count_sql('text')} AS n_tok
  FROM documents
),
c AS (
  SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
  FROM t
)
SELECT source, doc_id, n_tok,
       cum - n_tok AS start_offset,
       (cum - n_tok) // 2048 AS bin_id,
       (n_tok > 0 AND (cum - n_tok) // 2048 <> (cum - 1) // 2048) AS straddles
FROM c
ORDER BY source, doc_id
""",
    tags=("text", "packing", "training-pipeline"),
)
def q125_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-based sequence packing: concatenate each source's token
    stream (doc_id order) and assign every document the 2048-token context
    window its first token lands in — the packing stage that turns a
    deduped corpus into fixed-length training sequences. `straddles` marks
    documents split across a window boundary (the fraction a loss-masking
    policy cares about).

    Scale: one window cumsum per source shard. At 100 TB the shard key
    becomes (source, doc_id div N) so no single partition holds a whole
    source's stream; bin ids then offset by a per-shard base computed from
    an order-of-magnitude-smaller per-shard total (two tiny passes), which
    keeps the heavy pass embarrassingly parallel. Integer-only outputs so
    the oracle is bit-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source", "doc_id", word_count("text").cast("long").alias("n_tok")
    )
    return sequence_pack(base, cap=2048).orderBy("source", "doc_id")


@query(
    "q057_lm_score",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), ' '), '[\\s\\v]+') AS t
  FROM documents
  WHERE trim(text, ' ') <> ''
    AND len(string_split_regex(trim(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), ' '), '[\\s\\v]+')) >= 2
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS u
  FROM (SELECT unnest(t) AS w FROM base)
  GROUP BY w
),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM uni),
db AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
  FROM (
    SELECT doc_id,
           unnest(t[1:len(t)-1]) AS w1,
           unnest(t[2:len(t)]) AS w2
    FROM base
  )
  GROUP BY doc_id, w1, w2
),
bg AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS b FROM db GROUP BY w1, w2)
SELECT db.doc_id,
       CAST(SUM(k) AS BIGINT) AS n_bigrams,
       CAST(SUM(k * ((b * 1000000) // (u + vocab))) AS BIGINT)
         // CAST(SUM(k) AS BIGINT) AS lm_micro
FROM db
JOIN bg USING (w1, w2)
JOIN uni ON db.w1 = uni.w
CROSS JOIN v
GROUP BY db.doc_id
ORDER BY db.doc_id
""",
    tags=("text", "quality", "training-pipeline"),
)
def q057_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality scoring (the CCNet/KenLM-style
    perplexity filter of a pretraining pipeline): score every document by
    the corpus's own smoothed bigram model, p(w2|w1) ≈ B(w1,w2)/(U(w1)+V).
    All math is integer-scaled (micro-probabilities, integer division) so
    the score is bit-exact across engines — a float log-prob would diverge
    in the last ulp between libm implementations.

    Scale: the model IS an aggregation of the corpus (two groupBys on
    uniform-ish token keys with map-side partial aggs), and scoring is two
    shuffled equi-joins on (w1,w2)/(w1). Stop-word keys are the skew
    hazard; AQE skew-join splits them, and at 100 TB the top-K head of the
    vocabulary (tiny) would be broadcast while the tail joins shuffled.
    The V scalar rides a broadcast cross join.
    """
    toks = F.split(F.trim(fold_lower(F.col("text"))), r"\s+")
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
    )
    # per-doc bigram counts: (w1, w2) from zipping t[0:n-1] with t[1:n]
    pairs = F.zip_with(
        F.slice("t", 1, F.size("t") - 1),
        F.slice("t", 2, F.size("t") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    db = (
        base.select("doc_id", F.explode(pairs).alias("p"))
        .groupBy("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("k"))
    )
    uni = (
        base.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("u"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("vocab"))
    bg = db.groupBy("w1", "w2").agg(F.sum("k").alias("b"))
    scored = (
        db.join(bg, ["w1", "w2"])
        .join(uni, db.w1 == uni.w)
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "k",
            F.expr("k * ((b * 1000000) div (u + vocab))").alias("contrib"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.expr("sum(contrib) div sum(k)").alias("lm_micro"),
        )
        .orderBy("doc_id")
    )


# --- BPE merge training -----------------------------------------------------
# Byte-pair-encoding trainer (the tokenizer-training stage of a
# pretraining pipeline; HuggingFace-tokenizers semantics: greedy left-to-right
# non-overlapping merges within a word, global best pair per round, ties to
# the lexicographically smallest (left, right)). Words are represented as
# '<sym><sym>…' strings: every symbol individually wrapped, so one
# string replace('<l><r>' -> '<lr>') IS the greedy non-overlapping merge —
# adjacent matches share no characters, unlike a space-separated encoding.
# Symbols stay in [a-z]+ (the pretokenizer below), so '<'/'>' are safe fences.
BPE_MERGES = 6
BPE_VOCAB_TOP = 400


def _bpe_iter_sql(prev: str, i: int) -> str:
    """One unrolled BPE round for the DuckDB oracle: pair counts from the
    wrapped string, global argmax with (pc DESC, l, r) tie-break, merge by
    string replace. w CTEs are MATERIALIZED — each is referenced twice
    (pair count + merge), so inlining would copy the chain 2^rounds times."""
    return f"""p{i} AS (
  SELECT syms[k] AS l, syms[k + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS pc
  FROM (SELECT string_split(trim(s, '<>'), '><') AS syms, cnt FROM {prev}) t
       CROSS JOIN LATERAL unnest(generate_series(1, len(t.syms) - 1)) AS g(k)
  GROUP BY 1, 2
),
b{i} AS (SELECT l, r, pc FROM p{i} ORDER BY pc DESC, l, r LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT replace(s, '<' || l || '><' || r || '>', '<' || l || r || '>') AS s, cnt
  FROM {prev} CROSS JOIN b{i}
)"""


_BPE_CHAIN = ",\n".join(_bpe_iter_sql(f"w{i - 1}", i) for i in range(1, BPE_MERGES + 1))
_BPE_OUT = "\nUNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS merge_rank, l AS left_sym, r AS right_sym,"
    f" l || r AS merged, pc AS pair_count FROM b{i}"
    for i in range(1, BPE_MERGES + 1)
)


@query(
    "q040_bpe_merge_train",
    oracle=f"""
WITH wtok AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+')) AS w FROM documents)
  GROUP BY 1 ORDER BY cnt DESC, word LIMIT {BPE_VOCAB_TOP}
),
w0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS s, cnt FROM wtok
),
{_BPE_CHAIN}
SELECT * FROM ({_BPE_OUT})
ORDER BY merge_rank
""",
    tags=("text", "bpe", "iterative", "training-pipeline"),
    bench=True,
)
def q040_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {BPE_MERGES} BPE merges on the corpus vocabulary. The corpus-
    scale work is exactly ONE tokenize + groupBy shuffle down to the
    (word, count) vocabulary; every merge round after that touches only
    the vocabulary table (size = distinct words, bounded by
    BPE_VOCAB_TOP, independent of corpus bytes) — the shape that makes
    BPE training viable at 100 TB.

    Because the vocabulary is bounded by construction, the merge rounds
    run executor-locally: one repartition(1) + one Arrow batch runs all
    {BPE_MERGES} rounds on the ≤{BPE_VOCAB_TOP}-row table in a single
    task (_bpe_rounds_local). This is how production tokenizer trainers
    are built: distributed word counting, local merge training on the
    bounded count table. Counts are exact integers, ties break
    lexicographically, and the greedy non-overlapping string replace has
    the same semantics in Python and DuckDB, so the merge table is
    hash-identical to the independently-unrolled DuckDB oracle."""
    _, merges = _bpe_train(spark, sf_dir)
    # single partition out of the local trainer: the partition-local sort
    # IS the total order (no range-boundary sampling re-run)
    return merges.sortWithinPartitions("merge_rank")


def _bpe_rounds_local(rows: list[tuple[str, int]]) -> tuple[list, list]:
    """The BPE merge rounds on the bounded (wrapped-word, count)
    vocabulary, run inside ONE task: returns (final_words, merges).
    Shared semantics with the DuckDB oracle: exact integer pair counts,
    global best with (pc DESC, l, r) tie-break, greedy left-to-right
    non-overlapping replace (str.replace ≡ DuckDB replace), and the
    empty-pair-table edge (no mergeable pair → the oracle's cross join
    with an empty best-pair table: words become EMPTY and no further
    merges emit)."""
    words = [(s, int(c)) for s, c in rows]
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(1, BPE_MERGES + 1):
        pc: dict[tuple[str, str], int] = {}
        for s, cnt in words:
            syms = s[1:-1].split("><")
            for k in range(len(syms) - 1):
                key = (syms[k], syms[k + 1])
                pc[key] = pc.get(key, 0) + cnt
        if not pc:
            words = []
            break
        # tie-break on UTF-8 BYTES, not python str order — identical for
        # the [a-z]+ symbols the tokenizer emits today, and it stays equal
        # to Spark/DuckDB binary collation if the token alphabet ever
        # widens beyond ASCII.
        (left, right), count = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode())
        )
        merges.append((i, left, right, left + right, count))
        pat, rep = f"<{left}><{right}>", f"<{left}{right}>"
        words = [(s.replace(pat, rep), cnt) for s, cnt in words]
    return words, merges


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale half of BPE training: tokenize, count, keep the
    top BPE_VOCAB_TOP words, each as a wrapped '<s><y><m>' string."""
    docs = load_table(spark, sf_dir, "documents")
    wtok = (
        docs.select(
            F.explode(F.expr("regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+', 0)")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(BPE_VOCAB_TOP)
    )
    return wtok.select(F.regexp_replace("word", "(.)", "<$1>").alias("s"), "cnt")


def _bpe_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """BPE training: returns (final merged-word table, merge table). One
    corpus-scale tokenize + top-K shuffle, then ALL rounds in one
    executor-local task (see q040 docstring)."""
    # the closures call the module-level _bpe_rounds_local, pickled by
    # reference — ship the package so a foreign-cwd driver's workers can
    # import it (the q196 pattern)
    from warcraider_spark.dist import ensure_package_on_executors

    ensure_package_on_executors(spark)
    # cut lineage on the bounded count table so a caller consuming BOTH
    # outputs reads one materialization of the corpus tokenize + top-K
    # shuffle instead of re-running it per consumer. The cut stores
    # <=BPE_VOCAB_TOP tiny rows; single-consumer callers (q040, q141) pay
    # only that.
    base = cut_lineage(_bpe_vocab(spark, sf_dir).repartition(1))

    def _final_words(batches):
        import pandas as pd

        rows = [(s, c) for b in batches for s, c in zip(b["s"], b["cnt"])]
        if rows:
            final, _ = _bpe_rounds_local(rows)
            yield pd.DataFrame(final, columns=["s", "cnt"])

    def _merges(batches):
        import pandas as pd

        rows = [(s, c) for b in batches for s, c in zip(b["s"], b["cnt"])]
        if rows:
            _, merges = _bpe_rounds_local(rows)
            yield pd.DataFrame(
                merges,
                columns=["merge_rank", "left_sym", "right_sym", "merged", "pair_count"],
            )

    words_df = base.mapInPandas(_final_words, "s string, cnt long")
    merges_df = base.mapInPandas(
        _merges,
        "merge_rank long, left_sym string, right_sym string,"
        " merged string, pair_count long",
    )
    return words_df, merges_df


@query(
    "q141_bpe_encode",
    oracle=f"""
WITH wtok AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+')) AS w FROM documents)
  GROUP BY 1 ORDER BY cnt DESC, word LIMIT {BPE_VOCAB_TOP}
),
w0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS s, cnt FROM wtok
),
{_BPE_CHAIN}
SELECT array_to_string(string_split(trim(s, '<>'), '><'), '') AS word,
       cnt,
       array_to_string(string_split(trim(s, '<>'), '><'), '|') AS segmentation,
       CAST(len(string_split(trim(s, '<>'), '><')) AS BIGINT) AS n_tokens
FROM w{BPE_MERGES}
ORDER BY cnt DESC, word
""",
    tags=("text", "bpe", "training-pipeline"),
)
def q141_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE (the apply half of q040): the vocabulary segmented by the
    {BPE_MERGES} trained merges — word, frequency, 'seg|men|tation', and
    resulting token count. Tokenizing a corpus with trained merges is the
    same chain of merge string replaces the trainer runs, so the encode
    path reuses the trainer's final word table: per document at scale
    this is a broadcast join from word to segmentation (the vocabulary IS
    the lookup table), with out-of-vocab words falling back to character
    symbols — zero additional shuffles over the corpus."""
    words, _ = _bpe_train(spark, sf_dir)
    syms = F.split(F.regexp_replace("s", "^<|>$", ""), "><")
    return (
        words.select(
            F.array_join(syms, "").alias("word"),
            "cnt",
            F.array_join(syms, "|").alias("segmentation"),
            F.size(syms).cast("long").alias("n_tokens"),
        )
        .orderBy(F.desc("cnt"), "word")
    )


@query(
    "q084_token_budget_select",
    oracle="""
WITH d AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
           * 1000000 // length(text) AS score_milli,
         CAST(len(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+')) AS BIGINT) AS tok
  FROM documents WHERE length(text) > 0
),
t AS (
  SELECT doc_id, score_milli, tok,
         CAST(SUM(tok) OVER (ORDER BY score_milli DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
  FROM d
),
bdg AS (SELECT CAST(SUM(tok) * 2 AS BIGINT) // 5 AS budget FROM d)
SELECT doc_id, score_milli, tok, cum_tok
FROM t CROSS JOIN bdg
WHERE cum_tok <= budget
ORDER BY score_milli DESC, doc_id
""",
    tags=("text", "selection", "training-pipeline"),
)
def q084_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked corpus selection under a token budget: order every
    document by an integer quality score (alphabetic-character ratio in
    micro-units), take documents greedily until 40% of the corpus's
    tokens are spent — the 'best data first' selection pass of a
    pretraining mix.

    The naive plan is a window cumsum over a GLOBAL order — which
    Catalyst executes as a single partition holding the whole corpus: a
    100 TB non-starter. This implements the distributed prefix-sum
    instead: bucket by score range (the bucket is a prefix of the sort
    key, so bucket order refines to row order), compute per-bucket token
    totals (tiny table), turn those into per-bucket offsets with a window
    over the TINY table only, then add offset + within-bucket cumsum —
    the heavy pass is one window per bucket partition, fully parallel.
    The oracle states the same result as the naive global window, which
    is exactly the equivalence the bucketed plan must preserve."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.expr(
                "CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS BIGINT)"
                " * 1000000 div length(text)"
            ).alias("score_milli"),
            F.expr(
                "CAST(size(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+', 0)) AS BIGINT)"
            ).alias("tok"),
        )
        .transform(cut_lineage)
    )
    b = d.withColumn("bucket", F.expr("score_milli div 50000"))
    per_bucket = b.groupBy("bucket").agg(F.sum("tok").alias("btok"))
    # ~21 rows: the single-partition window is over the bucket summary only.
    w_off = Window.orderBy(F.desc("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "bucket", F.coalesce(F.sum("btok").over(w_off), F.lit(0)).alias("offset")
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("score_milli"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budget = d.agg(F.expr("CAST(sum(tok) * 2 AS BIGINT) div 5").alias("budget"))
    return (
        b.withColumn("c_in", F.sum("tok").over(w_in))
        .join(F.broadcast(offsets), "bucket")
        .withColumn("cum_tok", F.col("offset") + F.col("c_in"))
        .crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tok") <= F.col("budget"))
        .select("doc_id", "score_milli", "tok", "cum_tok")
        .orderBy(F.desc("score_milli"), "doc_id")
    )


SOURCE_CAP = 30


@query(
    "q096_source_cap",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
           * 1000000 // length(text) AS score_milli,
         CAST(len(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+')) AS BIGINT) AS tok
  FROM documents WHERE length(text) > 0
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY score_milli DESC, doc_id) AS rk
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS total_docs,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(SUM(CASE WHEN rk > {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS dropped_docs,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN tok ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(MIN(CASE WHEN rk <= {SOURCE_CAP} THEN score_milli END) AS BIGINT) AS cutoff_score
FROM r
GROUP BY source
ORDER BY source
""",
    tags=("text", "sampling", "training-pipeline"),
)
def q096_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the anti-over-representation pass of a
    training mix (no single domain/crawl may contribute more than
    {SOURCE_CAP} docs, best-quality-first): rank docs within source by
    integer quality score, keep the top {SOURCE_CAP}, and report per-source
    admission accounting (total/kept/dropped/kept-token mass/score cutoff).

    Scale shape: ONE shuffle on the source key serves both the ranking
    window and the accounting aggregation (same partitioning, reused —
    no second exchange), rank is computed per-partition after the
    window sort, and nothing global exists anywhere. Skewed sources
    (one giant crawl) are the known hazard at 100 TB — the cap itself
    is the mitigation downstream, and AQE skew-split handles the
    window partition; the aggregation emits |sources| rows."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.length("text") > 0).select(
        "doc_id",
        "source",
        F.expr(
            "CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS BIGINT)"
            " * 1000000 div length(text)"
        ).alias("score_milli"),
        F.expr(
            "CAST(size(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+', 0)) AS BIGINT)"
        ).alias("tok"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("score_milli"), "doc_id")
    r = d.withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") <= SOURCE_CAP
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("kept_docs"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("dropped_docs"),
            F.sum(F.when(kept, F.col("tok")).otherwise(0)).alias("kept_tokens"),
            F.min(F.when(kept, F.col("score_milli"))).alias("cutoff_score"),
        )
        .orderBy("source")
    )


# Stop-term cap as a FRACTION of the corpus (df*10 <= n_docs*8, i.e. 80%):
# integer arithmetic on both engines, and the guard scales with the corpus
# instead of silently indexing nothing (or everything) at a different sf.
IDX_DF_NUM, IDX_DF_DEN = 8, 10


@query(
    "q147_inverted_index",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, ts[i] AS term, CAST(i AS BIGINT) AS pos
  FROM (
    SELECT doc_id, regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+') AS ts FROM documents
  ) d
  CROSS JOIN LATERAL unnest(generate_series(1, len(d.ts))) AS g(i)
),
postings AS (
  SELECT term, doc_id,
         CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(MIN(pos) AS BIGINT) AS first_pos
  FROM tok GROUP BY term, doc_id
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS cf,
       array_to_string(list_transform(
         list_sort(list(doc_id || ':' || tf || ':' || first_pos)), x -> x), '|')
         AS posting_list
FROM postings
GROUP BY term
HAVING COUNT(*) * {IDX_DF_DEN} <= (SELECT COUNT(*) FROM documents) * {IDX_DF_NUM}
ORDER BY term
""",
    tags=("text", "index", "training-pipeline"),
)
def q147_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term → (document frequency, collection
    frequency, serialized posting list of doc:tf:first_position entries) —
    the retrieval-side artifact a corpus pipeline builds next to the
    training shards.

    Scale shape: tokenize+posexplode is map-side; ONE shuffle on
    (term, doc_id) builds postings with partial aggs, and the final
    term-level rollup reuses the term prefix of that key. The DF cap
    (df > 80% of the corpus → stop-term, dropped) bounds every posting
    list — the same skew guard as q098's shingle cap: without it one
    stop-term's list is the whole corpus concatenated onto a single
    reducer. The corpus size joins in as a broadcast 1-row aggregate, and
    the compare is integer (df*10 <= n_docs*8) so both engines agree
    exactly. Postings serialize sorted, so the output is
    order-insensitive-hash stable."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = docs.select(
        "doc_id",
        F.posexplode(F.expr("regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+', 0)")).alias(
            "p", "term"
        ),
    ).select("doc_id", "term", (F.col("p") + 1).cast("long").alias("pos"))
    postings = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.min("pos").alias("first_pos")
    )
    return (
        postings.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.concat_ws(":", "doc_id", "tf", "first_pos"))
                ),
                "|",
            ).alias("posting_list"),
        )
        .join(F.broadcast(n_docs))
        .filter(F.col("df") * IDX_DF_DEN <= F.col("n_docs") * IDX_DF_NUM)
        .drop("n_docs")
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# Retrieval joins over the term index (round 4)
# ---------------------------------------------------------------------------

SCJ_QMOD = 100  # every 100th doc poses a query
SCJ_K = 5  # termset size

# Term convention for the retrieval joins: adjacent-token BIGRAMS. The
# synthetic corpus draws from a ~31-word vocabulary by design, so unigram
# presence is non-discriminative (every common word is in ~80% of docs);
# bigrams span ~900+ values with median df ~ n/20 — the standard IR move
# for tiny vocabularies, and exactly what makes the df skew-guard
# meaningful instead of vacuous.
BIGRAMS_SQL = """
SELECT doc_id,
       list_transform(generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i + 1]) AS ts
FROM (
  SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS ts FROM documents
)
"""


def _bigrams(docs: DataFrame) -> DataFrame:
    """doc_id -> array of adjacent-token bigrams.

    Expressed as zip_with over two slices, NOT transform+element_at: a
    non-lambda subexpression referenced inside a higher-order-function
    lambda is re-evaluated per ELEMENT (no CSE inside interpreted lambda
    bodies), so `transform(seq, i -> element_at(split(text), i))` re-runs
    the split O(len) times per row — measured 7x slower on this corpus.
    zip_with's array children evaluate once per row."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    return docs.select(
        "doc_id",
        F.zip_with(
            F.slice(toks, 1, n1),
            F.slice(toks, 2, n1),
            lambda x, y: F.concat_ws(" ", x, y),
        ).alias("ts"),
    )


@query(
    "q180_set_containment_join",
    oracle=f"""
WITH tl AS ({BIGRAMS_SQL}),
q AS (
  SELECT doc_id AS qid, list_sort(list_distinct(ts))[1:{SCJ_K}] AS qterms
  FROM tl WHERE doc_id % {SCJ_QMOD} = 0 AND len(list_distinct(ts)) >= {SCJ_K}
),
qt AS (SELECT qid, unnest(qterms) AS term FROM q),
p AS (SELECT DISTINCT doc_id, unnest(ts) AS term FROM tl),
c AS (
  SELECT qt.qid, p.doc_id
  FROM qt JOIN p USING (term)
  GROUP BY qt.qid, p.doc_id
  HAVING COUNT(*) = {SCJ_K}
)
SELECT qid AS query_id,
       CAST(COUNT(*) AS BIGINT) AS n_containing,
       CAST(SUM(doc_id) AS BIGINT) AS doc_checksum,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c GROUP BY qid ORDER BY query_id
""",
    tags=("text", "join", "set-containment", "training-pipeline"),
    min_rows=1,
)
def q180_set_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-containment join by COUNTING: for each query termset (the 5
    lexicographically-first distinct bigrams of every 100th document),
    find all documents containing EVERY query term — "docs matching all
    required phrases", the retrieval shape a filter-by-topic curation
    pass needs.

    The scale insight is that containment never becomes a subset test per
    pair: exploded distinct postings equi-join the (broadcast, tiny)
    query-term list on the TERM key, and a per-(query, doc) count equal
    to |termset| certifies containment — one shuffle on (qid, doc_id)
    after a map-side join, candidates bounded by the posting lists of the
    query terms, never |docs| x |queries|. The query doc matches itself,
    a natural fixed point the oracle replays (min_rows guards vacuity).

    At 100 TB the same plan stands, with stop-terms pruned from termsets
    (a query containing only ultra-common terms degenerates to a corpus
    scan by definition, not by plan shape)."""
    tl = _bigrams(load_table(spark, sf_dir, "documents"))
    qsets = (
        tl.filter(F.col("doc_id") % SCJ_QMOD == 0)
        .select(
            F.col("doc_id").alias("qid"),
            F.slice(F.array_sort(F.array_distinct("ts")), 1, SCJ_K).alias("qterms"),
            F.size(F.array_distinct("ts")).alias("n_distinct"),
        )
        .filter(F.col("n_distinct") >= SCJ_K)
    )
    qterms = qsets.select("qid", F.explode("qterms").alias("term"))
    postings = tl.select("doc_id", F.explode(F.array_distinct("ts")).alias("term"))
    contain = (
        postings.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == SCJ_K)
    )
    return (
        contain.groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_containing"),
            F.sum("doc_id").cast("bigint").alias("doc_checksum"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("query_id")
    )


SDOT_TF_CAP = 50  # tf saturation (BM25-style), keeps integer dots in int64
SDOT_QTERMS = 20  # impact-ordered query truncation: top-20 weight terms
SDOT_DF_NUM, SDOT_DF_DEN = 1, 5  # drop terms with df > n_docs/5 (skew guard)
SDOT_TOPK = 5


@query(
    "q023_sparse_dot_topk",
    oracle=f"""
WITH tl AS ({BIGRAMS_SQL}),
tok AS (
  SELECT doc_id, term, LEAST(CAST(COUNT(*) AS BIGINT), {SDOT_TF_CAP}) AS tf
  FROM (SELECT doc_id, unnest(ts) AS term FROM tl)
  GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY term),
keep AS (
  SELECT term, df FROM dfs
  WHERE df * {SDOT_DF_DEN} <= (SELECT COUNT(*) * {SDOT_DF_NUM} FROM documents)
),
w AS (
  SELECT tok.doc_id, tok.term, tok.tf * (1000000 // keep.df) AS wt
  FROM tok JOIN keep USING (term)
),
qw0 AS (
  SELECT doc_id AS qid, term, wt AS qwt,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wt DESC, term) AS qrnk
  FROM w WHERE doc_id % {SCJ_QMOD} = 0
),
qw AS (SELECT qid, term, qwt FROM qw0 WHERE qrnk <= {SDOT_QTERMS}),
dots AS (
  SELECT qw.qid, w.doc_id, CAST(SUM(qw.qwt * w.wt) AS BIGINT) AS dot
  FROM w JOIN qw USING (term)
  WHERE w.doc_id <> qw.qid
  GROUP BY qw.qid, w.doc_id
),
ranked AS (
  SELECT qid, doc_id, dot,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, doc_id) AS rnk
  FROM dots
)
SELECT qid AS query_id, CAST(rnk AS INT) AS rank, doc_id AS neighbor_id, dot
FROM ranked WHERE rnk <= {SDOT_TOPK}
ORDER BY query_id, rank
""",
    tags=("text", "similarity", "index", "training-pipeline"),
    bench=True,
    min_rows=1,
)
def q023_sparse_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF dot-product top-k via the inverted index — lexical
    nearest neighbors, the retrieval dual of q050's dense rerank and the
    pairing stage of a lexical near-dup miner. Terms are adjacent-token
    bigrams (see BIGRAMS_SQL — the corpus's 31-word vocabulary makes
    unigram presence non-discriminative).

    Integer-exact by construction so the oracle hash is stable: weights
    are tf (saturated at 50, BM25-style) x an integer idf
    (1_000_000 // df) — floating summation order can never flip a rank.
    Terms with df > n_docs/5 are dropped before the join: the SAME skew
    guard as q147/q098 (one stop-term would otherwise put the whole
    corpus under one join key), applied identically in the oracle, so
    the cap is part of the certified semantics, not a silent
    approximation.

    Plan: tf is counted map-side inside each document's row
    (_sdot_tf_arrow); df rolls up with one term-keyed shuffle; the
    query-side weight table (|queries| x terms, KB-scale) BROADCASTS onto the corpus weights — the corpus shuffles once more on
    (qid, doc_id) for the dot aggregation and once per-query-partition
    for the windowed top-k. Candidates are bounded by posting-list
    intersections of df-capped terms, never |docs| x |queries|.

    The shared weight table ``w`` is materialized ONCE via cut_lineage
    before fanning out to the corpus and query sides, so the static plan
    IS the executed plan (an uncut plan prints the tok lineage 4x) —
    <=4 shuffle exchanges, asserted by plan-CI
    (test_sparse_dot_single_materialization). cache() would be wrong
    here: Spark's CacheManager matches canonicalized plans across
    invocations, so a second bench rep would read cached blocks
    instead of re-executing the engine work the bench measures.
    cut_lineage routes to a RELIABLE checkpoint when a directory is
    configured (cluster path), localCheckpoint locally."""
    docs = load_table(spark, sf_dir, "documents")
    # n_docs from the parquet FOOTER (no Spark job at plan build):
    # resolving it driver-side keeps the df-cap filter a literal
    # predicate instead of a 1-row cross-join subtree that the w/qw
    # lineages would duplicate
    return sparse_dot_topk_plan(docs, table_row_count(sf_dir, "documents"))


def _sdot_tf_arrow(bg: DataFrame) -> DataFrame:
    """(doc_id, ts bigram-array) → (doc_id, term, tf) rows with tf
    saturated at SDOT_TF_CAP, as ONE vectorized Arrow pass: the
    per-document term counting happens INSIDE the document's row —
    map-side, exact — so there is no (doc_id, term) shuffle and the
    w-build's only data exchange is the term-keyed df aggregation. The
    bigram STRINGS are still built by the certified JVM expression
    (_bigrams); Python only counts them (hash groupby over the flattened
    batch), so tokenization semantics cannot drift.

    Precondition: ONE input row per doc_id. Counting is per Arrow batch,
    so a doc_id split over two rows that land in different batches or
    partitions would emit two partial (doc_id, term) counts instead of
    one. Every caller feeds a documents table keyed by doc_id.
    tests/test_properties.py pins the kernel against a pure-Python term
    counter with two-record Arrow batches."""
    cap = SDOT_TF_CAP

    def gen(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            ts = b.column("ts")
            doc = np.asarray(b.column("doc_id"))
            lengths = pc.list_value_length(ts).to_numpy(zero_copy_only=False)
            d = np.repeat(doc, np.nan_to_num(lengths).astype(np.int64))
            flat = pc.list_flatten(ts)
            g = (
                pd.DataFrame({"doc_id": d, "term": flat.to_pandas()})
                .groupby(["doc_id", "term"], sort=False, dropna=False)
                .size()
                .reset_index(name="tf")
            )
            tf = np.minimum(g["tf"].to_numpy(), cap).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(g["doc_id"].to_numpy(), pa.int64()),
                    pa.array(g["term"], pa.string()),
                    pa.array(tf, pa.int64()),
                ],
                ["doc_id", "term", "tf"],
            )

    return bg.mapInArrow(gen, "doc_id bigint, term string, tf bigint")


def sparse_dot_topk_plan(
    docs: DataFrame, n_docs: int, query_pred=None
) -> DataFrame:
    """The q023 plan over an arbitrary documents DataFrame with ONE row
    per doc_id (the _sdot_tf_arrow precondition). ``query_pred``
    optionally restricts the query side further (tools/scale_bench.py pins
    queries to replica 0 so the §10 curve measures fixed-workload corpus
    growth, not k-squared by construction).

    Per-doc term counts come from the map-side Arrow kernel
    (_sdot_tf_arrow) — one data exchange on the w-build. The kernel
    output is materialized once (cut_lineage) because its two consumers
    (the df aggregation and the w join) share no exchange AQE could
    reuse."""
    from pyspark.sql import Window

    tok = _sdot_tf_arrow(_bigrams(docs)).transform(cut_lineage)
    dfs = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    keep = dfs.filter(F.col("df") * SDOT_DF_DEN <= F.lit(n_docs * SDOT_DF_NUM))
    w = (
        tok.join(keep.select("term", "df"), "term")
        .select("doc_id", "term", (F.col("tf") * F.expr("1000000 div df")).alias("wt"))
        # materialize the shared lineage once (see docstring): both the
        # corpus side and the query side read these blocks; within the
        # build itself AQE stage-reuse already deduplicates the tok
        # shuffle, so the cut adds no extra compute
        .transform(cut_lineage)
    )
    # Impact-ordered query truncation (the WAND / impact-sorted-index
    # practice): each query keeps only its SDOT_QTERMS highest-weight
    # terms, so the term join fans out to O(queries x qterms) candidate
    # rows instead of O(queries x doc_vocabulary) — a 10x join-volume cut
    # here. Applied IDENTICALLY in the oracle (deterministic tie-break on
    # the term string), so the truncation is certified semantics.
    qwin = Window.partitionBy("qid").orderBy(F.desc("qwt"), F.asc("term"))
    qfilter = F.col("doc_id") % SCJ_QMOD == 0
    if query_pred is not None:
        qfilter = qfilter & query_pred
    qw = (
        w.filter(qfilter)
        .select(F.col("doc_id").alias("qid"), "term", F.col("wt").alias("qwt"))
        .withColumn("qrnk", F.row_number().over(qwin))
        .filter(F.col("qrnk") <= SDOT_QTERMS)
        .drop("qrnk")
    )
    dots = (
        w.join(F.broadcast(qw), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("qwt") * F.col("wt")).cast("bigint").alias("dot"))
    )
    win = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("doc_id"))
    return (
        dots.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= SDOT_TOPK)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("doc_id").alias("neighbor_id"),
            "dot",
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Collocation mining + corpus novelty (round 4)
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5  # drop hapax-ish bigrams before ranking (standard practice)
PMI_TOPK = 100


def _pmi_rank() -> F.Column:
    """q135's ranking column over (n_xy, n_x, n_y) counts and the
    broadcast totals (nn, mx = max n_xy, mxx = max n_x, mxy = max n_y).

    Integer path: n_xy*nn*1e6 div (n_x*n_y) — exact, cross-engine
    hash-safe (DuckDB `//` and Spark DIV both floor for positives).
    Log path, taken when either side could overflow int64 (numerator
    mx*nn*1e6, denominator mxx*mxy; both tests are division-only so they
    cannot overflow themselves): floor(1e6 * ln-PMI) micro-nats — log is
    monotone, so ranking is preserved. CASE WHEN evaluates lazily, so
    the integer branch never runs (and can't ANSI-overflow) when the
    guard fires.
    """
    headroom = (2**63 - 1) // 1_000_000
    int64max = 2**63 - 1
    return F.expr(
        f"CASE WHEN mx > CAST({headroom} AS BIGINT) DIV nn "
        f"OR mxx > CAST({int64max} AS BIGINT) DIV mxy THEN "
        "CAST(FLOOR(1000000.0 * (LN(CAST(n_xy AS DOUBLE)) + LN(CAST(nn AS DOUBLE)) "
        "- LN(CAST(n_x AS DOUBLE)) - LN(CAST(n_y AS DOUBLE)))) AS BIGINT) "
        "ELSE CAST((n_xy * nn * 1000000) DIV (n_x * n_y) AS BIGINT) END"
    )


@query(
    "q135_pmi_collocations",
    oracle=f"""
WITH t AS (
  SELECT string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents
),
bg AS (
  SELECT w1, w2 FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                  i -> {{'w1': toks[i], 'w2': toks[i + 1]}}), recursive := true)
    FROM t WHERE len(toks) >= 2
  )
),
c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy FROM bg GROUP BY w1, w2),
x AS (SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM c GROUP BY w1),
y AS (SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM c GROUP BY w2),
n AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS nn FROM c)
SELECT c.w1, c.w2, n_xy, n_x, n_y,
       CAST((n_xy * nn * 1000000) // (n_x * n_y) AS BIGINT) AS pmi_scaled
FROM c JOIN x ON c.w1 = x.w1 JOIN y ON c.w2 = y.w2 CROSS JOIN n
WHERE n_xy >= {PMI_MIN_COUNT}
ORDER BY pmi_scaled DESC, c.w1, c.w2
LIMIT {PMI_TOPK}
""",
    tags=("text", "collocations", "training-pipeline"),
    min_rows=20,
)
def q135_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining — rank adjacent-bigram collocations by
    pointwise mutual information, the standard phrase-detection pass
    (word2vec-style phrase merging) a tokenizer-training pipeline runs
    before BPE (complements q040/q054/q141).

    PMI = log(p(xy)/(p(x)p(y))) is certified INTEGER-EXACTLY as the
    scaled ratio n_xy*N*1e6 div (n_x*n_y) — log is monotone, so the
    integer ratio induces the identical ranking with no cross-engine
    float drift. Marginals n_x/n_y are bigram-positional (sum over the
    bigram-count table), so everything derives from ONE bigram groupBy.

    Scale shape: one O(len) zip-of-shifted-slices bigram expansion
    (never element_at-per-element), ONE shuffle on the bigram key; the
    two marginal tables are vocab-sized re-aggregations of the count
    table joined back on w1/w2 via PLAIN shuffle joins — a web-scale
    vocab (typos, URLs, code) is 10^8..10^9 terms under Heaps' law, so
    broadcasting the marginals OOMs executors; the bigram table is
    already key-compatible, so the
    joins reuse the same hash partitioning. The grand totals (nn, mx)
    are a 1-row grand-aggregate broadcast cross-joined onto the ranked
    table — bounded at exactly one row by construction (plan-audit
    exempt), resolved at first action, so building this plan launches
    ZERO Spark jobs. Final top-k is
    TakeOrderedAndProject.

    Int64 headroom guard (ENFORCED, runtime): the integer path needs
    BOTH max(n_xy)*nn*1e6 < 2^63 (numerator) AND max(n_x)*max(n_y) <
    2^63 (denominator — with a small max(n_xy) the
    denominator overflows first, from nn ≈ 3e9 worst-case); a CASE WHEN
    on the broadcast totals (nn, mx, mxx, mxy) switches to the
    log-domain double variant (pmi_scaled = micro-nats, floor-scaled) —
    same schema, same monotone ranking (``_pmi_rank``). Cert SFs always
    take the integer path; tests/test_oracle_queries.py feeds synthetic
    count rows through ``_pmi_rank`` and pins the integer path, the log
    path's ranking against driver-side math.log, and both guard sides.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select(tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.slice("toks", 1, F.size("toks") - 1).alias("a"),
            F.slice("toks", 2, F.size("toks") - 1).alias("b"),
        )
    )
    bg = d.select(F.explode(F.arrays_zip("a", "b")).alias("z")).select(
        F.col("z.a").alias("w1"), F.col("z.b").alias("w2")
    )
    # The bigram-count table is referenced FOUR times below (join base,
    # both marginals, the totals broadcast); AQE does NOT reuse the
    # exchange across them (column pruning differentiates the
    # subtrees), so persist() it: lazy — building this plan launches
    # zero Spark jobs (a cut_lineage here would execute the whole bigram
    # DAG at build time, since under AQE even a lazy localCheckpoint
    # runs its stages) — and all four subtrees read the ONE
    # materialization populated by the first action. MEMORY_AND_DISK,
    # the same footprint a localCheckpoint would have; vocab-sized
    # (Heaps' law), spills rather than OOMs at 100 TB.
    # Lifecycle: the returned plan is lazy, so there is
    # no terminal action here to unpersist after — the cache must stay
    # live for caller recomputation; reclamation is DELIBERATELY left to
    # ContextCleaner when the returned DataFrame is dropped.
    c = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    ).persist()
    x = c.groupBy("w1").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    y = c.groupBy("w2").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    # grand totals as a 1-ROW BROADCAST scalar (plan
    # construction is side-effect-free — no .first() at build time; the
    # bounded broadcast is a grand aggregate, exactly 1 row by
    # construction, plan-audit pair-exempted). The int64 headroom guard
    # is a runtime CASE WHEN on that scalar (``_pmi_rank``).
    tot = (
        c.agg(
            F.sum("n_xy").cast("bigint").alias("nn"),
            F.max("n_xy").cast("bigint").alias("mx"),
        )
        # the numerator test alone leaves a gap — with a
        # small mx the denominator n_x*n_y can overflow int64 first
        # (worst case nn^2 overflows from nn ≈ 3.04e9, while the
        # numerator guard with mx=5 only fires from nn ≈ 1.8e12).
        # Broadcast the marginal maxima too and route to the log path
        # whenever max(n_x)*max(n_y) could exceed int64 — conservative
        # (maxima need not co-occur in one pair) but overflow-safe, and
        # the log path preserves the ranking either way.
        .crossJoin(x.agg(F.max("n_x").cast("bigint").alias("mxx")))
        .crossJoin(y.agg(F.max("n_y").cast("bigint").alias("mxy")))
    )
    return (
        c.join(x, "w1")
        .join(y, "w2")
        .filter(F.col("n_xy") >= PMI_MIN_COUNT)
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n_xy", "n_x", "n_y", _pmi_rank().alias("pmi_scaled"))
        .orderBy(F.desc("pmi_scaled"), "w1", "w2")
        .limit(PMI_TOPK)
    )


NOVELTY_K = 5  # 5-token grams, the substring-dedup literature's unit


@query(
    "q041_ngram_novelty",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents
),
d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= {NOVELTY_K}),
dg AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 1)), i -> toks[i + 0] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS gram FROM d
),
firsts AS (SELECT gram, MIN(doc_id) AS first_doc FROM dg GROUP BY gram)
SELECT dg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN dg.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((CAST(SUM(CASE WHEN dg.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
             * 10000) // COUNT(*) AS BIGINT) AS novelty_bp
FROM dg JOIN firsts f USING (gram)
GROUP BY dg.doc_id
ORDER BY doc_id
""",
    tags=("text", "dedup", "training-pipeline"),
    min_rows=100,
)
def q041_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY rate — the corpus-diversity metric the
    substring-dedup literature (Lee et al., "Deduplicating Training Data
    Makes LMs Better") uses to decide how much of each new document is
    genuinely new text: the fraction of its distinct 5-grams whose FIRST
    corpus occurrence (min doc_id) is this document. Late crawl
    snapshots score low → prime pruning candidates; complements q133's
    duplicate-span finder with a doc-level score.

    Integer-exact: counts and a basis-point ratio via integer div.

    Scale shape: distinct grams come from the certified shingles()
    zip-of-slices expansion (O(k·len) per row, dedup inside the array —
    no explode-then-distinct shuffle); shuffle 1 groups by gram for the
    min-doc table; the join back is on the SAME gram key (partitioning
    reused, no extra exchange); shuffle 2 re-groups by doc_id. No
    windows, no driver state, no skew beyond natural gram frequency
    (hot grams cap at corpus doc count, and only (gram, first_doc)
    pairs — 16-byte rows — flow through the join).
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= NOVELTY_K
    )
    dg = d.select("doc_id", F.explode(shingles(F.col("toks"), NOVELTY_K)).alias("gram"))
    firsts = dg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)).cast(
        "bigint"
    )
    return (
        dg.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("CAST((n_novel * 10000) DIV n_grams AS BIGINT)").alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Gopher-style rule filtering (round 8)
# ---------------------------------------------------------------------------

_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_BULLETS = ("-", "*", "•", "‣", "▪")


@query(
    "q140_gopher_rules",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text, ' '), '[\\s\\v]+'), x -> x <> '') AS toks,
         list_filter(string_split(text, chr(10)), l -> trim(l, ' ') <> '') AS ls
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n,
         CAST(coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) AS BIGINT) AS chars,
         CAST(len(list_filter(toks, x -> contains(x, '#') OR contains(x, '...') OR contains(x, '…'))) AS BIGINT) AS sym,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
         CAST(len(ls) AS BIGINT) AS nl,
         CAST(len(list_filter(ls, l -> ends_with(trim(l, ' '), '...') OR ends_with(trim(l, ' '), '…'))) AS BIGINT) AS ell,
         CAST(len(list_filter(ls, l -> {" OR ".join(f"starts_with(trim(l, ' '), '{b}')" for b in _GOPHER_BULLETS)})) AS BIGINT) AS bul,
         CAST(len(list_intersect(list_transform(toks, x -> lower(x)),
              [{", ".join(repr(w) for w in _GOPHER_STOPWORDS)}])) AS BIGINT) AS stop
  FROM t
),
v AS (
  SELECT doc_id, n,
         (n >= 50 AND n <= 100000) AS word_count_ok,
         (3 * n <= chars AND chars <= 10 * n) AS mean_word_len_ok,
         (10 * sym <= n) AS symbol_ratio_ok,
         (10 * ell <= 3 * nl) AS ellipsis_lines_ok,
         (10 * bul <= 9 * nl) AS bullet_lines_ok,
         (5 * alpha >= 4 * n) AS alpha_word_ok,
         (stop >= 2) AS stopword_ok
  FROM m
)
SELECT doc_id, n AS n_tokens, word_count_ok, mean_word_len_ok, symbol_ratio_ok,
       ellipsis_lines_ok, bullet_lines_ok, alpha_word_ok, stopword_ok,
       (word_count_ok AND mean_word_len_ok AND symbol_ratio_ok AND ellipsis_lines_ok
        AND bullet_lines_ok AND alpha_word_ok AND stopword_ok) AS kept
FROM v ORDER BY doc_id
""",
    tags=("text", "quality", "training-pipeline"),
    bench=True,
)
def q140_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filtering (Rae et al. 2021 §A1.1, the published
    heuristic set most production LLM pipelines start from) as per-rule
    verdicts, not a composite score (complements q087's composite): word
    count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio ('#'/'...') <= 10%, <= 30% of lines ending in ellipsis, <= 90%
    starting with a bullet, >= 80% of words containing an alphabetic
    character, >= 2 distinct Gopher stopwords present, plus the AND'd
    `kept` verdict a filter stage would apply.

    Every rule is certified INTEGER-EXACTLY (10*sym <= n instead of
    sym/n <= 0.1 — no ratio ever materializes), so the row hashes carry
    zero cross-engine float risk; division-free comparisons also make
    the n = 0 / no-lines edge cases total without guards.

    Scale shape: pure per-row higher-order array expressions — JVM-side
    but interpreted (HOFs are CodegenFallback, the q139 lesson; cheap
    here because each rule is one O(tokens) pass with trivial lambda
    bodies, measured linear 3.8× at 8× data) — map-only over the
    corpus, no shuffle before the presentation sort; at 100 TB this is
    the cheapest possible full-corpus pass (the same scan the q174
    pipeline fuses its filters into).

    Note: the stopword rule keeps Gopher's PUBLISHED 8-word list, which
    the synthetic database-vocabulary corpus almost never satisfies —
    kept is false corpus-wide there (word_count_ok still discriminates
    277/500 at sf0.01, so the hash is non-degenerate); the rule's both-
    ways behavior is certified by a constructed-data unit test over
    ``gopher_rule_table``."""
    return gopher_rule_table(load_table(spark, sf_dir, "documents"))


def gopher_rule_table(docs: DataFrame) -> DataFrame:
    """q140's rule computation over an arbitrary (doc_id, text) frame —
    factored so tests can drive each rule both ways on constructed
    documents (the synthetic corpus never satisfies the stopword rule).

    The input is range-presorted on doc_id and the presentation sort is
    partition-local (see lineage.range_presort) — the interpreted HOF
    rule pass runs once, in parallel, instead of twice on one task under
    the old trailing orderBy's range-boundary sampling."""
    docs = range_presort(docs, "doc_id")
    toks = F.filter(tokens("text"), lambda t: t != F.lit(""))
    lines = F.filter(F.split(F.col("text"), "\n"), lambda l: F.trim(l) != F.lit(""))
    d = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("chars"),
        F.size(
            F.filter(
                toks,
                lambda t: t.contains("#") | t.contains("...") | t.contains("…"),
            )
        ).cast("long").alias("sym"),
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("long").alias("alpha"),
        F.size(lines).cast("long").alias("nl"),
        F.size(
            F.filter(
                lines,
                lambda l: F.trim(l).endswith("...") | F.trim(l).endswith("…"),
            )
        ).cast("long").alias("ell"),
        F.size(
            F.filter(
                lines,
                lambda l: reduce(
                    lambda a, b: a | b,
                    [F.trim(l).startswith(p) for p in _GOPHER_BULLETS],
                ),
            )
        ).cast("long").alias("bul"),
        F.size(
            F.array_intersect(
                F.transform(toks, F.lower),
                F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS]),
            )
        ).cast("long").alias("stop"),
    )
    rules = {
        "word_count_ok": (F.col("n") >= 50) & (F.col("n") <= 100000),
        "mean_word_len_ok": (3 * F.col("n") <= F.col("chars"))
        & (F.col("chars") <= 10 * F.col("n")),
        "symbol_ratio_ok": 10 * F.col("sym") <= F.col("n"),
        "ellipsis_lines_ok": 10 * F.col("ell") <= 3 * F.col("nl"),
        "bullet_lines_ok": 10 * F.col("bul") <= 9 * F.col("nl"),
        "alpha_word_ok": 5 * F.col("alpha") >= 4 * F.col("n"),
        "stopword_ok": F.col("stop") >= 2,
    }
    out = d.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        *[expr.alias(name) for name, expr in rules.items()],
    )
    kept = reduce(lambda a, b: a & b, [F.col(c) for c in rules])
    return out.withColumn("kept", kept).sortWithinPartitions("doc_id")
