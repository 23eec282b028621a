"""Deduplication operators over ``documents`` / ``embeddings``
(BASELINE north-star surface): exact hash-groupBy, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

The driver corpus has 500 fully-distinct texts, so every query here first
builds a deterministic **dup corpus** (same construction in Spark and the
DuckDB oracle): base docs ∪ exact copies of doc_id<60 (+10000) ∪ near-dup
copies of 60≤doc_id<120 with the first token dropped (+20000). Dedup
operators therefore have real positives to find, and the oracle hash
verifies they find exactly the right ones.

Scale design (the point of these operators at 100 TB):
- exact dedup: md5-groupBy = one shuffle on a 128-bit key, no skew;
- MinHash LSH: explode shingles → per-doc signature (map-side agg) →
  band-key self-join. The join key is (band_idx, band_hash) — cardinality
  ~docs×bands, uniform; candidate pairs ≪ n², never n² compare;
- SimHash: one linear pass to 16-bit sketches, then pairs only within
  identical sketch (or small hamming radius over a band join);
- embedding near-dup: bounded candidate set (here: id-range block; the
  LSH-bucketed variant is q105 in similarity.py).

No row-at-a-time Python UDFs anywhere in this module. The Python-boundary
crossings are vectorized Arrow kernels: the CDC cut positions
(_cdc_cuts_arrow_udf), the winnowing selector (_winnow_select), the
winnowing pair generator (_winnow_pairs_arrow) and the excision span merge
(_merge_spans_arrow).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from warcraider_spark.functions.textfn import (
    doc_fingerprint,
    md5_int,
    md5_int_sql,
    shingles,
    shingles_sql,
    tokens,
)
from warcraider_spark.lineage import cut_lineage
from warcraider_spark.registry import query
from warcraider_spark.tables import load_table, table_row_count

# ---------------------------------------------------------------------------
# The shared dup corpus (Spark + SQL twins)
# ---------------------------------------------------------------------------

DUP_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 60
UNION ALL
SELECT doc_id + 20000 AS doc_id,
       array_to_string(string_split_regex(trim(text, ' '), '[\\s\\v]+')[2:], ' ') AS text
FROM documents WHERE doc_id >= 60 AND doc_id < 120
"""


def dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") < 60).select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    tok = tokens("text")
    near = (
        docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
        .select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            F.array_join(F.slice(tok, 2, F.size(tok) - 1), " ").alias("text"),
        )
    )
    return docs.unionAll(exact).unionAll(near)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "q190_exact_dedup_groups",
    oracle=f"""
WITH corpus AS ({DUP_CORPUS_SQL}),
     hashed AS (
  SELECT doc_id, md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp FROM corpus
)
SELECT fp,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc,
       array_to_string(list_sort(list(doc_id)), ',') AS members
FROM hashed
GROUP BY fp
HAVING COUNT(*) > 1
ORDER BY fp
""",
    tags=("dedup", "exact"),
    bench=True,
)
def q190_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-of-normalized-text groupBy; emit duplicate groups
    with the canonical (min) member. One shuffle on the hash key."""
    corpus = dup_corpus(spark, sf_dir)
    return (
        corpus.select("doc_id", doc_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("members"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


@query(
    "q083_dedup_keep_canonical",
    oracle=f"""
WITH corpus AS ({DUP_CORPUS_SQL}),
     hashed AS (
  SELECT doc_id, md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp FROM corpus
)
SELECT COUNT(*) AS total_docs,
       COUNT(DISTINCT fp) AS kept_docs,
       COUNT(*) - COUNT(DISTINCT fp) AS removed_docs
FROM hashed
""",
    tags=("dedup", "exact"),
)
def q083_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup summary: total vs kept (dropDuplicates-on-fingerprint) vs
    removed — the pipeline-level dedup accounting row."""
    corpus = dup_corpus(spark, sf_dir)
    hashed = corpus.select("doc_id", doc_fingerprint("text").alias("fp"))
    return hashed.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct("fp").alias("kept_docs"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("removed_docs"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES = 8
BAND_SIZE = 2  # → 4 bands


# Universal-hash family over ONE base md5 per shingle: h_i = (a_i·h + b_i)
# mod 2^31, with h reduced to 30 bits so a_i·h never overflows int64.
# One md5 instead of 8 per shingle — measured ~2× on the sf0.1 bench with
# identical LSH guarantees (exact copies keep identical signatures;
# near-dup recall re-verified by probe).
_HASH_AB = [(2 * i + 3, 7919 * i + 1) for i in range(N_HASHES)]
_H_MOD = 1 << 31


def _exploded_shingles(corpus: DataFrame) -> DataFrame:
    """doc_id → one row per distinct 3-shingle.

    Tokenization is materialized in its own projection BEFORE the shingle
    expression: ``shingles()`` references its token-array argument ~2k times
    (k slices × zip_with), and Catalyst's CollapseProject keeps a multiply-
    referenced non-cheap alias as a separate Project instead of inlining it,
    so ``split(trim(text, ' '))`` runs once per row, not six times (~35% off the
    whole minhash bench)."""
    return corpus.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.explode(shingles(F.col("toks"), 3)).alias("shingle")
    )


def _minhash_sig_spark(corpus: DataFrame) -> DataFrame:
    """doc_id → m0..m7 minhash values, min-aggregated per doc.

    explode + groupBy(doc_id) with 8 min() aggs: partial min computed
    map-side, so the shuffle carries one row per doc, not per shingle.
    """
    sh = _exploded_shingles(corpus).select(
        "doc_id", (md5_int(F.col("shingle")) % (1 << 30)).alias("h")
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % _H_MOD).alias(f"m{i}")
        for i, (a, b) in enumerate(_HASH_AB)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


_MIN_EXPRS = ", ".join(
    f"MIN(({a} * h + {b}) % {_H_MOD}) AS m{i}" for i, (a, b) in enumerate(_HASH_AB)
)

_MINHASH_SIG_SQL = f"""
  SELECT doc_id,
         {_MIN_EXPRS}
  FROM (
    SELECT doc_id, {md5_int_sql("shingle")} % {1 << 30} AS h
    FROM (
      SELECT doc_id, unnest({shingles_sql("toks", 3)}) AS shingle
      FROM (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM corpus)
    )
  )
  GROUP BY doc_id
"""


# bands + distinct candidate pairs, shared by q189 and q099 (SQL twin of
# _lsh_pairs below)
_LSH_PAIRS_SQL = f"""
WITH corpus AS ({DUP_CORPUS_SQL}),
     sig AS ({_MINHASH_SIG_SQL}),
     bands AS (
  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || '_' || CAST(m1 AS VARCHAR)) AS bh FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(CAST(m2 AS VARCHAR) || '_' || CAST(m3 AS VARCHAR)) AS bh FROM sig
  UNION ALL
  SELECT doc_id, 2 AS band, md5(CAST(m4 AS VARCHAR) || '_' || CAST(m5 AS VARCHAR)) AS bh FROM sig
  UNION ALL
  SELECT doc_id, 3 AS band, md5(CAST(m6 AS VARCHAR) || '_' || CAST(m7 AS VARCHAR)) AS bh FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


def _sig_bands(sig: DataFrame) -> DataFrame:
    """Banded LSH keys from a minhash signature: doc_id → (band, bh) rows.

    ONE posexplode instead of a 4-way union: a union would recompute the
    signature aggregation per branch (and per self-join side) — 8× the
    work; with a single subplan Spark reuses the exchange across the join.
    """
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_", F.col(f"m{2 * band}").cast("string"), F.col(f"m{2 * band + 1}").cast("string")
                )
            )
            for band in range(N_HASHES // BAND_SIZE)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_hashes).alias("band", "bh"))


def _lsh_pairs(corpus: DataFrame) -> DataFrame:
    """Distinct LSH candidate pairs (doc_a < doc_b) from the dup corpus."""
    bands = _sig_bands(_minhash_sig_spark(corpus))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "q189_minhash_lsh_pairs",
    oracle=f"""
{_LSH_PAIRS_SQL}
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def q189_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: 8 minhashes, 4 bands of 2; pairs
    sharing ≥1 band. The band-key self-join is the scale path — candidate
    generation is O(collisions), never O(n²)."""
    return _lsh_pairs(dup_corpus(spark, sf_dir)).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def _simhash_sketch_sql(bits: int) -> str:
    """corpus→sketch CTE chain for a ``bits``-wide simhash (q101 uses 16;
    q039's radius search uses 32 so accidental radius-2 collisions stay
    rare at corpus scale)."""
    body = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""corpus AS ({DUP_CORPUS_SQL}),
     tokh AS (
  SELECT doc_id, {md5_int_sql("tok")} % {1 << bits} AS h
  FROM (
    SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text, ' '), '[\\s\\v]+'))) AS tok
    FROM corpus
  )
),
     sketch AS (
  SELECT doc_id,
         {body}
         AS simhash
  FROM tokh GROUP BY doc_id
)"""


def _simhash_sketch(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """doc_id → ``bits``-wide simhash sketch (majority vote per bit over
    distinct-token hashes; one explode + one map-side-combined groupBy)."""
    tokh = corpus.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    ).select("doc_id", (md5_int(F.col("tok")) % (1 << bits)).alias("h"))
    bit_sums = [
        F.sum(F.when((F.shiftright(F.col("h"), j).bitwiseAND(1)) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    ]
    sketch = tokh.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return sketch.select("doc_id", simhash.cast("bigint").alias("simhash"))


@query(
    "q101_simhash_dupes",
    oracle=f"""
WITH {_simhash_sketch_sql(SIMHASH_BITS)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sketch a JOIN sketch b
  ON a.simhash = b.simhash AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "simhash"),
)
def q101_simhash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 16-bit sketch from distinct-token hash bits, then
    pairs with identical sketch (hamming 0 join — the scale path joins on
    the sketch value; the radius-r banded search is q039)."""
    sketch = _simhash_sketch(dup_corpus(spark, sf_dir))
    a = sketch.alias("a")
    b = sketch.alias("b")
    return (
        a.join(b, (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("bigint").alias("hamming"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


SHINGLE_DF_CAP = 1000  # shingles in ≥ this many docs are dropped pre-join


@query(
    "q098_ngram_jaccard_pairs",
    oracle=f"""
WITH corpus AS ({DUP_CORPUS_SQL}),
     sh0 AS (
  SELECT doc_id, unnest({shingles_sql("toks", 3)}) AS shingle
  FROM (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM corpus WHERE doc_id < 200 OR doc_id >= 10000)
),
     hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) >= {SHINGLE_DF_CAP}),
     sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
     sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
     inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "jaccard"),
)
def q098_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.5 pairs via shingle-equality join (the
    verify stage after LSH candidates: intersection counted by a join on
    the shingle, never a pairwise loop).

    Skew guard (VERDICT r1 #6): shingles present in ≥ SHINGLE_DF_CAP docs
    are dropped from both the sizes and the intersection BEFORE the
    self-join — a single stop-shingle shared by k docs contributes k²
    join rows, so one ubiquitous boilerplate phrase at 100 TB turns the
    uniform-key join into a quadratic hotspot. The hot set is NOT force-
    broadcast — at a fixed cap its cardinality grows ~linearly with the
    corpus (≤ total_shingles/cap), so the anti-join is left to AQE:
    broadcast while small, shuffle on the same shingle key the df-groupBy
    already partitioned by once it isn't. Jaccard is then defined
    over the capped shingle sets on BOTH engines (standard practice in
    web-dedup pipelines — ubiquitous shingles carry no dedup signal)."""
    corpus = dup_corpus(spark, sf_dir).filter((F.col("doc_id") < 200) | (F.col("doc_id") >= 10000))
    sh0 = _exploded_shingles(corpus)
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))  # shingles are distinct per doc → count = doc-freq
        .filter(F.col("df") >= SHINGLE_DF_CAP)
        .select("shingle")
    )
    sh = sh0.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i")).cast("double")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q144_containment_dedup",
    oracle=f"""
WITH corpus AS ({DUP_CORPUS_SQL}),
     sh0 AS (
  SELECT doc_id, unnest({shingles_sql("toks", 3)}) AS shingle
  FROM (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM corpus WHERE doc_id < 200 OR doc_id >= 10000)
),
     hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) >= {SHINGLE_DF_CAP}),
     sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
     sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
     inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS contained_doc,
       CASE WHEN sa.n <= sb.n THEN doc_b ELSE doc_a END AS container_doc,
       i AS shared,
       LEAST(sa.n, sb.n) AS n_contained,
       CAST((i * 10000) // LEAST(sa.n, sb.n) AS BIGINT) AS containment_bp
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 10 * i >= 8 * LEAST(sa.n, sb.n)
ORDER BY contained_doc, container_doc
""",
    tags=("dedup", "containment", "training-pipeline"),
    bench=True,
)
def q144_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT dedup (r8): C(A, B) = |S(A) ∩ S(B)|
    / |S(A)| over the smaller shingle set — the near-superset detector
    Jaccard structurally misses (an article quoted inside a much longer
    page has tiny Jaccard but containment ≈ 1; Broder's original resemblance
    -and-containment formulation). Pairs with ≥ 80% of the smaller doc's
    shingles shared are emitted with the contained/container orientation
    (ties on set size orient by doc_id, since doc_a < doc_b in the pair
    join).

    Certified INTEGER-EXACTLY: the threshold is 10*i >= 8*min(n) and
    the reported score is basis points via integer div — no ratio ever
    crosses engines. Same skew guard and capped-shingle semantics as
    q098 (df-capped hot shingles carry no dedup signal), and the same
    scale shape: intersection counted by an equi-join on the shingle
    key, never a pairwise loop; one extra sizes join on the uniform
    doc key."""
    corpus = dup_corpus(spark, sf_dir).filter((F.col("doc_id") < 200) | (F.col("doc_id") >= 10000))
    sh0 = _exploded_shingles(corpus)
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= SHINGLE_DF_CAP)
        .select("shingle")
    )
    sh = sh0.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    n_min = F.least(F.col("sa.n"), F.col("sb.n"))
    a_contained = F.col("sa.n") <= F.col("sb.n")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(10 * F.col("i") >= 8 * n_min)
        .select(
            F.when(a_contained, F.col("doc_a")).otherwise(F.col("doc_b")).alias("contained_doc"),
            F.when(a_contained, F.col("doc_b")).otherwise(F.col("doc_a")).alias("container_doc"),
            F.col("i").alias("shared"),
            n_min.alias("n_contained"),
            F.expr("CAST((i * 10000) DIV least(sa.n, sb.n) AS BIGINT)").alias("containment_bp"),
        )
        .orderBy("contained_doc", "container_doc")
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


@query(
    "q097_embedding_neardup",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 250
),
     -- nrm > 0: zero vectors carry no cosine (q019 convention; r8
     -- zero-vector sweep — unguarded it is an ANSI DIVIDE_BY_ZERO kill)
     n AS (
  SELECT * FROM (
    SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm FROM e
  ) WHERE nrm > 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_aggregate(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), 'sum')
             / (a.nrm * b.nrm), 4) + 0.0 AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_aggregate(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), 'sum')
      / (a.nrm * b.nrm) >= 0.35
ORDER BY vec_a, vec_b
""",
    tags=("dedup", "embedding", "cosine"),
)
def q097_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.35) on an id-range block.

    Block-local pairwise compare is the exact-verify stage; candidate
    pruning at scale is the sign-LSH bucketing in q105.
    """
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 250)
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    # zero-norm rows excluded: no direction, no cosine (oracle mirror)
    e = em.select("vec_id", v.alias("v"), nrm.alias("nrm")).filter(F.col("nrm") > 0)
    a = e.alias("a")
    b = e.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (F.round(cos, 4) + 0.0).alias("cosine"),
        )
        .orderBy("vec_a", "vec_b")
    )


@query(
    "q174_training_data_pipeline",
    oracle="""
WITH corpus AS (
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 60
),
m AS (
  SELECT doc_id, text,
         len(toks) AS n_tokens,
         ROUND(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4) AS distinct_ratio
  FROM (SELECT doc_id, text, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM corpus)
),
quality AS (
  SELECT * FROM m WHERE n_tokens >= 15 AND distinct_ratio >= 0.3
),
hashed AS (
  SELECT doc_id, n_tokens,
         md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp
  FROM quality
),
deduped AS (
  SELECT fp, MIN(doc_id) AS keep_doc, COUNT(*) AS n_copies, MIN(n_tokens) AS n_tokens
  FROM hashed GROUP BY fp
)
SELECT COUNT(*) AS docs_kept,
       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS dups_removed,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_tokens), 4) AS mean_tokens
FROM deduped
""",
    tags=("pipeline", "dedup", "text", "north-star"),
    bench=True,
)
def q174_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline (the north-star flow in one
    plan): corpus ∪ duplicates → quality filter (length + diversity) →
    exact dedup keep-first → corpus accounting. Single Catalyst plan:
    the filter prunes BEFORE the dedup shuffle, the dedup groupBy is the
    only exchange, accounting is a partial-agg rollup of it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") < 60).select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    corpus = docs.unionAll(exact)
    tok = tokens("text")
    n = F.size(tok)
    m = corpus.select(
        "doc_id",
        "text",
        n.cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct(tok)) / n.cast("double"), 4).alias("distinct_ratio"),
    )
    quality = m.filter((F.col("n_tokens") >= 15) & (F.col("distinct_ratio") >= 0.3))
    hashed = quality.select("doc_id", "n_tokens", doc_fingerprint("text").alias("fp"))
    deduped = hashed.groupBy("fp").agg(
        F.min("doc_id").alias("keep_doc"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return deduped.agg(
        F.count(F.lit(1)).alias("docs_kept"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("dups_removed"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over the LSH candidate graph
# ---------------------------------------------------------------------------


@query(
    "q099_dedup_clusters",
    oracle=f"""
WITH pairs AS ({_LSH_PAIRS_SQL}),
     edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
     nodes AS (SELECT DISTINCT src AS node FROM edges),
     -- transitive closure by recursive expansion; UNION dedups so this
     -- terminates; components are tiny (dup groups), so the closure is small
     reach AS (
  WITH RECURSIVE r(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.node
  )
  SELECT node, MIN(lbl) AS comp FROM r GROUP BY node
)
SELECT comp AS cluster_id,
       COUNT(*) AS n_members,
       array_to_string(list_sort(list(node)), ',') AS members
FROM reach
GROUP BY comp
ORDER BY cluster_id
""",
    tags=("dedup", "graph", "connected-components"),
)
def q099_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from the LSH candidate pairs — the step pair
    generation (q189) feeds in a real dedup pipeline: near-duplicates are
    transitive (A~B, B~C → one group), so keep-one-per-pair is wrong; the
    unit of deduplication is the connected component of the candidate
    graph, keeping min(doc_id) per component.

    Spark side: ``_clusters`` — the ``contracted_components`` path q062,
    q063 and q197 share: a partition-local union-find contraction, then
    alternating large-star/small-star rounds (Kiveris et al., "Connected
    Components in MapReduce") on the seam-sized residual graph, run until
    the labels converge, so no diameter bound is assumed.

    Oracle: independent formulation — DuckDB recursive-CTE transitive
    closure, then MIN label per node. Output: one row per cluster with the
    canonical (min) member and the ','-joined membership.
    """
    return (
        _clusters(_lsh_pairs(dup_corpus(spark, sf_dir)))
        .groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(F.array_sort(F.collect_list("node")), ",").alias("members"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------


@query(
    "q055_benchmark_contamination",
    oracle=f"""
WITH bench AS (
  SELECT DISTINCT unnest({shingles_sql("toks", 5)}) AS shingle
  FROM (SELECT string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks
        FROM documents WHERE doc_id < 10)
),
     cand AS (
  SELECT doc_id, unnest({shingles_sql("toks", 5)}) AS shingle
  FROM (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks
        FROM documents WHERE doc_id >= 10)
)
SELECT c.doc_id,
       COUNT(*) AS n_overlap_shingles
FROM cand c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
ORDER BY doc_id
""",
    tags=("dedup", "contamination", "pipeline"),
)
def q055_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-gram with a held-out benchmark set (here: doc_id < 10 stands in for
    the eval suite) — the standard n-gram contamination check run before
    training. The benchmark shingle set is tiny and broadcast, so the
    check is a map-side semi-join over the corpus: the 100 TB side is
    scanned once, no shuffle of corpus shingles. Output: contaminated
    doc → overlapping-shingle count (drop list = these doc_ids)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = (
        docs.filter(F.col("doc_id") < 10)
        .select("doc_id", tokens("text").alias("toks"))
        .select(F.explode(shingles(F.col("toks"), 5)).alias("shingle"))
        .distinct()
    )
    cand = (
        docs.filter(F.col("doc_id") >= 10)
        .select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(shingles(F.col("toks"), 5)).alias("shingle"))
    )
    return (
        cand.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap_shingles"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Entity resolution: q-gram blocking + edit-distance verify
# ---------------------------------------------------------------------------

ER_GRAM = 6  # q-gram width
ER_DF_CAP = 50  # drop grams shared by more names (the "Customer#0000…" prefix)


@query(
    "q015_entity_resolution",
    oracle=f"""
WITH cust AS (SELECT c_custkey AS key, c_name AS name FROM customer WHERE c_custkey < 500),
base AS (
  SELECT key, name, 'clean' AS reg FROM cust
  UNION ALL
  SELECT key,
         CASE WHEN key % 3 = 0
              THEN substr(name, 1, 10) || 'X' || substr(name, 12, 7)
              ELSE name END AS name,
         'dirty' AS reg
  FROM cust
),
grams AS (
  SELECT DISTINCT reg, key, name, substr(name, i, {ER_GRAM}) AS gram
  FROM base, LATERAL unnest(generate_series(1, len(name) - {ER_GRAM - 1})) AS g(i)
),
keep AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= {ER_DF_CAP}),
cands AS (
  SELECT DISTINCT a.key AS clean_key, a.name AS clean_name,
                  b.key AS dirty_key, b.name AS dirty_name
  FROM grams a
  JOIN keep USING (gram)
  JOIN grams b USING (gram)
  WHERE a.reg = 'clean' AND b.reg = 'dirty'
)
SELECT clean_key, dirty_key,
       CAST(levenshtein(clean_name, dirty_name) AS INT) AS dist,
       CASE WHEN clean_name = dirty_name THEN 'exact' ELSE 'fuzzy' END AS match_type
FROM cands
WHERE levenshtein(clean_name, dirty_name) <= 1
ORDER BY clean_key, dirty_key
""",
    tags=("dedup", "entity-resolution", "fuzzy-join"),
)
def q015_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (fuzzy record linkage): a deterministically
    corrupted 'dirty' registry (one character mutated for every third
    key — the standard corrupted-duplicate ER benchmark construction) is
    matched back to the clean registry by q-gram blocking: explode each
    name into 6-grams, DROP high-document-frequency grams (the shared
    'Customer#…' prefix — same skew-cap rationale as q098's shingle DF
    cap), equi-join on the surviving distinctive grams, then verify
    candidates with edit distance ≤ 1.

    Scale: this is the MinHash-dedup skeleton applied to short strings —
    blocking turns an O(n²) fuzzy join into an equi-join whose cost is
    O(gram collisions), the DF cap removes the quadratic hot keys, and
    the expensive levenshtein runs only on surviving candidate pairs.
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select(F.col("c_custkey").alias("key"), F.col("c_name").alias("name"))
    )
    dirty_name = F.when(
        F.col("key") % 3 == 0,
        F.concat(
            F.substring("name", 1, 10), F.lit("X"), F.substring("name", 12, 7)
        ),
    ).otherwise(F.col("name"))
    base = cust.select("key", "name", F.lit("clean").alias("reg")).unionAll(
        cust.select("key", dirty_name.alias("name"), F.lit("dirty").alias("reg"))
    )
    grams = (
        base.select(
            "reg",
            "key",
            "name",
            F.explode(
                F.sequence(F.lit(1), F.length("name") - F.lit(ER_GRAM - 1))
            ).alias("i"),
        )
        .select("reg", "key", "name", F.expr(f"substring(name, i, {ER_GRAM})").alias("gram"))
        .distinct()
    )
    keep = grams.groupBy("gram").count().filter(F.col("count") <= ER_DF_CAP).select("gram")
    a = grams.filter(F.col("reg") == "clean").select(
        F.col("key").alias("clean_key"), F.col("name").alias("clean_name"), "gram"
    )
    b = grams.filter(F.col("reg") == "dirty").select(
        F.col("key").alias("dirty_key"), F.col("name").alias("dirty_name"), "gram"
    )
    cands = (
        a.join(keep, "gram").join(b, "gram")
        .select("clean_key", "clean_name", "dirty_key", "dirty_name")
        .distinct()
    )
    return (
        cands.filter(F.levenshtein("clean_name", "dirty_name") <= 1)
        .select(
            "clean_key",
            "dirty_key",
            F.levenshtein("clean_name", "dirty_name").cast("int").alias("dist"),
            F.when(F.col("clean_name") == F.col("dirty_name"), "exact")
            .otherwise("fuzzy")
            .alias("match_type"),
        )
        .orderBy("clean_key", "dirty_key")
    )


# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") removes duplicated SUBSTRINGS, not just duplicated documents —
# the highest-value spans to cut are exactly the ones repeated across many
# documents (boilerplate, licenses, navigation chrome).
SPAN_N = 8


@query(
    "q133_duplicate_spans",
    oracle=f"""
WITH b AS (
  SELECT doc_id, regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+') AS t
  FROM documents
  WHERE len(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+')) >= {SPAN_N}
),
g AS (
  SELECT doc_id, array_to_string(t[i:i + {SPAN_N - 1}], ' ') AS gram
  FROM b CROSS JOIN LATERAL unnest(generate_series(1, len(t) - {SPAN_N - 1})) AS s(i)
)
SELECT gram,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occ
FROM g
GROUP BY gram
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, gram
LIMIT 100
""",
    tags=("dedup", "spans", "training-pipeline"),
)
def q133_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (substring) duplicate detection: every word-level
    {SPAN_N}-gram that recurs across ≥2 distinct documents, ranked by
    document frequency — the discovery pass of substring dedup (the spans
    a Lee-et-al-style pipeline would excise from the training corpus).

    Scale shape: sliding n-grams are a native transform over the token
    array (no UDF, no self-join — unlike pairwise Jaccard, span discovery
    is pure aggregation), then ONE shuffle on the gram hash with map-side
    partial aggs; count(distinct doc_id) expands to a two-phase agg under
    AQE. The output is the top-k head only, so no all-pairs product ever
    materializes; downstream excision is a broadcast semi-join of this
    head against the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.expr("regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+', 0)")
    grams = F.expr(
        f"transform(sequence(1, size(t) - {SPAN_N - 1}),"
        f" i -> array_join(slice(t, i, {SPAN_N}), ' '))"
    )
    return (
        docs.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= SPAN_N)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "gram")
        .limit(100)
    )


# --- Incremental (batch-vs-base) dedup --------------------------------------
# The daily-ingestion shape: a small incoming batch is probed against the
# full base corpus for exact and near duplicates before admission. Contrast
# with q190/q189, which dedup a corpus against ITSELF.

_INC_SQL = """
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 20000 AS doc_id,
         array_to_string(string_split_regex(trim(text, ' '), '[\\s\\v]+')[2:], ' ') AS text
  FROM documents WHERE doc_id >= 60 AND doc_id < 120
  UNION ALL
  SELECT doc_id + 30000 AS doc_id,
         array_to_string(list_reverse(string_split_regex(trim(text, ' '), '[\\s\\v]+')), ' ') AS text
  FROM documents WHERE doc_id >= 120 AND doc_id < 180
"""


def _sig_sql_for(table: str) -> str:
    """The minhash-signature SQL over an arbitrary corpus CTE name."""
    return _MINHASH_SIG_SQL.replace("FROM corpus)", f"FROM {table})")


def _bands_sql_for(sig: str) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, {band} AS band,"
        f" md5(CAST(m{2 * band} AS VARCHAR) || '_' || CAST(m{2 * band + 1} AS VARCHAR)) AS bh"
        f" FROM {sig}"
        for band in range(N_HASHES // BAND_SIZE)
    )


@query(
    "q085_incremental_dedup",
    oracle=f"""
WITH base AS (SELECT doc_id, text FROM documents),
inc AS ({_INC_SQL}),
base_fp AS (
  SELECT md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp,
         MIN(doc_id) AS bdoc
  FROM base GROUP BY fp
),
inc_fp AS (
  SELECT doc_id, md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp FROM inc
),
base_sig AS ({_sig_sql_for("base")}),
inc_sig AS ({_sig_sql_for("inc")}),
base_bands AS ({_bands_sql_for("base_sig")}),
inc_bands AS ({_bands_sql_for("inc_sig")}),
cand AS (
  SELECT i.doc_id AS inc_doc, MIN(b.doc_id) AS near_base
  FROM inc_bands i JOIN base_bands b ON i.band = b.band AND i.bh = b.bh
  GROUP BY i.doc_id
)
SELECT i.doc_id,
       CASE WHEN e.bdoc IS NOT NULL THEN 'exact_dup'
            WHEN c.near_base IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status,
       CAST(COALESCE(e.bdoc, c.near_base, -1) AS BIGINT) AS base_match
FROM inc_fp i
LEFT JOIN base_fp e ON i.fp = e.fp
LEFT JOIN cand c ON i.doc_id = c.inc_doc
ORDER BY doc_id
""",
    tags=("dedup", "incremental", "training-pipeline"),
)
def q085_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify an incoming batch (exact copies, head-
    truncated near copies, token-reversed genuinely-new docs) against the
    base corpus as exact_dup / near_dup / new, with the minimum matching
    base doc (-1 for new).

    100 TB shape: the BASE side is the big one and must never shuffle for
    the probe. Both probes therefore stream base through a BroadcastHashJoin
    against the (tiny) batch keys — base rows are filtered to matches
    BEFORE any aggregation, so the only full-base shuffle left is the
    minhash signature groupBy, which a production pipeline amortizes by
    persisting the signature/band table and appending each admitted batch
    (the plan here recomputes it because nothing persists between queries).
    The final assembly joins touch only batch-sized tables."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = tokens("text")
    inc = (
        base.filter(F.col("doc_id") < 60)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        .unionAll(
            base.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120)).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.array_join(F.slice(tok, 2, F.size(tok) - 1), " ").alias("text"),
            )
        )
        .unionAll(
            base.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 180)).select(
                (F.col("doc_id") + 30000).alias("doc_id"),
                F.array_join(F.reverse(tok), " ").alias("text"),
            )
        )
    )
    inc_fp = inc.select("doc_id", doc_fingerprint("text").alias("fp"))
    # exact probe: base scans, probes the broadcast batch-fingerprint set,
    # and only the matching base rows reach the (tiny) min-doc aggregation
    exact_hits = (
        base.select(doc_fingerprint("text").alias("fp"), F.col("doc_id").alias("bdoc"))
        .join(F.broadcast(inc_fp.select("fp").distinct()), "fp")
        .groupBy("fp")
        .agg(F.min("bdoc").alias("bdoc"))
    )
    # near probe: base band keys probe the broadcast batch band keys
    base_bands = _sig_bands(_minhash_sig_spark(base)).select(
        F.col("doc_id").alias("bdoc"), "band", "bh"
    )
    inc_bands = _sig_bands(_minhash_sig_spark(inc)).select(
        F.col("doc_id").alias("inc_doc"), "band", "bh"
    )
    cand = (
        base_bands.join(F.broadcast(inc_bands), ["band", "bh"])
        .groupBy("inc_doc")
        .agg(F.min("bdoc").alias("near_base"))
    )
    return (
        inc_fp.join(F.broadcast(exact_hits), "fp", "left")
        .join(F.broadcast(cand), inc_fp.doc_id == F.col("inc_doc"), "left")
        .select(
            "doc_id",
            F.when(F.col("bdoc").isNotNull(), "exact_dup")
            .when(F.col("near_base").isNotNull(), "near_dup")
            .otherwise("new")
            .alias("status"),
            F.coalesce("bdoc", "near_base", F.lit(-1)).cast("long").alias("base_match"),
        )
        .orderBy("doc_id")
    )


@query(
    "q114_span_excision",
    oracle=f"""
WITH b AS (
  SELECT doc_id, regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+') AS t
  FROM documents
  WHERE len(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+')) >= {SPAN_N}
),
g AS (
  SELECT doc_id, array_to_string(t[i:i + {SPAN_N - 1}], ' ') AS gram
  FROM b CROSS JOIN LATERAL unnest(generate_series(1, len(t) - {SPAN_N - 1})) AS s(i)
),
head AS (
  SELECT gram FROM g
  GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) >= 2
  ORDER BY COUNT(DISTINCT doc_id) DESC, COUNT(*) DESC, gram
  LIMIT 100
),
sp AS (
  -- list() over ZERO rows is NULL in DuckDB (Spark's collect_list gives
  -- []) — without the coalesce an empty span head NULLs every clean_len
  -- (r8 short-doc adversarial sweep; unreachable on the shipped corpus,
  -- which always yields a 100-gram head)
  SELECT coalesce(list_sort(list(gram)), CAST([] AS VARCHAR[])) AS spans FROM head
),
d AS (
  -- coalesce: array_to_string([]) is NULL in DuckDB (Spark array_join
  -- gives ''), so a letterless doc would NULL both lengths
  SELECT doc_id,
         coalesce(array_to_string(regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+'), ' '), '') AS norm
  FROM documents
)
SELECT doc_id,
       CAST(length(norm) AS BIGINT) AS orig_len,
       CAST(length(trim(list_reduce(
              list_prepend(' ' || norm || ' ', spans),
              (acc, s) -> replace(acc, ' ' || s || ' ', ' ')), ' ')) AS BIGINT) AS clean_len
FROM d CROSS JOIN sp
ORDER BY doc_id
""",
    tags=("dedup", "spans", "training-pipeline"),
)
def q114_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup APPLY stage: excise the q133 head (the 100 most
    cross-document-repeated word {SPAN_N}-grams) from every document and
    report original vs cleaned normalized length — the Lee-et-al-style
    'remove duplicated substrings' pass, completing discovery (q133) →
    excision.

    Scale shape: the span head is corpus-derived but TINY (one aggregation
    → a 1-row array), so it rides a broadcast cross join and the excision
    itself is a map-side higher-order fold (aggregate + replace — JVM-side
    though interpreted, HOFs being CodegenFallback) — no shuffle, no
    Python UDF, no per-doc join. Spans are
    applied in sorted order with space-fenced matching on normalized text,
    so both engines remove identical byte ranges. (At 100 TB the fold's
    100 linear scans per doc would justify an Aho-Corasick pandas UDF;
    the native fold keeps the hot path JVM-side here.)"""
    docs = load_table(spark, sf_dir, "documents")
    t = F.expr("regexp_extract_all(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[a-z]+', 0)")
    grams = F.expr(
        f"transform(sequence(1, size(t) - {SPAN_N - 1}),"
        f" i -> array_join(slice(t, i, {SPAN_N}), ' '))"
    )
    head = (
        docs.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= SPAN_N)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "gram")
        .limit(100)
    )
    spans1 = head.agg(F.array_sort(F.collect_list("gram")).alias("spans"))
    d = docs.select("doc_id", F.array_join(t, " ").alias("norm"))
    return (
        d.crossJoin(F.broadcast(spans1))
        .select(
            "doc_id",
            F.length("norm").cast("long").alias("orig_len"),
            F.expr(
                "CAST(length(trim(aggregate(spans, concat(' ', norm, ' '),"
                " (acc, s) -> replace(acc, concat(' ', s, ' '), ' ')))) AS BIGINT)"
            ).alias("clean_len"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Line-level dedup (CCNet / RefinedWeb-style)
# ---------------------------------------------------------------------------

LINE_K = 8  # tokens per "line" (the corpus has no punctuation; fixed-width
# segments stand in for natural lines, same algebra)


@query(
    "q168_line_dedup",
    oracle=f"""
WITH corpus AS ({DUP_CORPUS_SQL}),
tokd AS (
  SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS tok FROM corpus
),
lines AS (
  SELECT doc_id, i AS pos,
         array_to_string(tok[(i*{LINE_K}+1):(i*{LINE_K}+{LINE_K})], ' ') AS line
  FROM tokd, LATERAL (
    SELECT unnest(generate_series(0, (len(tok) + {LINE_K - 1}) // {LINE_K} - 1)) AS i
  )
),
dfreq AS (
  SELECT md5(line) AS line_fp, COUNT(DISTINCT doc_id) AS df
  FROM lines GROUP BY md5(line)
)
SELECT l.doc_id,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN df = 1 THEN line END, ' ' ORDER BY l.pos), ''))
         AS new_fp
FROM lines l JOIN dfreq ON dfreq.line_fp = md5(l.line)
GROUP BY l.doc_id
""",
    tags=("dedup", "line"),
    bench=True,
)
def q168_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level dedup (the CCNet/RefinedWeb pipeline stage): drop every
    line that appears in MORE THAN ONE document, reassemble each doc from
    its surviving lines in original order, and report kept/dropped counts
    plus the md5 of the cleaned text.

    "Lines" are fixed 8-token segments (the synthetic corpus has no
    punctuation); exact-duplicate and near-duplicate docs in the dup
    corpus share most segments, so the operator has real positives.

    Scale shape: lines shuffle on their md5 fingerprint (uniform 128-bit
    key) for the document-frequency count, join back on the same
    fingerprint (each occurrence matches exactly one DF row — linear, not
    quadratic), then one reassembly shuffle on doc_id. Three keyed
    exchanges, no self-join, no skew amplification: a stop-line is just a
    high-count DF row, never a fan-out.
    """
    corpus = dup_corpus(spark, sf_dir)
    tok = tokens("text")
    seg = F.expr(
        f"transform(sequence(0, (size(tok) + {LINE_K - 1}) div {LINE_K} - 1),"
        f" i -> array_join(slice(tok, i*{LINE_K} + 1, {LINE_K}), ' '))"
    )
    lines = (
        corpus.select("doc_id", tok.alias("tok"))
        .select("doc_id", F.posexplode(seg).alias("pos", "line"))
        .withColumn("line_fp", F.md5("line"))
    )
    dfreq = lines.groupBy("line_fp").agg(F.countDistinct("doc_id").alias("df"))
    kept_struct = F.when(F.col("df") == 1, F.struct("pos", "line"))
    return (
        lines.join(dfreq, "line_fp")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)), lambda x: x["line"]
                    ),
                    " ",
                )
            ).alias("new_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a held-out eval set)
# ---------------------------------------------------------------------------

DECONTAM_MIN_OVERLAP = 3


@query(
    "q036_decontaminate",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({shingles_sql("toks", 3)}) AS gram
  FROM (SELECT doc_id, string_split_regex(trim(text, ' '), '[\\s\\v]+') AS toks FROM documents)
),
eval_grams AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 17 = 0),
train AS (SELECT doc_id, gram FROM sh WHERE doc_id % 17 <> 0),
agg AS (
  SELECT t.doc_id,
         COUNT(*) AS total_grams,
         SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS overlap_grams
  FROM train t LEFT JOIN eval_grams e ON t.gram = e.gram
  GROUP BY t.doc_id
)
SELECT doc_id,
       CAST(total_grams AS BIGINT) AS total_grams,
       CAST(overlap_grams AS BIGINT) AS overlap_grams,
       CAST(overlap_grams * 1000 // total_grams AS BIGINT) AS contam_milli
FROM agg
WHERE overlap_grams >= {DECONTAM_MIN_OVERLAP}
ORDER BY doc_id
""",
    tags=("dedup", "decontamination", "llm-pipeline"),
    min_rows=1,
)
def q036_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-RATE decontamination, completing q055's flag.

    q055 answers "does this doc share any benchmark n-gram?" (inner
    join, binary drop list). The standard pipeline also needs the
    fraction-based rule (cf. GPT-3 App. C's 13-gram rule and PaLM §6.5,
    which drop on overlap FRACTION, not presence): this query reports,
    per training doc, total distinct grams, grams also present in the
    eval set, and the contamination rate in milli-units, thresholded at
    K=3 shared grams (3-token shingles; K and n scaled to the corpus).
    That needs a different plan than q055: a LEFT join so misses still
    count toward the denominator, with total and overlap folded into ONE
    aggregation pass instead of a count-join-count re-scan.

    Eval set = every 17th document (a stand-in benchmark suite).

    Scale shape — the one that matters at 100 TB: the eval-gram set is
    BROADCAST (benchmark suites are ~MBs against a ~100 TB corpus), so
    the contamination probe is a map-side hash lookup on the training
    explode; the only shuffle is the per-doc groupBy on uniform doc_id
    keys. The corpus-sized side is never re-partitioned by gram — a
    gram-keyed join would shuffle the whole corpus on skewed stop-gram
    keys. Left-join + conditional count keeps total and overlap in ONE
    aggregation pass."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _exploded_shingles(docs.select("doc_id", "text")).withColumnRenamed(
        "shingle", "gram"
    )
    eval_grams = (
        sh.filter(F.col("doc_id") % 17 == 0).select("gram").distinct()
    )
    train = sh.filter(F.col("doc_id") % 17 != 0)
    probed = train.join(
        F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "gram", "left"
    )
    agg = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total_grams"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("overlap_grams"),
    )
    return (
        agg.filter(F.col("overlap_grams") >= DECONTAM_MIN_OVERLAP)
        .select(
            "doc_id",
            F.col("total_grams").cast("bigint").alias("total_grams"),
            "overlap_grams",
            (F.col("overlap_grams") * 1000 / F.col("total_grams"))
            .cast("bigint")
            .alias("contam_milli"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership probe (incremental dedup at 100 TB)
# ---------------------------------------------------------------------------

BLOOM_M = 8192  # filter bits
BLOOM_WORD = 32  # bits packed per word → BLOOM_M/32 = 256 words
# k=4 independent positions from one 30-bit base hash (same universal-hash
# trick as the minhash family above)
_BLOOM_AB = ((3, 11), (5, 101), (7, 1009), (11, 10007))

_BLOOM_POS = ", ".join(f"({a} * h30 + {b}) % {BLOOM_M}" for a, b in _BLOOM_AB)


@query(
    "q037_bloom_dedup_probe",
    oracle=f"""
WITH base AS (
  SELECT md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp FROM documents
),
batch AS (
  SELECT doc_id + 10000 AS doc_id,
         md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp
  FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 20000 AS doc_id,
         md5(trim(regexp_replace(lower(
           array_to_string(string_split_regex(trim(text, ' '), '[\\s\\v]+')[2:], ' ')
         ), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp
  FROM documents WHERE doc_id >= 60 AND doc_id < 120
),
baseh AS (
  SELECT DISTINCT fp, CAST('0x' || substr(fp, 1, 15) AS BIGINT) % {1 << 30} AS h30
  FROM base
),
bloom AS (
  SELECT pos // {BLOOM_WORD} AS word,
         bit_or(CAST(1 AS BIGINT) << (pos % {BLOOM_WORD})) AS bits
  FROM (SELECT unnest([{_BLOOM_POS}]) AS pos FROM baseh)
  GROUP BY 1
),
probe AS (
  SELECT doc_id, fp, unnest([{_BLOOM_POS}]) AS pos
  FROM (SELECT doc_id, fp, CAST('0x' || substr(fp, 1, 15) AS BIGINT) % {1 << 30} AS h30
        FROM batch)
),
hits AS (
  SELECT p.doc_id, p.fp,
         CASE WHEN b.bits IS NOT NULL
                   AND (b.bits & (CAST(1 AS BIGINT) << (p.pos % {BLOOM_WORD}))) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM probe p LEFT JOIN bloom b ON b.word = p.pos // {BLOOM_WORD}
),
perdoc AS (
  SELECT doc_id, fp, CASE WHEN MIN(hit) = 1 THEN 1 ELSE 0 END AS maybe_present
  FROM hits GROUP BY doc_id, fp
)
SELECT d.doc_id,
       CAST(d.maybe_present AS INT) AS maybe_present,
       CAST(CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup,
       CASE WHEN e.fp IS NOT NULL THEN 'dup'
            WHEN d.maybe_present = 1 THEN 'false_positive'
            ELSE 'new' END AS verdict
FROM perdoc d LEFT JOIN (SELECT DISTINCT fp FROM base) e ON d.fp = e.fp
ORDER BY doc_id
""",
    tags=("dedup", "bloom", "llm-pipeline"),
    bench=True,
    min_rows=1,
)
def q037_bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe: the streaming/incremental dedup
    front door (cf. the reference's blacklist pre-filter idea at
    blacklist.rs:1-58 — reject early, touch the base corpus never).

    Build: every base-corpus fingerprint sets k=4 bit positions in an
    m=8192-bit filter, materialized as 256 packed 32-bit words via
    groupBy(word)+BIT_OR — partial OR runs map-side, so the build is one
    scan of the base and one tiny shuffle of ≤256×partitions rows. Probe:
    each batch doc checks its 4 positions against the BROADCAST word
    table (the filter is m/8 bytes ≈ 1 KB here, ~GBs even for 10^11 docs
    with m sized properly — always broadcastable); a doc with all k bits
    set is "maybe present", which the query then labels against exact
    membership as dup / false_positive / new. No false negatives by
    construction — the oracle's MIN(hit)=1 per true dup proves it.

    100 TB shape: the base is scanned ONCE to build a constant-size
    filter; the incoming batch never joins the base at all (the exact
    label join here exists only to audit the filter's verdict). This is
    the cheap pre-screen in front of q085's broadcast-key incremental
    dedup — the filter rejects the overwhelmingly-new majority map-side,
    and only "maybe" docs proceed to exact verification."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_fp = docs.select(doc_fingerprint("text").alias("fp"))
    tok = tokens("text")
    batch = (
        docs.filter(F.col("doc_id") < 60)
        .select((F.col("doc_id") + 10000).alias("doc_id"), doc_fingerprint("text").alias("fp"))
        .unionAll(
            docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120)).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                doc_fingerprint(
                    F.array_join(F.slice(tok, 2, F.size(tok) - 1), " ")
                ).alias("fp"),
            )
        )
    )

    def h30(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "h30", F.conv(F.substring("fp", 1, 15), 16, 10).cast("bigint") % (1 << 30)
        )

    pos_arr = F.array(
        *[(F.lit(a) * F.col("h30") + F.lit(b)) % BLOOM_M for a, b in _BLOOM_AB]
    )
    bloom = (
        h30(base_fp.distinct())
        .select(F.explode(pos_arr).alias("pos"))
        .select(
            (F.col("pos") / BLOOM_WORD).cast("int").alias("word"),
            F.expr(f"shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD} as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    probe = h30(batch).select("doc_id", "fp", F.explode(pos_arr).alias("pos"))
    hits = probe.join(
        F.broadcast(bloom), bloom.word == (probe.pos / BLOOM_WORD).cast("int"), "left"
    ).select(
        "doc_id",
        "fp",
        F.when(
            F.col("bits").isNotNull()
            & (
                F.col("bits").bitwiseAND(
                    F.expr(f"shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD} as int))")
                )
                != 0
            ),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    perdoc = hits.groupBy("doc_id", "fp").agg(
        F.when(F.min("hit") == 1, 1).otherwise(0).alias("maybe_present")
    )
    exact = base_fp.distinct().withColumnRenamed("fp", "efp")
    return (
        perdoc.join(F.broadcast(exact), perdoc.fp == exact.efp, "left")
        .select(
            "doc_id",
            F.col("maybe_present").cast("int").alias("maybe_present"),
            F.when(F.col("efp").isNotNull(), 1).otherwise(0).cast("int").alias("is_dup"),
            F.when(F.col("efp").isNotNull(), "dup")
            .when(F.col("maybe_present") == 1, "false_positive")
            .otherwise("new")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash hamming-radius search (banded, exact-recall)
# ---------------------------------------------------------------------------

SIMHASH_RADIUS = 2
SIMHASH_WIDE_BITS = 32  # 2^16 values saturate at corpus scale; 32 bits keep
# accidental radius-2 collisions ~1e-7 per pair, so candidates ≈ true dups
# 3 bands over the 32 sketch bits: 11+11+10. Pigeonhole: r=2 differing bits
# touch at most 2 bands, so every pair within radius 2 agrees on >= 1 band.
_SIMHASH_BANDS = ((0, 11), (11, 11), (22, 10))

# Target expected band-bucket occupancy among DISTINCT sketches: n / 2^w
# <= 2^SIMHASH_BUCKET_LOG2. Occupancy is what turns into wasted candidate
# verifications (accidental hash collisions between non-duplicates); true
# duplicate clusters share a sketch and are the workload, not overhead.
SIMHASH_BUCKET_LOG2 = 3


def simhash_band_plan(
    n_docs: int, radius: int = SIMHASH_RADIUS
) -> tuple[int, tuple[tuple[int, int], ...]]:
    """(sketch_bits, bands) for exact-recall banded search, COUPLED to
    corpus size (VERDICT r3 #4 — the docstring promise is now enforced).

    radius+1 bands guarantee recall by pigeonhole at any width; the width
    must grow with the corpus or band buckets fill with accidental
    collisions. Rule: per-band width w = ceil(log2(n)) - SIMHASH_BUCKET_LOG2
    keeps expected occupancy of distinct sketches per (band, value) key
    <= 2^SIMHASH_BUCKET_LOG2; total bits = (radius+1)*w, floored at the
    32-bit config certified at test SF (n <= 8192 reproduces exactly the
    legacy (0,11)(11,11)(22,10) layout — the static DuckDB oracle stays
    valid at every driver SF) and capped at 60 so the sketch stays a
    BIGINT (beyond ~2^23 docs occupancy grows again; at that corpus scale
    move to a 2-int64 sketch, out of scope here).

    Bit distribution: base = bits // k with the remainder spread one bit
    each over the leading bands, offsets cumulative."""
    k = radius + 1
    w_target = max(1, (max(n_docs, 2) - 1).bit_length() - SIMHASH_BUCKET_LOG2)
    bits = min(max(32, k * w_target), 60)
    base, extra = divmod(bits, k)
    widths = [base + 1] * extra + [base] * (k - extra)
    bands = []
    lo = 0
    for w in widths:
        bands.append((lo, w))
        lo += w
    return bits, tuple(bands)


@query(
    "q039_simhash_radius",
    oracle=f"""
WITH {_simhash_sketch_sql(SIMHASH_WIDE_BITS)},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM sketch a JOIN sketch b
    ON a.doc_id < b.doc_id
   AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_RADIUS}
)
SELECT CAST(hamming AS BIGINT) AS hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM((doc_a * 100003 + doc_b) % 1000003) AS BIGINT) AS pair_checksum,
       CAST(MIN(doc_a) AS BIGINT) AS first_doc,
       CAST(MAX(doc_b) AS BIGINT) AS last_doc
FROM pairs
GROUP BY hamming
ORDER BY hamming
""",
    tags=("dedup", "simhash", "lsh"),
    bench=True,
    min_rows=1,
)
def q039_simhash_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup at hamming radius ≤ 2 via banded candidate
    generation — the scale path q101's docstring promises.

    The 32-bit sketch splits into 3 bands (11+11+10 bits); any two
    sketches within hamming distance 2 differ in at most 2 bands, so they MUST
    agree on at least one (pigeonhole) — the band-value equi-join has
    EXACT recall at this radius, never a similarity miss. Candidates are
    verified with one bit_count(xor) and folded to per-hamming aggregates
    (count + order-free pair checksum + id extrema): the synthetic
    corpus's shared vocabulary makes radius-2 pair LISTS large (1.2M at
    sf0.1), and collecting those would stress the driver, not the
    operator — the checksum still pins the exact pair set.

    Exactly-once emission WITHOUT a distinct: a pair within the radius
    can agree on up to 3 bands, so the naive plan dedupes candidates with
    a (doc_a, doc_b)-keyed shuffle — at 8x replication that shuffle moves
    the full quadratic candidate set (~270M rows) and dominates runtime.
    Instead each pair is kept only at its LOWEST agreeing band index,
    decided by a constant-time bit test on the two simhashes already in
    the join row (band j values differ for all j < matched band) — the
    dedup cost moves from a corpus-pairs shuffle to a per-row predicate.
    Both explode sides are repartitioned on the (band, val) join key so
    the self-join reuses ONE shuffled sketch subplan (ReusedExchange)
    instead of broadcasting a corpus-sized build side.

    The oracle is deliberately a DIFFERENT mechanism: DuckDB brute-forces
    all O(n²) pairs with the hamming predicate. A hash match therefore
    PROVES the banded plan found exactly the brute-force answer — the
    recall guarantee is certified, not asserted.

    100 TB shape: the join key is (band_idx, band_value) — uniform under
    the hash family; candidates are O(collisions) and the verify step is
    per-candidate O(1). Since round 4 the band width is COUPLED to corpus
    size (simhash_band_plan: one cheap metadata count, then width grows
    with log2(n) so expected distinct-sketch occupancy per band bucket
    stays <= 2^SIMHASH_BUCKET_LOG2; at every driver SF the rule
    reproduces exactly the 32-bit/(11,11,10) layout the static oracle
    replays — pinned by tests/test_simhash_band_plan.py). The brute
    quadratic join exists only oracle-side at verify SF."""
    corpus = dup_corpus(spark, sf_dir)
    # the plan must know n BEFORE choosing the band layout; n comes from
    # the parquet FOOTER (table_row_count — no Spark job, VERDICT r6 #8)
    # plus dup_corpus's synthetic replicas (60 exact + 60 near, exact
    # when doc_ids are 0..N-1 as in the driver tables; off by <=120
    # otherwise, invisible to a log2-scale layout rule)
    n_docs = table_row_count(sf_dir, "documents")
    corpus_n = n_docs + min(60, n_docs) + max(0, min(120, n_docs) - 60)
    return simhash_radius_plan(corpus, corpus_n)


def simhash_radius_plan(corpus: DataFrame, corpus_n: int) -> DataFrame:
    """The q039 banded radius search over an arbitrary corpus.

    The NARROW (doc_id, simhash) stream — 16 bytes/row — is materialized
    before the band explode. When AQE converts the banded self-join's
    build side to broadcast, the broadcast side re-executes its subtree
    instead of reading the reused (band, val) exchange, so an uncut plan
    runs the corpus-scale sketch aggregation TWICE per action. Cutting
    the sketch bounds the duplicated work to the tiny explode over
    materialized 16-byte rows.
    """
    bits, band_layout = simhash_band_plan(corpus_n)
    sketch = _simhash_sketch(corpus, bits).transform(cut_lineage)
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), lo).bitwiseAND((1 << width) - 1)
            for lo, width in band_layout
        ]
    )
    bands = sketch.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band", "val")
    ).repartition("band", "val")
    a = bands.alias("a")
    b = bands.alias("b")

    def _bandv(col: Column, lo: int, width: int) -> Column:
        return F.shiftright(col, lo).bitwiseAND((1 << width) - 1)

    sa, sb = F.col("a.simhash"), F.col("b.simhash")
    first_match = F.lit(False)
    for i, (_lo, _w) in enumerate(band_layout):
        cond = F.col("a.band") == i
        for lj, wj in band_layout[:i]:
            cond = cond & (_bandv(sa, lj, wj) != _bandv(sb, lj, wj))
        first_match = first_match | cond
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(sa.bitwiseXOR(sb)).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_RADIUS)
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            # per-term mod keeps the order-free checksum exact in int64:
            # terms < 1e6, so the SUM is overflow-safe to ~9e12 pairs
            # (summing raw doc_a*100003+doc_b overflowed at 8x replication
            # in tools/scale_bench.py — doc_ids ~8e6 x ~77M pairs)
            F.sum((F.col("doc_a") * 100003 + F.col("doc_b")) % 1000003)
            .cast("bigint")
            .alias("pair_checksum"),
            F.min("doc_a").cast("bigint").alias("first_doc"),
            F.max("doc_b").cast("bigint").alias("last_doc"),
        )
        .orderBy("hamming")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup (round 6)
# ---------------------------------------------------------------------------

CDC_W = 16  # rolling-hash window (chars)
CDC_B = 131  # polynomial base
CDC_M = 1000003  # modulus (prime)
CDC_MASK = 63  # boundary when H % 64 == 0 -> ~64-char average chunks
_CDC_POWS = [pow(CDC_B, j, CDC_M) for j in range(CDC_W)]
_CDC_POW_SQL = "[" + ",".join(str(p) for p in _CDC_POWS) + "]"


def _cdc_cuts_arrow_udf():
    """Arrow-batched numpy CDC cut positions: the rolling hash
    H(i) = sum c[i+j]·B^j (per-window dot product against the
    precomputed B^j mod M vector) computed as ONE sliding_window_view
    matmul per document instead of an interpreted per-position
    Catalyst aggregate() — ~10× lower constant, identical integers
    (property-tested against the pure-Python reference in
    tests/test_properties.py and certified by the q136/q130 oracles).
    Only the cut POSITIONS cross the Arrow boundary (an array<long> per
    doc); the substring extraction stays JVM-side."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # close over plain locals so cloudpickle ships them by value and the
    # UDF never needs the warcraider_spark package importable on executors
    W, M, mask1 = CDC_W, CDC_M, CDC_MASK + 1
    pows_list = list(_CDC_POWS)

    def _cuts(s):
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        pows = np.asarray(pows_list, dtype=np.int64)
        out = []
        for t in s:
            L = len(t) if t else 0
            if L < W:
                out.append([])
                continue
            # post-normalization text is pure ASCII ([a-z0-9 ]), so the
            # byte view IS the char-code view used by ascii() upstream
            c = np.frombuffer(t.encode(), dtype=np.uint8).astype(np.int64)
            h = sliding_window_view(c, W) @ pows  # no overflow: < W·M·128
            b = np.nonzero((h % M) % mask1 == 0)[0] + W  # 0-based i + W-1+1
            out.append(b[b < L].tolist())
        return pd.Series(out)

    # real annotation objects (PEP 563 `from __future__ import annotations`
    # would stringify inline hints, and pyspark resolves them against
    # module globals where the local `pd` doesn't exist)
    _cuts.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_cuts, "array<long>")


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> (doc_id, chunk_idx, chunk): the CDC
    chunker; chunk_idx is the 1-based in-doc position so consumers can
    reassemble (q130 excision). Exposed for the shift-resistance
    property test and for composition. Cut positions come from the
    map-only Arrow/numpy rolling hash (``_cdc_cuts_arrow_udf``); see
    q136_cdc_chunk_dedup for constants and the scale argument."""
    chunks_expr = (
        "transform(sequence(1, size(starts)), "
        "k -> substring(s, CAST(element_at(starts, k) + 1 AS INT), "
        "CAST(element_at(ends, k) - element_at(starts, k) AS INT)))"
    )
    base = docs.filter(F.length("text") > 0).select(
        "doc_id",
        F.expr("lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ''))").alias("s"),
    )
    return (
        base.select(
            "doc_id", "s", _cdc_cuts_arrow_udf()(F.col("s")).alias("cuts")
        )
        .select(
            "doc_id",
            "s",
            F.expr("concat(array(0L), cuts)").alias("starts"),
            F.expr("concat(cuts, array(CAST(length(s) AS BIGINT)))").alias("ends"),
        )
        .select(
            "doc_id",
            F.posexplode(F.expr(chunks_expr)).alias("pos0", "chunk"),
        )
        .select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("chunk_idx"), "chunk")
    )



@query(
    "q136_cdc_chunk_dedup",
    oracle=f"""
WITH n AS (
  SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS s
  FROM documents WHERE length(text) > 0
),
h AS (
  SELECT doc_id, s,
    CASE WHEN length(s) >= {CDC_W} THEN
      list_filter(
        list_transform(range(1, length(s) - {CDC_W} + 2),
          i -> CASE WHEN
            list_sum(list_transform(range(0, {CDC_W}),
              j -> ascii(substr(s, CAST(i + j AS INT), 1)) * ({_CDC_POW_SQL})[j + 1]
            )) % {CDC_M} % {CDC_MASK + 1} = 0
          THEN i + {CDC_W} - 1 ELSE NULL END),
        x -> x IS NOT NULL AND x < length(s))
    ELSE [] END AS cuts
  FROM n
),
c AS (
  SELECT doc_id, s, list_prepend(0, cuts) AS starts,
         list_append(cuts, length(s)) AS ends
  FROM h
),
ch AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(starts) + 1),
           k -> substr(s, CAST(starts[k] + 1 AS INT),
                       CAST(ends[k] - starts[k] AS INT)))) AS chunk
  FROM c
)
SELECT {md5_int_sql("chunk")} AS chunk_hash,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM ch
GROUP BY chunk_hash
HAVING COUNT(*) > 1
ORDER BY n_occurrences DESC, chunk_hash
""",
    tags=("dedup", "cdc", "training-pipeline"),
    bench=True,
    min_rows=1,
)
def q136_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup — the shift-resistant dedup
    primitive (rsync/LBFS lineage; the CDC stage of modern
    training-data dedup pipelines): chunk boundaries are placed where a
    W-char polynomial rolling hash H(i) = sum c[i+j]*B^j mod M hits
    H % 64 == 0, so inserting one sentence into a near-duplicate
    document RE-ALIGNS every later chunk — fixed-stride chunking (q100)
    would shift every downstream block and miss all of them. Output is
    the corpus-level repeated-chunk map (which variable-size chunks
    recur, in how many docs) — the unit a span-excision pass (q114)
    or a storage dedup layer consumes.

    Integer-exact cross-engine: char codes from a [a-z0-9 ]-normalized
    text, per-term mod-M products against precomputed B^j mod M
    literals (no int64 overflow: W·M·128 ≈ 2e9), md5-based 60-bit chunk
    hashes — both engines floor identically, so the oracle hash
    certifies boundary placement AND chunk content byte-for-byte.

    Scale shape: chunking is MAP-ONLY, O(len·W) per doc — cut positions
    from an Arrow-batched numpy sliding-window matmul (~3.3× on the
    sf0.1 bench vs an interpreted Catalyst aggregate() per position;
    only an array<long> of cuts crosses the Arrow boundary, substrings
    stay JVM-side). The only shuffle is the final groupBy on the
    uniform md5 chunk key. 100 TB: identical plan, chunk-key groupBy
    partitions by hash — no skew (the mask bounds expected chunk count
    per doc at len/64, and a pathological all-boundary doc still emits
    at most len chunks of length 1)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        cdc_chunks(docs)
        .groupBy(md5_int(F.col("chunk")).alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
        .orderBy(F.desc("n_occurrences"), "chunk_hash")
    )


@query(
    "q130_cdc_excision",
    oracle=f"""
WITH n AS (
  SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS s
  FROM documents WHERE length(text) > 0
),
h AS (
  SELECT doc_id, s,
    CASE WHEN length(s) >= {CDC_W} THEN
      list_filter(
        list_transform(range(1, length(s) - {CDC_W} + 2),
          i -> CASE WHEN
            list_sum(list_transform(range(0, {CDC_W}),
              j -> ascii(substr(s, CAST(i + j AS INT), 1)) * ({_CDC_POW_SQL})[j + 1]
            )) % {CDC_M} % {CDC_MASK + 1} = 0
          THEN i + {CDC_W} - 1 ELSE NULL END),
        x -> x IS NOT NULL AND x < length(s))
    ELSE [] END AS cuts
  FROM n
),
c AS (
  SELECT doc_id, s, list_prepend(0, cuts) AS starts,
         list_append(cuts, length(s)) AS ends
  FROM h
),
ch AS (
  SELECT doc_id, k AS chunk_idx,
         substr(s, CAST(starts[k] + 1 AS INT),
                CAST(ends[k] - starts[k] AS INT)) AS chunk
  FROM c, unnest(range(1, len(starts) + 1)) AS u(k)
),
kp AS (
  SELECT doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rnk
  FROM ch
)
SELECT doc_id,
       CAST(COUNT(*) FILTER (rnk = 1) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (rnk > 1) AS BIGINT) AS n_excised,
       CAST(COALESCE(SUM(length(chunk)) FILTER (rnk > 1), 0) AS BIGINT) AS chars_removed,
       md5(COALESCE(string_agg(chunk, '' ORDER BY chunk_idx) FILTER (rnk = 1), '')) AS clean_md5
FROM kp GROUP BY doc_id ORDER BY doc_id
""",
    tags=("dedup", "cdc", "excision", "training-pipeline"),
    min_rows=10,
)
def q130_cdc_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level boilerplate excision — the ACTIONABLE half of q136:
    every chunk keeps only its globally-first occurrence (ordered by
    doc_id, then in-doc position — unique, so both engines pick the
    identical keeper), later occurrences are excised, and each document
    is reassembled from its surviving chunks in order. This is the
    CDC-based form of the span-excision pass (q114) a training-data
    pipeline runs to strip cross-document boilerplate — headers,
    navigation, license blocks — without q114's fixed gram width, and
    shift-resistant per q136's docstring. clean_md5 certifies the
    reassembled text byte-for-byte.

    Scale shape: map-only chunker (q136), then ONE shuffle for the
    keeper window — partitionBy(chunk), i.e. the dedup key itself, so
    partitioning is as uniform as the chunk distribution; a
    pathologically repeated boilerplate chunk concentrates only its own
    occurrence ROWS (~64 chars each), linear in occurrences, the same
    bound as q041's min-doc gram join — and one shuffle back on doc_id
    for reassembly. No self-join, no candidate blow-up; output rows =
    |docs|.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    kp = cdc_chunks(docs).withColumn("rnk", F.row_number().over(w))
    kept_struct = "CASE WHEN rnk = 1 THEN struct(chunk_idx, chunk) END"
    return (
        kp.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("rnk") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("rnk") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_excised"),
            F.sum(F.when(F.col("rnk") > 1, F.length("chunk")).otherwise(0))
            .cast("bigint")
            .alias("chars_removed"),
            F.md5(
                F.expr(
                    f"array_join(transform(array_sort(collect_list({kept_struct})), "
                    "x -> x.chunk), '')"
                )
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Winnowing substring-duplicate pairs (the cross-document repeated-
# substring primitive; Schleimer/Wilkerson/Aiken, "Winnowing: Local
# Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS selector)
# ---------------------------------------------------------------------------

# k-gram char length / window of consecutive k-grams / df skew cap. The
# winnowing guarantee: any substring shared verbatim by two documents of
# length >= K + W - 1 (27 chars) contains at least one FULL window, whose
# minimum k-gram is selected in BOTH documents (selection is by value —
# lexicographic min — so it is position-independent). Detection is
# therefore exact above that threshold, with only ~2/(W+1) of the k-grams
# ever leaving the map side.
WINNOW_K = 20
WINNOW_W = 8
WINNOW_DF_CAP = 64

# Documents are selected in runs of at most this many UTF-8 bytes (a larger
# document is a run of its own): the kernel's working set is O(n) in the
# run's characters, so this bounds it per batch whatever the batch size.
_WINNOW_RUN_BYTES = 1 << 20


def _dense_rank(key):
    """Order-preserving dense ranks 0..u-1 of an integer key array, and u."""
    import numpy as np

    order = np.argsort(key)
    sk = key[order]
    new = np.empty(sk.size, dtype=bool)
    new[0] = True
    np.not_equal(sk[1:], sk[:-1], out=new[1:])
    del sk
    rank = np.empty(key.size, dtype=np.int64)
    rank[order] = np.cumsum(new, dtype=np.int64) - 1
    return rank, int(rank[order[-1]]) + 1


def _winnow_run(b, offs, valid, distinct):
    """Winnowing selection over one run of documents.

    b is the run's UTF-8 bytes, offs its documents' byte offsets (len d+1,
    offs[0] == 0), valid their non-null mask. Returns (doc, gram_offsets,
    gram_bytes, p): the run-local document index, the selected k-grams as
    Arrow string buffers and their 1-based character positions, one entry
    per distinct selected position, ascending within each document. With
    distinct, one entry per distinct selected k-gram of each document
    instead, at its first selected position, in no set order.

    Characters are code points; each one's key is its UTF-8 bytes packed
    big-endian, so key order is code-point order, which is also the byte
    order Spark's string comparison uses. The k-grams are ranked by
    prefix doubling over the concatenated run: ranks of 2-, 4-, 8- and
    16-grams, each the dense rank of a pair of the previous level's
    ranks, then the 20-gram key (16-gram rank, 4-gram rank). Grams and
    windows that cross a document boundary get keys too but are never
    read. Every window's first minimum comes from a sliding argmin over
    the keys, computed by three doublings.
    """
    import numpy as np

    K, W = WINNOW_K, WINNOW_W
    nb = b.size
    cpos = np.flatnonzero((b & 0xC0) != 0x80)
    nch = cpos.size
    cstart = np.searchsorted(cpos, offs)
    nwin = np.diff(cstart) - (K + W - 2)
    has = valid & (nwin > 0)
    nwin = nwin[has]
    if not nwin.size:
        return None
    clen = np.diff(np.append(cpos, nb))
    pad = np.concatenate((b, np.zeros(3, dtype=np.uint8)))
    key = pad[cpos].astype(np.uint32) << 24
    for t in (1, 2, 3):
        key |= np.where(clen > t, pad[cpos + t].astype(np.uint32) << (24 - 8 * t), 0)
    del pad, clen
    r, bound = _dense_rank(key)
    del key
    # ranks of the 2-, 4-, 8- and 16-grams; the 4-gram ranks are kept for
    # the final 16 + 4 step
    for span in (1, 2, 4, 8):
        pair = r[:-span] * bound + r[span:]
        r, bound = _dense_rank(pair)
        del pair
        if span == 2:
            r4, bound4 = r, bound
    g = nch - K + 1
    key = r[:g] * bound4 + r4[K - 4 : K - 4 + g]
    del r, r4
    # first minimum of each window of W grams by three doublings of a
    # sliding argmin; the right half wins only when strictly smaller
    arg = np.arange(g, dtype=np.int64)
    for half in (1, 2, 4):
        left, right = arg[:-half], arg[half:]
        arg = np.where(key[right] < key[left], right, left)
    del left, right
    total = int(nwin.sum())
    first = np.cumsum(nwin) - nwin
    win = np.repeat(cstart[:-1][has] - first, nwin) + np.arange(total, dtype=np.int64)
    pos = arg[win]
    del arg, win
    keep = np.empty(total, dtype=bool)
    keep[0] = True
    np.not_equal(pos[1:], pos[:-1], out=keep[1:])
    pos = pos[keep]
    doc = np.repeat(np.flatnonzero(has), nwin)[keep]
    del keep
    if distinct:
        gk, u = _dense_rank(key[pos])
        once = np.unique(doc * u + gk, return_index=True)[1]
        pos, doc = pos[once], doc[once]
    del key
    p = (pos - cstart[doc] + 1).astype(np.int32)
    cend = np.append(cpos, nb)
    bs = cpos[pos]
    lens = cend[pos + K] - bs
    del cend
    src = np.concatenate((b, np.zeros(4 * K, dtype=np.uint8)))
    width = int(lens.max())
    rows = np.lib.stride_tricks.sliding_window_view(src, width)[bs]
    data = rows[np.arange(width) < lens[:, None]]
    gram_offs = np.zeros(pos.size + 1, dtype=np.int32)
    np.cumsum(lens, out=gram_offs[1:])
    return doc, gram_offs, data, p


def _winnow_select_batch(batch, distinct=False):
    """The winnowing selector over one Arrow batch of (doc_id, text):
    yields (doc_id, gram, p) batches, one row per distinct selected
    position of each document — the first position of each window of W
    consecutive k-grams' minimum k-gram (K code points, compared in code
    point order). With distinct, one row per distinct selected k-gram of
    each document, at its first selected position. Null text and
    documents shorter than K + W - 1 characters select nothing."""
    import numpy as np
    import pyarrow as pa

    n = batch.num_rows
    if n == 0:
        return
    ids = np.asarray(batch.column(0))
    text = batch.column(1)
    off_t = np.int64 if pa.types.is_large_string(text.type) else np.int32
    _, ob, db = text.buffers()
    offs = np.frombuffer(ob, dtype=off_t)[text.offset : text.offset + n + 1].astype(np.int64)
    data = np.frombuffer(db, dtype=np.uint8) if db is not None else np.zeros(0, np.uint8)
    valid = (
        np.ones(n, dtype=bool)
        if text.null_count == 0
        else text.is_valid().to_numpy(zero_copy_only=False)
    )
    i0 = 0
    while i0 < n:
        i1 = max(int(np.searchsorted(offs, offs[i0] + _WINNOW_RUN_BYTES, "right")) - 1, i0 + 1)
        sel = _winnow_run(
            data[offs[i0] : offs[i1]], offs[i0 : i1 + 1] - offs[i0], valid[i0:i1], distinct
        )
        if sel is not None:
            doc, gram_offs, gram_bytes, p = sel
            grams = pa.Array.from_buffers(
                pa.string(),
                p.size,
                [None, pa.py_buffer(gram_offs), pa.py_buffer(gram_bytes)],
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[i0 + doc], pa.int64()), grams, pa.array(p, pa.int32())],
                ["doc_id", "gram", "p"],
            )
        i0 = i1


def _winnow_select(base: DataFrame, *, distinct: bool = False) -> DataFrame:
    """The winnowing selector over a pre-filtered (and optionally
    pre-spread) (doc_id, text) frame: one (doc_id, f, p) row per distinct
    selected position, p the 1-based character position and f the
    xxhash64 bigint of the selected k-gram (hashed in the JVM, so the key
    equals Spark's xxhash64 of the same substring). p determines f, so
    rows are unique on (doc_id, p); f can repeat within a document. With
    distinct, the kernel keeps each document's first row per selected
    k-gram, so a repetitive document ships each fingerprint once.

    Selection is one vectorized Arrow kernel (_winnow_select_batch,
    O(n) memory per document); only the selected k-grams, ~2/(W+1) of
    them, cross back into the JVM."""
    from warcraider_spark.dist import ensure_package_on_executors

    # the kernel is module-level, pickled by reference: workers import it
    ensure_package_on_executors(base.sparkSession)

    def gen(batches):
        for b in batches:
            yield from _winnow_select_batch(b, distinct)

    return (
        base.select("doc_id", "text")
        .mapInArrow(gen, "doc_id bigint, gram string, p int")
        .select("doc_id", F.xxhash64("gram").alias("f"), "p")
    )


def _merge_spans_arrow(cuts: DataFrame) -> DataFrame:
    """Per-document span merge of the excision cut stream as ONE
    vectorized Arrow kernel — no interpreted per-position fold over a
    collected position array.

    Input: the (doc_id, p) cut stream. The kernel ENFORCES doc
    co-location itself with a repartition on doc_id — mapInArrow cannot
    declare a clustering requirement the way a doc_id groupBy would,
    and the upstream fpos ⋈ stats join only preserves
    the doc-range layout while stats broadcasts; when the planner picks
    a shuffle join on f (it does at sf0.1, and always would at 100 TB
    corpus-pervasive duplication), a document's cuts scatter across
    f-partitions and a co-location assumption silently DUPLICATES output
    rows (q088 at sf0.1 emitted 9295 instead of 4858 rows while
    sf0.001/0.01 passed on broadcast luck). The exchange moves only the
    narrow cut rows (~12 B).

    Semantics (pinned by the DuckDB gaps-and-islands oracle of q088/q197
    and the pure-Python ``_py_excise`` in tests/test_substring_excision.py):
    positions sort ascending per doc; a cut at ``p`` extends the open
    span while ``p <= prev_p + K`` (equality merges), else opens a new
    span [p, p+K). All arithmetic is exact int32/int64.

    Output: (doc_id, spans) with spans an array<struct<s,e>>. The
    kept_text reconstruction (q088) folds it; the manifest (q197) reads
    only its size and summed extent (_span_accounting).
    """
    import pyarrow as pa

    K = WINNOW_K

    def gen(batches):
        import numpy as np

        ids, ps = [], []
        for b in batches:
            ids.append(np.asarray(b.column("doc_id")))
            ps.append(np.asarray(b.column("p")))
        if not ids:
            return
        d = np.concatenate(ids)
        p = np.concatenate(ps).astype(np.int64)
        if d.size == 0:
            return
        order = np.lexsort((p, d))
        d = d[order]
        p = p[order]
        new_doc = np.empty(d.size, dtype=bool)
        new_doc[0] = True
        np.not_equal(d[1:], d[:-1], out=new_doc[1:])
        boundary = new_doc.copy()
        boundary[1:] |= p[1:] - p[:-1] > K
        bidx = np.flatnonzero(boundary)
        starts = p[bidx]
        ends = p[np.append(bidx[1:] - 1, d.size - 1)] + K
        isl_doc = d[bidx]
        doc_b = np.empty(isl_doc.size, dtype=bool)
        doc_b[0] = True
        np.not_equal(isl_doc[1:], isl_doc[:-1], out=doc_b[1:])
        doc_ids = isl_doc[doc_b]
        seg = np.cumsum(doc_b) - 1
        n_spans = np.bincount(seg)
        offsets = np.concatenate(([0], np.cumsum(n_spans))).astype(np.int32)
        span_structs = pa.StructArray.from_arrays(
            [pa.array(starts.astype(np.int32)), pa.array(ends.astype(np.int32))],
            ["s", "e"],
        )
        spans = pa.ListArray.from_arrays(pa.array(offsets), span_structs)
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids, pa.int64()), spans], ["doc_id", "spans"]
        )

    return cuts.repartition("doc_id").mapInArrow(
        gen, "doc_id bigint, spans array<struct<s: int, e: int>>"
    )


def _winnow_pairs_arrow(fp: DataFrame, *, cap: int = WINNOW_DF_CAP) -> DataFrame:
    """(doc_id, f) fingerprint stream → (doc_a, doc_b) candidate-pair
    OCCURRENCES (one row per shared fingerprint) as one vectorized Arrow
    kernel.

    The stream is hash-partitioned on f and sorted partition-locally by
    (f, doc_id) — the sort is codegen'd JVM work and spills safely — then
    the kernel streams f-groups batch by batch (vectorized NumPy over
    each batch, one carry group across batch edges), dedups doc_ids
    within the group (equality on adjacent rows of the sorted run),
    applies the 2..cap df skew guard, and emits every (doc_a < doc_b)
    combination. The caller aggregates n_shared per pair, so the plan is
    ONE f exchange + ONE pair exchange: no df-index join, no self-join
    probe, no separate distinct.

    Memory: the kernel holds one Arrow batch plus the open f-group —
    bounded by the largest single fingerprint's raw occurrence count
    (16 B/row), not the partition. Pair fan-out is bounded at C(cap, 2)
    per group by the df cap.
    """
    import pyarrow as pa

    def gen(batches):
        import numpy as np

        carry_f = None
        carry_d = None

        def emit(f, d):
            # rows sorted by (f, doc_id); dedup adjacent (f, doc) dups
            keep = np.empty(d.size, dtype=bool)
            keep[0] = True
            keep[1:] = (f[1:] != f[:-1]) | (d[1:] != d[:-1])
            f = f[keep]
            d = d[keep]
            gb = np.empty(f.size, dtype=bool)
            gb[0] = True
            np.not_equal(f[1:], f[:-1], out=gb[1:])
            gidx = np.flatnonzero(gb)
            counts = np.diff(np.append(gidx, f.size))
            ok = (counts >= 2) & (counts <= cap)
            if not ok.any():
                return None
            cs = counts[ok]
            ok_elem = np.repeat(ok, counts)
            dv = d[ok_elem]
            new_starts = np.concatenate(([0], np.cumsum(cs)))[:-1]
            pos = np.arange(dv.size) - np.repeat(new_starts, cs)
            reps = np.repeat(cs, cs) - 1 - pos
            total = int(reps.sum())
            if total == 0:
                return None
            doc_a = np.repeat(dv, reps)
            pair_start = np.cumsum(reps) - reps
            b_idx = (
                np.arange(total)
                - np.repeat(pair_start, reps)
                + np.repeat(np.arange(dv.size), reps)
                + 1
            )
            doc_b = dv[b_idx]
            return pa.RecordBatch.from_arrays(
                [pa.array(doc_a, pa.int64()), pa.array(doc_b, pa.int64())],
                ["doc_a", "doc_b"],
            )

        for b in batches:
            f = np.asarray(b.column("f"))
            d = np.asarray(b.column("doc_id"))
            if f.size == 0:
                continue
            if carry_f is not None:
                f = np.concatenate((carry_f, f))
                d = np.concatenate((carry_d, d))
            # hold the trailing (possibly batch-spanning) group back
            lg = int(np.flatnonzero(f != f[-1])[-1]) + 1 if (f != f[-1]).any() else 0
            carry_f, carry_d = f[lg:].copy(), d[lg:].copy()
            if lg:
                out = emit(f[:lg], d[:lg])
                if out is not None:
                    yield out
        if carry_f is not None and carry_f.size:
            out = emit(carry_f, carry_d)
            if out is not None:
                yield out

    return (
        fp.repartition("f")
        .sortWithinPartitions("f", "doc_id")
        .mapInArrow(gen, "doc_a bigint, doc_b bigint")
    )


# ---------------------------------------------------------------------------
# Winnowing stage builders: each stage of the five winnowing operators
# below (q069 pairs, q062 keep, q063 weights, q088 excision, q197 family)
# is built here once.
# ---------------------------------------------------------------------------


def _spreads(spread_partitions: int | None) -> bool:
    return spread_partitions is not None and spread_partitions > 1


def _winnow_base(
    docs: DataFrame, spread_partitions: int | None, *, by_doc_id: bool = False
) -> DataFrame:
    """The documents long enough to hold one window (>= K + W - 1 chars),
    spread round-robin, or by doc_id range with ``by_doc_id``.

    spread_partitions (explicit, not an RDD probe): the selector's cost
    is per character of text (a k-gram ranking per document), so Spark's
    BYTE-based input splitting undersizes it on small dense files
    (sf0.1's 581 KB documents.parquet is ONE split → the whole corpus
    selected on one core). Callers that know the input is byte-dense
    pass a target (the registry queries pass defaultParallelism — one
    cheap shuffle of the narrow input rows, documented in the plan-shape
    pin). At real scale file count ≫ cores, the spread is unnecessary,
    and the default None keeps the 100 TB plan at zero extra shuffles —
    the decision is static in the caller, never derived from a plan-time
    RDD materialization, so the physical plan does not depend on
    defaultParallelism or file-split layout."""
    base = docs.filter(F.length("text") >= WINNOW_K + WINNOW_W - 1)
    if not _spreads(spread_partitions):
        return base
    if by_doc_id:
        return base.repartitionByRange(spread_partitions, "doc_id")
    return base.repartition(spread_partitions)


def _count_pairs(fp: DataFrame) -> DataFrame:
    """(doc_id, f, …) fingerprint rows → (doc_a, doc_b, n_shared) for the
    pairs sharing at least two fingerprints: the streaming pair kernel
    (one f exchange, the df cap applied inside it), then one pair
    exchange to count. The kernel dedups (doc_id, f) per fingerprint
    group itself, so a position-annotated stream that repeats f within a
    document needs no distinct first."""
    return (
        _winnow_pairs_arrow(fp.select("doc_id", "f"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def _doc_pairs(docs: DataFrame, spread_partitions: int | None) -> DataFrame:
    """Unordered winnowing pairs of a (doc_id, text) frame: the selector
    in distinct mode (one row per distinct fingerprint of a document, not
    one per selected position, which a repetitive page multiplies), then
    _count_pairs."""
    base = _winnow_base(docs, spread_partitions)
    return _count_pairs(_winnow_select(base, distinct=True))


def _clusters(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs → (node, comp) duplicate clusters, comp the
    smallest doc_id of the cluster. doc_a < doc_b, distinct and
    self-loop-free by construction, so the contraction skips its
    canonicalization shuffle."""
    from warcraider_spark.operators.graph import contracted_components

    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return contracted_components(edges, assume_canonical=True)


def _excision_spans(fpos: DataFrame) -> DataFrame:
    """(doc_id, f, p) selector rows → (doc_id, spans): for every
    fingerprint shared by 2..df-cap documents the smallest doc_id owns
    it, every other document cuts the k-char extent at each of its
    positions, and the span-merge kernel coalesces the cuts per document.

    Ownership is one groupBy on the fingerprint key (min-doc and
    distinct-doc df in one pass, seam-sized). No distinct on the cut
    stream: fpos is unique on (doc_id, p) by construction — the kernel
    emits each selected position once and each position carries exactly
    one gram — and the stats are unique per f, so the equi-join cannot
    duplicate a (doc_id, p) row (the oracle's SELECT DISTINCT dedups the
    same already-unique set)."""
    stats = (
        fpos.groupBy("f")
        .agg(F.countDistinct("doc_id").alias("df"), F.min("doc_id").alias("owner"))
        .filter((F.col("df") >= 2) & (F.col("df") <= WINNOW_DF_CAP))
        .select("f", "owner")
    )
    cuts = (
        fpos.join(stats, "f")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "p")
    )
    return _merge_spans_arrow(cuts)


def _span_accounting() -> tuple[Column, Column]:
    """n_spans and chars_removed of a spans column."""
    return (
        F.expr("cast(size(spans) as bigint)").alias("n_spans"),
        F.expr(
            "cast(aggregate(spans, 0, (a, iv) -> a + iv.e - iv.s) as bigint)"
        ).alias("chars_removed"),
    )


def _cluster_weight() -> tuple[Column, Column]:
    """cluster_size and the soft-dedup weight 1/cluster_size from a
    nullable cluster size n (null = singleton)."""
    n = F.coalesce(F.col("n"), F.lit(1))
    return n.cast("bigint").alias("cluster_size"), (F.lit(1.0) / n).alias("weight")


def _join_dictionary(
    docs: DataFrame,
    dictionary: DataFrame,
    columns: tuple[Column, ...],
    *,
    spread_partitions: int | None,
    broadcast_dictionary: bool,
) -> DataFrame:
    """One row per document of ``docs``, doc_id-ordered: its doc_id
    left-joined to a doc_id-keyed dictionary, projected to ``columns``.

    Dictionary-join regime (q063, q197; q088 joins its spans dictionary
    onto the text the same way): the dictionary holds one row per
    clustered or excised document. In the common crawled-corpus regime
    that is a small minority of documents, and broadcast_dictionary=True
    (default) makes the corpus pass a broadcast join — map-only over
    100 TB, zero corpus shuffle (plan-shape pinned). When duplication is
    pervasive (boilerplate-heavy corpora where most documents carry a
    shared run) the dictionary is O(corpus) and a forced broadcast would
    be an executor/driver OOM, not a slowdown: pass False and the join
    degrades honestly to a doc_id-keyed shuffle-hash join — the corpus
    shuffles once, which is the true cost of that data shape. Output rows
    are identical in both regimes; only the plan shape changes.

    Under the broadcast regime the narrow (doc_id-only) probe is
    range-spread by doc_id, so the trailing sort is partition-local: a
    broadcast join keeps the probe's range layout, and a global orderBy's
    boundary sampling would re-run the corpus probe pass
    (lineage.range_presort). The shuffle regime re-partitions by hash and
    needs the global sort."""
    if broadcast_dictionary:
        dictionary = F.broadcast(dictionary)
    probe = docs.select("doc_id")
    presorted = broadcast_dictionary and _spreads(spread_partitions)
    if presorted:
        probe = probe.repartitionByRange(spread_partitions, "doc_id")
    out = probe.join(dictionary, "doc_id", "left").select("doc_id", *columns)
    return out.sortWithinPartitions("doc_id") if presorted else out.orderBy("doc_id")


@query(
    "q069_winnowing_dup_pairs",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, len(text)-{WINNOW_K}+2),
                        i -> substr(text, i, {WINNOW_K})) AS grams
  FROM documents
  WHERE len(text) >= {WINNOW_K}+{WINNOW_W}-1
),
fp AS (
  SELECT DISTINCT doc_id, f
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(grams)-{WINNOW_W}+2),
                  j -> list_min(grams[j:j+{WINNOW_W}-1]))) AS f
    FROM g
  )
),
idx AS (
  SELECT f FROM fp GROUP BY f
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {WINNOW_DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM fp a JOIN idx USING (f) JOIN fp b USING (f)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "winnowing", "substring", "fingerprint"),
    min_rows=1,
    # bench-tagged: a first-class operator carries a drift-tracked wall
    # time with a quiet-box band.
    bench=True,
)
def q069_winnowing_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document verbatim-substring duplicate candidates via
    winnowing fingerprints: per document, the DISTINCT set of
    per-window minimum k-grams (k=20, w=8 — any shared substring of
    >= 27 chars is guaranteed detected); an inverted fingerprint index
    keeps fingerprints shared by 2..64 documents (the df cap bounds
    both hot-key shuffle skew and the per-fingerprint pair fan-out at
    C(64,2)); the pair join then counts shared fingerprints and keeps
    pairs with >= 2 — the plagiarism-detector / exact-substring-dedup
    candidate stage the line/CDC/MinHash family lacks (those match
    whole lines, chunk boundaries, or bag-of-shingles similarity; this
    matches ANY verbatim run above the threshold, position-free).

    100 TB shape: fingerprint selection is one map-side vectorized
    Arrow kernel per batch of documents (no shuffle) — only ~2/(w+1) of
    the k-grams leave it, and the (doc_id, fp) stream is the only thing
    shuffled (hash-partitioned on fp). The df cap
    is the same skew guard the containment join uses: a boilerplate
    fingerprint shared by thousands of pages is dropped before it can
    form a quadratic pair blow-up or a hot reduce partition. The
    shuffle key is the xxhash64 FOLD of the selected k-gram (8-byte
    bigint instead of a 20-char string) — the 64× scale study measured
    the fold as the only mitigation holding the scaling step ≤2 at
    local saturation; selection is still by string min, so detection
    guarantees are unchanged, and the output equals the string-keyed
    pair set (pinned against a pure-Python string reference by
    tests/test_winnowing_fold.py), which is why the string-keyed DuckDB
    oracle above still certifies this plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_pairs(
        docs, spread_partitions=spark.sparkContext.defaultParallelism
    )


def winnowing_pairs(
    docs: DataFrame,
    *,
    spread_partitions: int | None = None,
) -> DataFrame:
    """The winnowing pair pipeline over any (doc_id, text) frame — shared
    by the registry query and the scale harness's disjoint-replica
    variant (tools/scale_bench.py) — in (doc_a, doc_b) order.

    The selected fingerprints leave the map side as xxhash64 bigints —
    an 8-byte shuffle key instead of a 20-char string. Selection itself
    still happens on the k-gram STRINGS (the winnowing min is by string
    value; the fold is post-selection), so which positions are
    fingerprinted — and therefore the ≥27-char detection guarantee — is
    unchanged. Output equals the string-keyed pair set except under a
    64-bit collision among one corpus's selected grams (~1e-8 at 1e5
    distinct fps; equality on random corpora against a pure-Python
    string reference is pinned by tests/test_winnowing_fold.py).

    Built by _doc_pairs (length filter and spread, the selector in
    distinct mode, _count_pairs); the compositions (q062, q063) read the
    same pairs unordered."""
    return _doc_pairs(docs, spread_partitions).orderBy("doc_a", "doc_b")


# Oracle-side connected components WITHOUT a naive recursive CTE: the
# min-label transitive closure (the q134 pattern) materializes every
# (node, smaller-reachable-label) pair, which is O(n^2) rows on the
# dense hairball clusters winnowing produces (sf0.1 has a 4,332-member
# cluster -> ~9M label pairs; DuckDB 1.0 has no USING KEY recursion to
# do keyed updates). Instead: UNROLLED pointer-doubling + neighbor-min
# rounds — lbl'(v) = min(lbl(v), lbl(lbl(v)), min over in-neighbors'
# lbl) — monotone toward the component min and convergent in O(log n)
# rounds (the jump term halves label-forest depth per round; 24 rounds
# cover any component the small-SF corpora can produce by orders of
# magnitude). Soundness: a hypothetical non-converged label would
# surface as a value mismatch against the Spark side — the oracle can
# be slow-to-converge in theory, never silently agree-when-wrong.
_WDK_CC_ROUNDS = 24
_WDK_ROUNDS_SQL = "".join(
    f""",
l{k + 1} AS MATERIALIZED (
  SELECT n.node, LEAST(n.lbl, j.lbl, nb.lbl) AS lbl
  FROM l{k} n
  JOIN l{k} j ON j.node = n.lbl
  JOIN (SELECT e.v AS nd, MIN(l2.lbl) AS lbl
        FROM edges2 e JOIN l{k} l2 ON l2.node = e.u GROUP BY e.v) nb
    ON nb.nd = n.node
)"""
    for k in range(_WDK_CC_ROUNDS)
)


@query(
    "q062_winnowing_dedup_keep",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, len(text)-{WINNOW_K}+2),
                        i -> substr(text, i, {WINNOW_K})) AS grams
  FROM documents
  WHERE len(text) >= {WINNOW_K}+{WINNOW_W}-1
),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, f
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(grams)-{WINNOW_W}+2),
                  j -> list_min(grams[j:j+{WINNOW_W}-1]))) AS f
    FROM g
  )
),
idx AS (
  SELECT f FROM fp GROUP BY f
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {WINNOW_DF_CAP}
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN idx USING (f) JOIN fp b USING (f)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
edges2 AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
l0 AS MATERIALIZED (SELECT u AS node, LEAST(u, MIN(v)) AS lbl FROM edges2 GROUP BY u){_WDK_ROUNDS_SQL},
comp AS (SELECT node, lbl AS comp FROM l{_WDK_CC_ROUNDS}),
members AS (
  SELECT c.comp, c.node, len(d.text) AS n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
sel AS (
  SELECT comp, node, n_chars,
         row_number() OVER (PARTITION BY comp
                            ORDER BY n_chars DESC, node ASC) AS rn
  FROM members
)
SELECT CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_removed,
       CAST(SUM(n_chars) - MAX(n_chars) AS BIGINT) AS chars_removed,
       CAST(SUM(node) - MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT)
           AS removed_checksum
FROM sel
GROUP BY comp
ORDER BY canonical_doc_id
""",
    tags=("dedup", "winnowing", "clusters", "e2e"),
    min_rows=1,
    # bench-tagged: every first-class operator carries a drift-tracked
    # wall time.
    bench=True,
)
def q062_winnowing_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end substring-dedup KEEP decision — what a
    training-data pipeline actually ships. q069 detects candidate
    pairs; this composes them into dedup clusters (connected
    components over the pair graph — transitive: if A shares a run
    with B and B with C, all three are one cluster even when A∩C is
    empty) and elects one canonical survivor per cluster: the LONGEST
    document (ties → smallest doc_id), the natural rule for substring
    duplication where shorter members are typically excerpts of the
    survivor. Output is the per-cluster removal manifest: canonical id,
    member/removed counts, characters removed, and a checksum of the
    removed ids (so the oracle certifies the exact removal SET, not
    just sizes).

    Oracle: an independent mechanism end to end — DuckDB recomputes the
    winnowing fingerprints, derives the SAME pair set, closes it with a
    recursive-CTE min-label transitive closure (the q134 pattern), and
    elects canonicals by window rank; a hash match therefore proves
    pair detection, clustering AND election agree between engines.

    100 TB shape: pairs come from the df-capped winnowing join (its
    fan-out bounded at C(64,2) per fingerprint, 8-byte folded shuffle
    keys); clustering is ``contracted_components`` on the PAIR graph —
    orders of magnitude smaller than the corpus (only documents that
    share a >=27-char run appear), one range shuffle + partition-local
    union-find, seam-graph rounds after; the corpus re-enters only as
    a narrow (doc_id, n_chars) projection hash-joined to cluster
    members, and the final aggregate is one groupBy on the cluster key
    with max_by election — no text bytes ever shuffle past the
    fingerprint stage. Reference scope: the reference has no dedup
    stage (SURVEY §2 north-star extension family)."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_dedup_keep(
        docs, spread_partitions=spark.sparkContext.defaultParallelism
    )


def winnowing_dedup_keep(
    docs: DataFrame,
    *,
    spread_partitions: int | None = None,
) -> DataFrame:
    """Cluster winnowing duplicate pairs and elect canonical survivors —
    see q062_winnowing_dedup_keep for semantics and the scale story."""
    comp = _clusters(_doc_pairs(docs, spread_partitions))
    meta = docs.select(
        F.col("doc_id").alias("node"), F.length("text").alias("n_chars")
    )
    canonical = F.expr("max_by(node, struct(n_chars, -node))")
    return (
        comp.join(meta, "node")
        .groupBy("comp")
        .agg(
            canonical.cast("bigint").alias("canonical_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            (F.count(F.lit(1)) - F.lit(1)).cast("bigint").alias("n_removed"),
            (F.sum("n_chars") - F.max("n_chars")).cast("bigint").alias("chars_removed"),
            (F.sum("node") - canonical).cast("bigint").alias("removed_checksum"),
        )
        .drop("comp")
        .orderBy("canonical_doc_id")
    )


@query(
    "q063_winnowing_soft_dedup_weights",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, len(text)-{WINNOW_K}+2),
                        i -> substr(text, i, {WINNOW_K})) AS grams
  FROM documents
  WHERE len(text) >= {WINNOW_K}+{WINNOW_W}-1
),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, f
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(grams)-{WINNOW_W}+2),
                  j -> list_min(grams[j:j+{WINNOW_W}-1]))) AS f
    FROM g
  )
),
idx AS (
  SELECT f FROM fp GROUP BY f
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {WINNOW_DF_CAP}
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN idx USING (f) JOIN fp b USING (f)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
edges2 AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
l0 AS MATERIALIZED (SELECT u AS node, LEAST(u, MIN(v)) AS lbl FROM edges2 GROUP BY u){_WDK_ROUNDS_SQL},
comp AS (SELECT node, lbl AS comp FROM l{_WDK_CC_ROUNDS}),
sizes AS (SELECT comp, COUNT(*) AS n FROM comp GROUP BY comp),
w AS (SELECT c.node, s.n FROM comp c JOIN sizes s USING (comp))
SELECT d.doc_id,
       CAST(COALESCE(w.n, 1) AS BIGINT) AS cluster_size,
       CAST(1.0 AS DOUBLE) / COALESCE(w.n, 1) AS weight
FROM documents d LEFT JOIN w ON w.node = d.doc_id
ORDER BY d.doc_id
""",
    tags=("dedup", "winnowing", "soft-dedup", "reweighting"),
    min_rows=1,
    bench=True,
)
def q063_winnowing_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup — the REWEIGHTING alternative to removal.
    Instead of dropping duplicate-cluster members (q062), every
    document gets a sampling weight 1/|cluster| (singletons weigh 1),
    so a run duplicated across k documents contributes ~one document's
    worth of gradient mass in training — the published soft-dedup
    recipe for LM pre-training data (duplication-degree reweighting),
    driven here by the winnowing substring-duplication clusters.
    Output: one row per document (doc_id, cluster_size, weight) — the
    corpus-wide sampling-weight column a data loader joins on.

    Oracle: independent end to end (fingerprints → pairs →
    pointer-doubling closure → cluster sizes → left join back to the
    full corpus); hash match certifies every document's weight,
    including the weight-1 singletons.

    100 TB shape — deliberately DIFFERENT from q062's manifest: the
    cluster machinery runs on the pair graph (corpus-much-smaller),
    and the final corpus pass is a LEFT join of the full documents
    table against the (clustered-doc → size) dictionary, which holds
    only duplicate-cluster MEMBERS at 16 bytes/row: broadcast by default
    (map-only weight assignment), doc_id-keyed shuffle join with
    broadcast_dictionary=False (see _join_dictionary). Reference scope:
    no dedup stage upstream (SURVEY §2 north-star extension family)."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_soft_dedup_weights(
        docs, spread_partitions=spark.sparkContext.defaultParallelism
    )


def winnowing_soft_dedup_weights(
    docs: DataFrame,
    *,
    spread_partitions: int | None = None,
    broadcast_dictionary: bool = True,
) -> DataFrame:
    """Per-document sampling weights from winnowing duplication clusters
    — see q063_winnowing_soft_dedup_weights for semantics and
    _join_dictionary for the broadcast-vs-shuffle dictionary regime."""
    comp = _clusters(_doc_pairs(docs, spread_partitions))
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("n"))
    weights = comp.join(sizes, "comp").select(F.col("node").alias("doc_id"), "n")
    return _join_dictionary(
        docs,
        weights,
        _cluster_weight(),
        spread_partitions=spread_partitions,
        broadcast_dictionary=broadcast_dictionary,
    )


@query(
    "q088_exact_substring_excision",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE len(text) >= {WINNOW_K}+{WINNOW_W}-1
),
g AS MATERIALIZED (
  SELECT doc_id, text,
         list_transform(range(1, len(text)-{WINNOW_K}+2),
                        i -> substr(text, i, {WINNOW_K})) AS grams
  FROM d
),
w AS (
  SELECT doc_id, grams,
         list_distinct(list_transform(range(1, len(grams)-{WINNOW_W}+2),
             j -> j + list_position(grams[j:j+{WINNOW_W}-1],
                                    list_min(grams[j:j+{WINNOW_W}-1])) - 1)) AS wins
  FROM g
),
fpos AS MATERIALIZED (
  SELECT DISTINCT doc_id, grams[p] AS f, p
  FROM (SELECT doc_id, grams, unnest(wins) AS p FROM w)
),
stats AS (
  SELECT f, MIN(doc_id) AS owner FROM fpos GROUP BY f
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {WINNOW_DF_CAP}
),
cuts AS (
  SELECT DISTINCT fp.doc_id, fp.p
  FROM fpos fp JOIN stats s USING (f)
  WHERE fp.doc_id <> s.owner
),
isl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN prev_p IS NULL OR p - prev_p > {WINNOW_K}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM (SELECT doc_id, p,
               LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev_p
        FROM cuts)
),
merged AS (
  SELECT doc_id, grp, MIN(p) AS s, MAX(p) + {WINNOW_K} AS e
  FROM isl GROUP BY doc_id, grp
),
pieces AS (
  SELECT doc_id, s, e,
         LAG(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
  FROM merged
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(p.e - p.s) AS BIGINT) AS chars_removed,
       string_agg(substr(d.text, p.prev_e, p.s - p.prev_e), '' ORDER BY p.s)
         || substr(d.text, MAX(p.e), len(d.text) + 1 - MAX(p.e)) AS kept_text
FROM pieces p JOIN d ON d.doc_id = p.doc_id
GROUP BY p.doc_id, d.text
ORDER BY p.doc_id
""",
    tags=("dedup", "winnowing", "excision", "substring"),
    min_rows=1,
    bench=True,
)
def q088_exact_substring_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring EXCISION — the surgical third member of
    the winnowing family (detect pairs q069 → cluster+keep q062 /
    reweight q063 → EXCISE q088). Instead of dropping or downweighting
    whole documents, the duplicated EXTENTS themselves are cut out of
    every non-first occurrence, the published exact-substring dedup
    recipe for LM training corpora (remove long verbatim runs, keep one
    occurrence): for every winnowing-selected fingerprint shared by
    2..df-cap documents, the SMALLEST doc_id keeps its occurrences and
    every other document excises the k-char extent at each of its
    selected positions; per document the extents merge into maximal
    spans (adjacent spans coalesce) and the output row carries the span
    count, characters removed, and the RECONSTRUCTED kept text — so the
    oracle's hash match certifies the byte-exact surgery, not just the
    accounting. Excision granularity is the winnowing sample (~2/(w+1)
    of shared positions), so a long shared run loses its sampled
    k-gram extents, not necessarily every byte — deterministic,
    documented, and identical across engines by the pinned
    first-occurrence window-argmin rule.

    100 TB shape: positions come from the SAME Arrow selector kernel
    as q069 (window argmin in code-point order, 8-byte folded
    fingerprint key); ownership is one groupBy on
    the fingerprint key (min-doc + distinct-doc df in one pass); the
    per-doc span merge is one vectorized Arrow kernel over the narrow
    (doc_id, p) cut stream (no window over the corpus); and the
    text re-enters ONCE, via a join of the (excised-doc → spans)
    dictionary against the documents scan — broadcast by default
    (map-side surgery, zero corpus shuffle), a doc_id-keyed shuffle join
    with broadcast_dictionary=False (the regime of _join_dictionary) —
    reconstruction is an aggregate() fold either way. Reference scope:
    no dedup stage upstream (SURVEY §2 north-star extension family)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_excision(
        docs, spread_partitions=spark.sparkContext.defaultParallelism
    )


def exact_substring_excision(
    docs: DataFrame,
    *,
    spread_partitions: int | None = None,
    broadcast_dictionary: bool = True,
) -> DataFrame:
    """Winnowing-sampled exact-substring excision — see
    q088_exact_substring_excision for semantics and the scale story,
    and _join_dictionary for the dictionary-join regime: the
    (excised-doc → spans) dictionary has one row per document that loses
    at least one extent. Output rows are identical in both regimes; both
    plan shapes are pinned in tests/test_substring_excision.py."""
    # Under the broadcast regime the surgery pass probes `base` map-side
    # and the declared output is doc_id-ordered — range-spread by doc_id
    # (instead of round-robin) so the trailing global sort degenerates to
    # sortWithinPartitions and its boundary sampling does not RE-RUN the
    # whole probe+fold subtree (lineage.range_presort rationale; ~0.9 s
    # of the q088 bench time).
    presorted = broadcast_dictionary and _spreads(spread_partitions)
    base = _winnow_base(docs, spread_partitions, by_doc_id=presorted)
    # Materialize the selector output once. Unlike winnowing_pairs (where
    # every fp consumer sits above an identical f-keyed exchange that AQE
    # reuse deduplicates), the two fpos consumers here are a partial
    # aggregation and a broadcast-join probe with NO common exchange above
    # the selector, so an uncut plan runs the selector kernel once per
    # consumer. The cut stores the narrow (doc_id, f, p) stream (~20 B/row,
    # ~2/(W+1) of the k-grams) and both consumers read blocks — the same
    # shape as winnowing_family.
    spans = _excision_spans(_winnow_select(base).transform(cut_lineage))
    if broadcast_dictionary:
        spans = F.broadcast(spans)
    out = (
        base.select("doc_id", "text")
        .join(spans, "doc_id")
        .select(
            "doc_id",
            *_span_accounting(),
            F.expr(
                """aggregate(
                     spans,
                     struct(1 AS last, '' AS out),
                     (acc, iv) -> struct(
                       iv.e AS last,
                       concat(acc.out,
                              substring(text, acc.last, iv.s - acc.last)) AS out),
                     acc -> concat(acc.out,
                                   substring(text, acc.last,
                                             length(text) - acc.last + 1)))"""
            ).alias("kept_text"),
        )
    )
    # broadcast inner join preserves the probe's range layout physically,
    # so partition-local sort IS the doc_id total order; the shuffle
    # regime re-partitions by hash and needs the global sort.
    return out.sortWithinPartitions("doc_id") if presorted else out.orderBy("doc_id")


@query(
    "q197_winnowing_family_manifest",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  WHERE len(text) >= {WINNOW_K}+{WINNOW_W}-1
),
g AS MATERIALIZED (
  SELECT doc_id, text,
         list_transform(range(1, len(text)-{WINNOW_K}+2),
                        i -> substr(text, i, {WINNOW_K})) AS grams
  FROM d
),
w AS (
  SELECT doc_id, grams,
         list_distinct(list_transform(range(1, len(grams)-{WINNOW_W}+2),
             j -> j + list_position(grams[j:j+{WINNOW_W}-1],
                                    list_min(grams[j:j+{WINNOW_W}-1])) - 1)) AS wins
  FROM g
),
fpos AS MATERIALIZED (
  SELECT DISTINCT doc_id, grams[p] AS f, p
  FROM (SELECT doc_id, grams, unnest(wins) AS p FROM w)
),
stats AS MATERIALIZED (
  SELECT f, MIN(doc_id) AS owner FROM fpos GROUP BY f
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {WINNOW_DF_CAP}
),
fp AS MATERIALIZED (SELECT DISTINCT doc_id, f FROM fpos),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN stats USING (f) JOIN fp b USING (f)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
edges2 AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
l0 AS MATERIALIZED (SELECT u AS node, LEAST(u, MIN(v)) AS lbl FROM edges2 GROUP BY u){_WDK_ROUNDS_SQL},
comp AS (SELECT node, lbl AS comp FROM l{_WDK_CC_ROUNDS}),
sizes AS (SELECT comp, COUNT(*) AS n FROM comp GROUP BY comp),
canon AS (
  SELECT comp, node AS canon FROM (
    SELECT c.comp, c.node,
           row_number() OVER (PARTITION BY c.comp
                              ORDER BY len(d.text) DESC, c.node ASC) AS rn
    FROM comp c JOIN d ON d.doc_id = c.node
  ) WHERE rn = 1
),
clustered AS (
  SELECT c.node, s.n, cn.canon
  FROM comp c JOIN sizes s USING (comp) JOIN canon cn USING (comp)
),
cuts AS (
  SELECT DISTINCT fp2.doc_id, fp2.p
  FROM fpos fp2 JOIN stats s USING (f)
  WHERE fp2.doc_id <> s.owner
),
isl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN prev_p IS NULL OR p - prev_p > {WINNOW_K}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM (SELECT doc_id, p,
               LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev_p
        FROM cuts)
),
merged AS (
  SELECT doc_id, grp, MIN(p) AS s, MAX(p) + {WINNOW_K} AS e
  FROM isl GROUP BY doc_id, grp
),
excise AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS chars_removed
  FROM merged GROUP BY doc_id
)
SELECT dd.doc_id,
       CAST(COALESCE(cl.n, 1) AS BIGINT) AS cluster_size,
       CAST(1.0 AS DOUBLE) / COALESCE(cl.n, 1) AS weight,
       COALESCE(cl.node = cl.canon, TRUE) AS is_canonical,
       CAST(COALESCE(x.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(x.chars_removed, 0) AS BIGINT) AS chars_removed
FROM documents dd
LEFT JOIN clustered cl ON cl.node = dd.doc_id
LEFT JOIN excise x ON x.doc_id = dd.doc_id
ORDER BY dd.doc_id
""",
    tags=("dedup", "winnowing", "composed", "manifest"),
    min_rows=1,
    bench=True,
)
def q197_winnowing_family_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing family as ONE composed plan sharing a single
    selector pass. q069/q062/q063/q088 each
    re-run the same window-argmin selector over the whole corpus text
    when a pipeline runs all of them. This
    query computes the position-annotated fingerprint stream ONCE and
    derives every family decision from it, emitting the per-document
    master manifest a training-data pipeline joins on to apply ANY of
    the three dedup policies (or compare them): cluster_size + weight
    (soft dedup, q063 semantics), is_canonical (hard KEEP decision,
    q062 longest-doc election; singletons are canonical), and
    n_spans + chars_removed (exact-substring excision accounting,
    q088 semantics — kept_text itself stays q088's certified job; the
    manifest carries the accounting).

    Oracle: the proven q063 CC skeleton (unrolled pointer-doubling
    closure) + q062's window-rank election + q088's gaps-and-islands
    span merge, joined into one corpus-wide row set — every column
    certified by an independent DuckDB mechanism.

    100 TB shape: see winnowing_family()."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_family(
        docs, spread_partitions=spark.sparkContext.defaultParallelism
    )


def winnowing_family(
    docs: DataFrame,
    *,
    spread_partitions: int | None = None,
    broadcast_dictionary: bool = True,
) -> DataFrame:
    """Shared-selector composition of the winnowing dedup family —
    detect + cluster/keep + reweight + excision accounting from ONE
    fingerprint pass.

    100 TB shape: the selector output (doc_id, fingerprint, position —
    ~16 narrow bytes per selected position, ~2/(w+1) of the k-grams,
    so far SMALLER than the corpus text it summarizes) is materialized
    once via cut_lineage (localCheckpoint locally; reliable
    checkpoint when WARCRAIDER_CHECKPOINT_DIR points at fault-tolerant
    storage) and every downstream branch — the pair kernel (which
    applies the df cap itself), the CC clustering, the fingerprint
    stats and the ownership cuts — reads that materialization instead
    of re-amplifying the text; the ownership, cuts and span merge are
    exact_substring_excision's stages, read for their accounting only.
    The corpus text never shuffles: it re-enters only as narrow
    projections — (doc_id, n_chars) for the election, (doc_id) for the
    final manifest join — and the family dictionary (one row per
    clustered-or-excised document) joins onto the documents scan under
    the regime of _join_dictionary.
    """
    base = _winnow_base(docs, spread_partitions)
    # THE shared selector pass (see _winnow_select): materialized once,
    # read by every branch.
    fpos = _winnow_select(base).transform(cut_lineage)
    # Branch 1: candidate pairs (q069 semantics) -> clusters (q062/q063).
    comp = _clusters(_count_pairs(fpos))
    # Size and canonical survivor in one aggregation on the cluster key.
    # count() over the join equals the cluster size: every clustered
    # node is a row of base, and doc_id is unique.
    meta = base.select(F.col("doc_id").alias("node"), F.length("text").alias("n_chars"))
    clusters = (
        comp.join(meta, "node")
        .groupBy("comp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("max_by(node, struct(n_chars, -node))").alias("canon"),
        )
    )
    clustered = comp.join(clusters, "comp").select(
        F.col("node").alias("doc_id"), "n", "canon"
    )
    # Branch 2: excision accounting (q088 semantics, accounting columns).
    excise = _excision_spans(fpos).select("doc_id", *_span_accounting())
    # The family dictionary: one row per clustered-or-excised document.
    fam = clustered.join(excise, "doc_id", "full")
    return _join_dictionary(
        docs,
        fam,
        (
            *_cluster_weight(),
            F.coalesce(F.col("doc_id") == F.col("canon"), F.lit(True)).alias(
                "is_canonical"
            ),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("chars_removed"), F.lit(0)).alias("chars_removed"),
        ),
        spread_partitions=spread_partitions,
        broadcast_dictionary=broadcast_dictionary,
    )
