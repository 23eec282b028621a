"""Corpus-curation operators a 100 TB training-data pipeline needs beyond
dedup/similarity: MERGE-style upsert maintenance, deterministic stratified
sampling, per-source winsorization, shard assignment (the "global shuffle"
of a training corpus), null-safe joins, exact heavy hitters, and Pareto
(skyline) selection.

Scale notes (the reason each query is shaped the way it is):

- **merge upsert** (q045): the daily-maintenance shape. The change batch is
  orders of magnitude smaller than the base, so deletes are a broadcast
  LEFT ANTI and updates a broadcast LEFT OUTER — the base table itself
  NEVER shuffles (a full-outer-join formulation would sort-merge 100 TB).
- **stratified sample** (q153): rank-within-stratum over a portable hash →
  one shuffle on the stratum key. A mega-stratum (one language = 40 % of
  the corpus) makes that window a hot partition; the fix at scale is the
  q084 distributed-prefix-sum shape (hash-bucket within stratum, offsets
  from the per-bucket summary). At driver SF the direct window is right.
- **winsorize** (q164): exact per-group percentiles are a two-phase
  ObjectHashAggregate; the ~|groups| bounds table re-joins as a broadcast,
  so the fact side never shuffles for the clamp pass.
- **corpus shard** (q165): shard = hash % N gives uniform partitions by
  construction; position = row_number PARTITIONED BY shard, so no global
  single-partition sort anywhere (the classic mistake is
  row_number() OVER (ORDER BY hash) — one reducer for the whole corpus).
- **skyline** (q167): dominance is checked per hash-bucket first (local
  skyline), and only the surviving points — O(skyline) ≪ n — enter the
  global pass, so the unpartitioned window touches a tiny set. The naive
  all-pairs NOT EXISTS (which the DuckDB oracle deliberately uses as an
  independent formulation) would be O(n²).

All-native expressions; no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warcraider_spark.functions.textfn import fold_lower, md5_int, md5_int_sql, tokens
from warcraider_spark.functions.textfn import word_count_sql as _word_count_sql
from warcraider_spark.lineage import cut_lineage
from warcraider_spark.registry import query
from warcraider_spark.tables import load_table

# ---------------------------------------------------------------------------
# MERGE-style upsert (SCD1 maintenance batch against a base table)
# ---------------------------------------------------------------------------


@query(
    "q045_merge_upsert",
    oracle="""
WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
upd AS (
  SELECT c_custkey, c_acctbal + 100 AS new_bal
  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 97 <> 0
),
kept AS (
  SELECT c.c_custkey, c.c_name,
         ROUND(COALESCE(u.new_bal, c.c_acctbal), 2) AS acctbal,
         c.c_mktsegment
  FROM customer c
  LEFT JOIN upd u USING (c_custkey)
  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.c_custkey = c.c_custkey)
)
SELECT * FROM kept
UNION ALL
SELECT c_custkey + 100000 AS c_custkey,
       'NEW#' || CAST(c_custkey AS VARCHAR) AS c_name,
       CAST(1000.0 AS DOUBLE) AS acctbal,
       'NEWSEG' AS c_mktsegment
FROM customer WHERE c_custkey <= 40
""",
    tags=("curation", "merge", "join"),
    bench=True,
)
def q045_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (matched-update / matched-delete / not-matched-
    insert) applied as a maintenance batch to the customer base table.

    The change batch is derived deterministically from the base so the
    oracle can rebuild it: keys %97==0 are deletes, keys %10==0 (and not
    deleted) are +100 balance updates, keys <=40 spawn inserts at
    key+100000.

    Scale shape: deletes → broadcast LEFT ANTI join, updates → broadcast
    LEFT OUTER join, inserts → unionAll. The base relation never shuffles;
    a full-outer MERGE formulation would sort-merge the whole base.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    ck = F.col("c_custkey")
    dels = cust.filter(ck % 97 == 0).select("c_custkey")
    upd = cust.filter((ck % 10 == 0) & (ck % 97 != 0)).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("new_bal")
    )
    ins = cust.filter(ck <= 40).select(
        (ck + 100000).alias("c_custkey"),
        F.concat(F.lit("NEW#"), ck.cast("string")).alias("c_name"),
        F.lit(1000.0).alias("acctbal"),
        F.lit("NEWSEG").alias("c_mktsegment"),
    )
    merged = (
        cust.join(F.broadcast(dels), "c_custkey", "left_anti")
        .join(F.broadcast(upd), "c_custkey", "left")
        .select(
            "c_custkey",
            "c_name",
            F.round(F.coalesce("new_bal", "c_acctbal"), 2).alias("acctbal"),
            "c_mktsegment",
        )
    )
    return merged.unionAll(ins)


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------


@query(
    "q153_stratified_sample",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {md5_int_sql("CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang, rk FROM ranked WHERE rk <= CAST(CEIL(n * 0.2) AS BIGINT)
""",
    tags=("curation", "sampling", "window"),
)
def q153_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 20 % stratified sample per language: rank docs inside each
    stratum by a portable md5-derived hash (reproducible across engines and
    runs — .sample() is not) and keep rk <= ceil(0.2 * |stratum|).

    One shuffle, on the stratum key. For a mega-stratum the window becomes
    a hot partition; the scale-out fix is the q084 distributed-prefix-sum
    shape (hash-bucket within stratum, per-bucket offsets). At driver SF
    the direct window is the right plan.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = md5_int(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    wc = Window.partitionBy("lang")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .filter(F.col("rk") <= F.ceil(F.col("n") * 0.2).cast("bigint"))
        .select("doc_id", "lang", "rk")
    )


# ---------------------------------------------------------------------------
# Per-source winsorization (outlier clamping at exact p05/p95)
# ---------------------------------------------------------------------------


@query(
    "q164_winsorize",
    oracle="""
WITH bounds AS (
  SELECT source,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY source
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.n_chars < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN d.n_chars > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       ROUND(b.lo, 2) AS lo,
       ROUND(b.hi, 2) AS hi,
       ROUND(AVG(LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi)), 2) AS avg_winsorized
FROM documents d JOIN bounds b USING (source)
GROUP BY d.source, b.lo, b.hi
ORDER BY d.source
""",
    tags=("curation", "percentile", "aggregate"),
)
def q164_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize document lengths per source at exact p05/p95: clamp
    outliers to the percentile bounds and report clip counts + the
    winsorized mean.

    Exact ``percentile`` (not approx) so the oracle hash is meaningful —
    both engines linearly interpolate at q*(n-1). The ~|sources| bounds
    table re-joins WITHOUT a forced broadcast: 'source' cardinality is a
    property of the catalog, not a constant, so the join is left to AQE —
    broadcast while the bounds table is small, shuffle on the source key
    (which the percentile groupBy already produced) when it isn't.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    bounds = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, array(0.05, 0.95))").alias("p")
    ).select("source", F.col("p")[0].alias("lo"), F.col("p")[1].alias("hi"))
    clamped = F.least(F.greatest(F.col("n_chars").cast("double"), F.col("lo")), F.col("hi"))
    return (
        docs.join(bounds, "source")
        .groupBy("source", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_chars") < F.col("lo"), 1).otherwise(0)).alias("n_low"),
            F.sum(F.when(F.col("n_chars") > F.col("hi"), 1).otherwise(0)).alias("n_high"),
            F.round(F.avg(clamped), 2).alias("avg_winsorized"),
        )
        .select(
            "source",
            "n_docs",
            "n_low",
            "n_high",
            F.round("lo", 2).alias("lo"),
            F.round("hi", 2).alias("hi"),
            "avg_winsorized",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus shard assignment (the "global shuffle" of training data)
# ---------------------------------------------------------------------------

N_SHARDS = 8


@query(
    "q165_corpus_shard",
    oracle=f"""
WITH hashed AS (
  SELECT doc_id, {md5_int_sql("CAST(doc_id AS VARCHAR)")} AS h FROM documents
)
SELECT doc_id,
       h % {N_SHARDS} AS shard,
       row_number() OVER (PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id) AS pos
FROM hashed
""",
    tags=("curation", "shuffle", "window"),
)
def q165_corpus_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + shard assignment: every doc lands in
    shard = hash % N with a reproducible position inside its shard — the
    write-side layout step before training-data export.

    The hash is uniform, so shards are balanced by construction, and the
    position window is PARTITIONED BY shard — never the single-reducer
    ``row_number() OVER (ORDER BY hash)`` global sort. At 100 TB each
    shard's window runs on its own executor subset.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = md5_int(F.col("doc_id").cast("string"))
    df = docs.select("doc_id", h.alias("h"), F.pmod(h, F.lit(N_SHARDS)).alias("shard"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return df.withColumn("pos", F.row_number().over(w)).select("doc_id", "shard", "pos")


# ---------------------------------------------------------------------------
# Null-safe equality join
# ---------------------------------------------------------------------------


@query(
    "q166_nullsafe_join",
    oracle="""
WITH a AS (
  SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
  FROM customer WHERE c_custkey <= 200
),
b AS (
  SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
  FROM customer WHERE c_custkey BETWEEN 100 AND 300
)
SELECT COALESCE(CAST(a.nk AS VARCHAR), 'NULL') AS nk_s,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM a JOIN b ON a.nk IS NOT DISTINCT FROM b.nk
GROUP BY 1
""",
    tags=("curation", "join", "null"),
)
def q166_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics MERGE/dedup
    pipelines need when the join key is nullable.

    ``eqNullSafe`` stays a hash-partitionable equi condition (NULL hashes
    like any other key value), so this remains a shuffle/broadcast hash
    join — not the nested-loop a general ``a.nk = b.nk OR (a.nk IS NULL
    AND b.nk IS NULL)`` predicate would force.
    """
    cust = load_table(spark, sf_dir, "customer")
    nk = F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(F.col("c_nationkey"))
    a = cust.filter(F.col("c_custkey") <= 200).select(nk.alias("nk_a"))
    b = cust.filter(F.col("c_custkey").between(100, 300)).select(nk.alias("nk_b"))
    return (
        a.join(b, F.col("nk_a").eqNullSafe(F.col("nk_b")))
        .groupBy(F.coalesce(F.col("nk_a").cast("string"), F.lit("NULL")).alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters (frequency-threshold tokens)
# ---------------------------------------------------------------------------


@query(
    "q016_heavy_hitters",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), ' '), '[\\s\\v]+')) AS token FROM documents
),
c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
SELECT token, cnt, ROUND(cnt / CAST(total AS DOUBLE), 6) AS share
FROM c, t
WHERE cnt >= 0.005 * total
""",
    tags=("curation", "aggregate", "text"),
)
def q016_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: tokens whose corpus frequency is ≥ 0.5 % of all
    tokens, with their share. The stoplist-discovery step of a curation
    pipeline (the sketch-based approximate twin is the q051/q107 surface).

    Two-phase token count (map-side partial agg on the token key), then the
    1-row total broadcast back over the ~|vocab| counts — no second
    full-data pass and no driver collect.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(fold_lower(F.col("text")))
    counts = (
        docs.select(F.explode(tok).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("total"))
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("cnt") >= 0.005 * F.col("total"))
        .select("token", "cnt", F.round(F.col("cnt") / F.col("total").cast("double"), 6).alias("share"))
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto-optimal) document selection
# ---------------------------------------------------------------------------


def _skyline_pass(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """One skyline pass over points (x, y): keep rows not dominated within
    their partition. Dominated ⇔ ∃ point with x'≥x, y'≥y and one strict.

    Implemented with two windows, no self-join: ``by`` = best y among
    strictly-larger x (desc range frame), ``my`` = best y at the same x.
    A row survives iff y > by (or no larger x exists) and y == my.
    Duplicate (x, y) points don't dominate each other — both survive.
    """
    w_higher = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("x").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy(*partition_cols, "x")
    return (
        df.withColumn("by", F.max("y").over(w_higher))
        .withColumn("my", F.max("y").over(w_same))
        .filter((F.col("by").isNull() | (F.col("y") > F.col("by"))) & (F.col("y") == F.col("my")))
        .drop("by", "my")
    )


@query(
    "q167_skyline_docs",
    oracle="""
WITH pts AS (
  SELECT doc_id, n_chars AS x,
         CAST(len(list_distinct(string_split_regex(trim(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), ' '), '[\\s\\v]+'))) AS BIGINT) AS y
  FROM documents
)
SELECT doc_id, x, y FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y)
)
""",
    tags=("curation", "skyline", "window"),
)
def q167_skyline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of documents over (length, vocabulary
    richness): docs where no other doc is ≥ on both axes and > on one —
    the multi-criteria "keep the best exemplars" selection step.

    Two-phase: a local skyline per hash-bucket (window partitioned by
    bucket — fully parallel, prunes all interior points), then the global
    skyline over the few survivors. Dominance filtering is monotone, so
    local-then-global is exact. The DuckDB oracle deliberately uses the
    independent O(n²) NOT-EXISTS formulation as cross-validation.
    """
    docs = load_table(spark, sf_dir, "documents")
    y = F.size(F.array_distinct(tokens(fold_lower(F.col("text"))))).cast("bigint")
    pts = docs.select(
        "doc_id",
        F.col("n_chars").alias("x"),
        y.alias("y"),
        F.pmod(md5_int(F.col("doc_id").cast("string")), F.lit(32)).alias("bucket"),
    )
    local = _skyline_pass(pts, ["bucket"])
    return _skyline_pass(local.drop("bucket"), []).select("doc_id", "x", "y")


# ---------------------------------------------------------------------------
# Concat-then-chunk training blocks (GPT-style packing across doc boundaries)
# ---------------------------------------------------------------------------

BLOCK_TOKENS = 512
CHUNK_BUCKET = 100  # docs per prefix-sum bucket (monotone in doc_id)


@query(
    "q108_concat_chunk_blocks",
    oracle=f"""
WITH wcs AS (
  SELECT doc_id, len(string_split_regex(trim(text, ' '), '[\\s\\v]+')) AS wc FROM documents
),
cum AS (
  SELECT doc_id, wc,
         CAST(SUM(wc) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - wc AS BIGINT) AS start
  FROM wcs WHERE wc > 0
),
blocks AS (
  SELECT b AS block_id, doc_id,
         LEAST(start + wc, (b + 1) * {BLOCK_TOKENS})
           - GREATEST(start, b * {BLOCK_TOKENS}) AS overlap
  FROM cum, LATERAL (
    SELECT unnest(generate_series(start // {BLOCK_TOKENS},
                                  (start + wc - 1) // {BLOCK_TOKENS})) AS b
  )
)
SELECT block_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       CAST(SUM(overlap) AS BIGINT) AS n_tokens
FROM blocks GROUP BY block_id
""",
    tags=("curation", "packing", "prefix-sum"),
)
def q108_concat_chunk_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk: documents are conceptually concatenated
    in doc_id order and sliced into fixed 512-token training blocks that
    CROSS document boundaries (the complement of q125's pack-without-
    splitting). Emits per-block accounting: docs spanned, first/last doc,
    tokens (== 512 for every interior block).

    The global token offset of each doc is a distributed prefix-sum (the
    q084 shape): per-bucket totals → bucket offsets via a window over the
    ~|buckets| summary only → within-bucket cumsum PARTITIONED BY bucket.
    No unpartitioned window ever touches the corpus. Doc→block assignment
    explodes each doc into only the blocks it overlaps (interval→bin, the
    q092 pattern), then one groupBy on the uniform block key.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wcs = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("wc"),
        (F.col("doc_id") / CHUNK_BUCKET).cast("bigint").alias("bucket"),
    ).filter(F.col("wc") > 0)
    btot = wcs.groupBy("bucket").agg(F.sum("wc").alias("btot"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.withColumn("boff", F.coalesce(F.sum("btot").over(w_off), F.lit(0)))
    w_in = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        wcs.join(F.broadcast(offsets.select("bucket", "boff")), "bucket")
        .withColumn("start", F.col("boff") + F.sum("wc").over(w_in) - F.col("wc"))
    )
    B = BLOCK_TOKENS
    blocks = cum.select(
        "doc_id",
        "wc",
        "start",
        F.explode(
            F.sequence(F.expr(f"start div {B}"), F.expr(f"(start + wc - 1) div {B}"))
        ).alias("block_id"),
    ).select(
        "block_id",
        "doc_id",
        (
            F.least(F.col("start") + F.col("wc"), (F.col("block_id") + 1) * B)
            - F.greatest(F.col("start"), F.col("block_id") * B)
        ).alias("overlap"),
    )
    return blocks.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum("overlap").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Distributed supervised training: integer-exact batch perceptron
# ---------------------------------------------------------------------------

PCT_ROUNDS = 3
_PCT_FEATS = 4  # bias, n_tokens, n_distinct, n_chars/10


def _pct_feature_sql() -> str:
    return """
  SELECT CASE WHEN lang IN ('en', 'fr') THEN 1 ELSE -1 END AS y,
         CAST(1 AS BIGINT) AS x0,
         CAST(len(string_split_regex(trim(text, ' '), '[\\s\\v]+')) AS BIGINT) AS x1,
         CAST(len(list_distinct(string_split_regex(trim(text, ' '), '[\\s\\v]+'))) AS BIGINT) AS x2,
         n_chars // 10 AS x3
  FROM documents
"""


def _pct_oracle() -> str:
    margin = lambda r: f"y * ({r}.w0*x0 + {r}.w1*x1 + {r}.w2*x2 + {r}.w3*x3)"
    # round 1: w = 0 → every margin is 0 → the whole set is misclassified
    r1 = ", ".join(f"CAST(SUM(y * x{i}) AS BIGINT) AS w{i}" for i in range(_PCT_FEATS))
    rounds = [f"r1 AS (SELECT {r1} FROM f)"]
    for t in range(2, PCT_ROUNDS + 1):
        prev = f"r{t-1}"
        cols = ", ".join(
            f"CAST(MAX({prev}.w{i}) + COALESCE(SUM(CASE WHEN {margin(prev)} <= 0 "
            f"THEN y * x{i} END), 0) AS BIGINT) AS w{i}"
            for i in range(_PCT_FEATS)
        )
        rounds.append(f"r{t} AS (SELECT {cols} FROM f, {prev})")
    last = f"r{PCT_ROUNDS}"
    final_cols = ", ".join(f"MAX({last}.w{i}) AS w{i}" for i in range(_PCT_FEATS))
    return f"""
WITH f AS ({_pct_feature_sql()}),
{", ".join(rounds)}
SELECT {final_cols},
       CAST(SUM(CASE WHEN {margin(last)} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM f, {last}
"""


@query(
    "q172_perceptron_train",
    oracle=_pct_oracle(),
    tags=("curation", "ml", "training"),
)
def q172_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed supervised training: 3 rounds of BATCH perceptron over
    integer document features (bias, token count, distinct tokens,
    n_chars/10) with labels from the language rule. The batch gradient
    Σ_misclassified y·x is an ORDER-FREE integer sum, so — like the q046
    integer k-means — every round is exactly reproducible and the final
    weights hash-match a DuckDB unrolled-CTE replay of the same algebra
    (float SGD could never cross-engine-compare: update order changes the
    trajectory).

    Scale shape — the canonical data-parallel training step: the weight
    vector is a 1-row broadcast, the gradient a map-side partial agg
    (one shuffle row per partition per round), the feature table
    localCheckpoint'ed once and re-scanned per round. Driver never sees
    data — loop state stays in DataFrames.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    feats = docs.select(
        F.when(F.col("lang").isin("en", "fr"), 1).otherwise(-1).alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.size(tok).cast("long").alias("x1"),
        F.size(F.array_distinct(tok)).cast("long").alias("x2"),
        F.expr("n_chars div 10").alias("x3"),
    ).transform(cut_lineage)

    margin = F.col("y") * sum(
        F.col(f"w{i}") * F.col(f"x{i}") for i in range(_PCT_FEATS)
    )
    wdf = spark.createDataFrame([(0, 0, 0, 0)], "w0 long, w1 long, w2 long, w3 long")
    for _ in range(PCT_ROUNDS):
        joined = feats.crossJoin(F.broadcast(wdf))
        wdf = joined.agg(
            *[
                (
                    F.max(f"w{i}")
                    + F.coalesce(
                        F.sum(F.when(margin <= 0, F.col("y") * F.col(f"x{i}"))),
                        F.lit(0),
                    )
                ).alias(f"w{i}")
                for i in range(_PCT_FEATS)
            ]
        ).transform(cut_lineage)
    return feats.crossJoin(F.broadcast(wdf)).agg(
        *[F.max(f"w{i}").alias(f"w{i}") for i in range(_PCT_FEATS)],
        F.sum(F.when(margin > 0, 1).otherwise(0)).alias("n_correct"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Train/test split hygiene + corpus snapshot diff (round 4)
# ---------------------------------------------------------------------------

SPLIT_TEST_MOD = 10  # naive doc-hash split: ~10% test


@query(
    "q038_split_leakage",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 60
),
fps AS (
  SELECT doc_id,
         md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp,
         {md5_int_sql("CAST(doc_id AS VARCHAR)")} % {SPLIT_TEST_MOD} = 0 AS is_test
  FROM corpus
),
naive AS (
  SELECT fp,
         SUM(CASE WHEN is_test THEN 0 ELSE 1 END) AS n_train,
         SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS n_test,
         MIN(doc_id) AS grp
  FROM fps GROUP BY fp
),
grouped AS (
  SELECT f.doc_id,
         {md5_int_sql("CAST(n.grp AS VARCHAR)")} % {SPLIT_TEST_MOD} = 0 AS is_test,
         f.fp
  FROM fps f JOIN naive n USING (fp)
),
g2 AS (
  SELECT fp,
         SUM(CASE WHEN is_test THEN 0 ELSE 1 END) AS n_train,
         SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS n_test
  FROM grouped GROUP BY fp
)
SELECT CAST((SELECT COUNT(*) FROM naive) AS BIGINT) AS n_groups,
       CAST((SELECT COUNT(*) FROM naive WHERE n_train > 0 AND n_test > 0) AS BIGINT) AS naive_leaky_groups,
       CAST((SELECT COALESCE(SUM(n_train + n_test), 0) FROM naive WHERE n_train > 0 AND n_test > 0) AS BIGINT) AS naive_leaky_docs,
       CAST((SELECT COUNT(*) FROM g2 WHERE n_train > 0 AND n_test > 0) AS BIGINT) AS grouped_leaky_groups,
       CAST((SELECT SUM(CASE WHEN is_test THEN 1 ELSE 0 END) FROM grouped) AS BIGINT) AS grouped_test_docs
""",
    tags=("curation", "dedup", "training-pipeline"),
    min_rows=1,
)
def q038_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit + group-aware split — the hygiene step a
    benchmark-quality corpus requires: a naive per-document hash split
    puts exact duplicates on both sides (the eval set then scores
    memorization), while splitting by the duplicate GROUP's canonical id
    structurally eliminates leakage.

    The corpus is documents + the exact-dup block (q190's construction),
    so naive leakage provably exists; the output certifies (a) how many
    fingerprint groups and docs leak under the per-doc split and (b)
    that the group-keyed split has ZERO leaky groups — a property the
    oracle replays, not asserts.

    Scale shape: one shuffle on the fingerprint to form groups; the
    group-id map joins back on fp (same key, reused partitioning); both
    splits are pure hash expressions. No window, no driver data. The
    final cross-joins are BNLJ over three SINGLE-ROW global aggregates
    (1x1x1 — bounded by construction, exempted in plan_audit)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") < 60).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    fps = corpus.select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(fold_lower("text"), r"\s+", " "))).alias("fp"),
        (md5_int(F.col("doc_id").cast("string")) % SPLIT_TEST_MOD == 0).alias("is_test"),
    )
    naive = fps.groupBy("fp").agg(
        F.sum(F.when(F.col("is_test"), 0).otherwise(1)).alias("n_train"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).alias("n_test"),
        F.min("doc_id").alias("grp"),
    )
    grouped = fps.join(naive.select("fp", "grp"), "fp").select(
        "fp",
        (md5_int(F.col("grp").cast("string")) % SPLIT_TEST_MOD == 0).alias("is_test"),
    )
    g2 = grouped.groupBy("fp").agg(
        F.sum(F.when(F.col("is_test"), 0).otherwise(1)).alias("n_train"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).alias("n_test"),
    )
    leaky = (F.col("n_train") > 0) & (F.col("n_test") > 0)
    a = naive.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(leaky, 1).otherwise(0)).cast("bigint").alias("naive_leaky_groups"),
        F.coalesce(
            F.sum(F.when(leaky, F.col("n_train") + F.col("n_test"))), F.lit(0)
        ).cast("bigint").alias("naive_leaky_docs"),
    )
    b = g2.agg(
        F.sum(F.when(leaky, 1).otherwise(0)).cast("bigint").alias("grouped_leaky_groups")
    )
    c = grouped.agg(
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).cast("bigint").alias("grouped_test_docs")
    )
    return a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))


@query(
    "q028_corpus_snapshot_diff",
    oracle="""
WITH v1 AS (
  SELECT doc_id, md5(trim(regexp_replace(replace(replace(lower(text), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp
  FROM documents
),
v2 AS (
  -- fold_lower twin (ς->σ, i+U+0307->i), NOT bare lower: the Spark side
  -- fingerprints v2 with fold_lower, and JVM lower() is context-
  -- sensitive where utf8proc's is not — bare lower here diverged on
  -- Greek/Turkish docs (r11 extended unicode sweep; ASCII corpora
  -- masked it because the fold is an ASCII no-op)
  SELECT doc_id,
         md5(trim(regexp_replace(replace(replace(lower(CASE WHEN doc_id % 13 = 5 THEN text || ' v2' ELSE text END), 'ς', 'σ'), 'i̇', 'i'),
             '[\\s\\v]+', ' ', 'g'), ' ')) AS fp
  FROM documents WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         md5(trim(regexp_replace(replace(replace(lower(text || ' new'), 'ς', 'σ'), 'i̇', 'i'), '[\\s\\v]+', ' ', 'g'), ' ')) AS fp
  FROM documents WHERE doc_id % 29 = 0
),
j AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.fp <> v2.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(MIN(doc_id) AS BIGINT) AS first_id,
       CAST(MAX(doc_id) AS BIGINT) AS last_id
FROM j GROUP BY status ORDER BY status
""",
    tags=("curation", "versioning", "join"),
    min_rows=4,
)
def q028_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — dataset versioning's core operator: given
    two corpus versions (v2 is v1 with deterministic deletions, edits and
    additions), classify every doc id as added / removed / changed /
    unchanged by comparing content fingerprints across a full outer join
    on the id, and certify per-class counts + id checksums.

    Scale shape: ONE sort-merge full outer join on the uniform doc_id
    key (both sides shuffle once — unavoidable and optimal for a
    full-corpus diff); fingerprints are computed map-side before the
    join so only (id, 32-byte fp) rows shuffle, never text. min_rows=4
    guards that all four classes actually occur."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = lambda c: F.md5(F.trim(F.regexp_replace(fold_lower(c), r"\s+", " ")))  # noqa: E731
    v1 = docs.select("doc_id", fp(F.col("text")).alias("fp"))
    v2 = (
        docs.filter(F.col("doc_id") % 17 != 3)
        .select(
            "doc_id",
            fp(
                F.when(F.col("doc_id") % 13 == 5, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
                    F.col("text")
                )
            ).alias("fp"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 29 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                fp(F.concat(F.col("text"), F.lit(" new"))).alias("fp"),
            )
        )
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("b.fp"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        j.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.min("doc_id").cast("bigint").alias("first_id"),
            F.max("doc_id").cast("bigint").alias("last_id"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Longest-prefix-match routing join (round 4)
# ---------------------------------------------------------------------------

# (prefix, category) rule table — prefixes are unique, lengths 1..6, chosen
# so every category AND the no-match default occur in the driver corpus and
# the longest-wins semantics is exercised (e.g. 'scan' beats 'sc' beats 's').
LPM_RULES = [
    ("s", "cat_s"),
    ("sc", "cat_sc"),
    ("scan", "cat_scan"),
    ("c", "cat_c"),
    ("col", "cat_col"),
    ("w", "cat_w"),
    ("window", "cat_window"),
    ("qu", "cat_qu"),
    ("m", "cat_m"),
    ("merge", "cat_merge"),
]
LPM_MAXLEN = max(len(p) for p, _ in LPM_RULES)

_LPM_VALUES = ", ".join(f"('{p}', '{c}')" for p, c in LPM_RULES)


@query(
    "q031_longest_prefix_route",
    oracle=f"""
WITH rules(prefix, category) AS (VALUES {_LPM_VALUES}),
d AS (
  SELECT doc_id, (string_split_regex(trim(text, ' '), '[\\s\\v]+'))[1] AS ft FROM documents
),
cat AS (
  SELECT doc_id,
         COALESCE((SELECT r.category FROM rules r
                   WHERE starts_with(d.ft, r.prefix)
                   ORDER BY len(r.prefix) DESC LIMIT 1), 'other') AS category
  FROM d
)
SELECT category,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM cat GROUP BY category ORDER BY category
""",
    tags=("curation", "join", "routing"),
    min_rows=8,
)
def q031_longest_prefix_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LONGEST-prefix-match join — the URL-categorization / IP-routing /
    taxonomy-labeling primitive: each document's routing key (first
    token) is matched against a rule table of prefixes and the LONGEST
    matching rule wins; unmatched keys fall through to 'other'.

    Scale shape (the reason this isn't a LIKE-join): a prefix-predicate
    theta-join is a cartesian at scale, so the key is expanded into its
    ≤ LPM_MAXLEN prefixes map-side (bounded ×6 fan-out of tiny strings)
    and EQUI-joined against the broadcast rule table; longest-wins is a
    max over struct(prefix_len, category) in the same doc_id groupBy —
    ties impossible since a key has exactly one prefix per length and
    rule prefixes are unique. One doc-keyed shuffle total; the rule
    table (real deployments: ~1e5 URL patterns) stays broadcast. The
    oracle replays the semantics as the naive correlated scalar
    subquery — an independent O(n·rules) formulation.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.element_at(tokens(F.col("text")), 1).alias("ft")
    )
    rules = spark.createDataFrame(LPM_RULES, "prefix string, category string")
    pfx = d.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(sequence(1, least(length(ft), {LPM_MAXLEN})), i -> substr(ft, 1, i))")
        ).alias("p"),
    )
    best = (
        pfx.join(F.broadcast(rules), pfx.p == rules.prefix)
        .groupBy("doc_id")
        .agg(F.max(F.struct(F.length("prefix").alias("l"), F.col("category"))).alias("b"))
        .select("doc_id", F.col("b.category").alias("category"))
    )
    return (
        d.join(best, "doc_id", "left")
        .select("doc_id", F.coalesce("category", F.lit("other")).alias("category"))
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("category")
    )


# ---------------------------------------------------------------------------
# Training-mixture construction (round 10): domain water-filling, DSIR-style
# importance selection, per-domain quality percentile gates
# ---------------------------------------------------------------------------

MIX_BUDGET_NUM, MIX_BUDGET_DEN = 6, 10  # global token budget = 60% of corpus
# DuckDB twin of textfn.word_count — the Spark side calls word_count(),
# which is UNICODE split_whitespace as of r11, so the oracle must be too
WORD_COUNT_SQL = _word_count_sql("text")


@query(
    "q009_domain_mixture_weights",
    oracle=f"""
WITH dom AS (
  SELECT source, CAST(SUM({WORD_COUNT_SQL}) AS BIGINT) AS toks
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS t, COUNT(*) AS n FROM dom),
pos AS (
  SELECT source, toks,
         ROW_NUMBER() OVER (ORDER BY toks, source) AS i,
         CAST(SUM(toks) OVER (ORDER BY toks, source) AS BIGINT) AS p,
         (SELECT t FROM tot) * {MIX_BUDGET_NUM} // {MIX_BUDGET_DEN} AS b,
         (SELECT n FROM tot) AS n
  FROM dom
),
lev AS (SELECT *, (b - (p - toks)) // (n - i + 1) AS level FROM pos),
cut AS (
  SELECT MIN(CASE WHEN toks >= level THEN {{'i': i, 'level': level}} END) AS c
  FROM lev
)
SELECT source,
       toks AS domain_tokens,
       CAST(CASE WHEN c IS NOT NULL AND i >= c.i THEN c.level ELSE toks END
            AS BIGINT) AS alloc_tokens,
       (c IS NOT NULL AND i >= c.i) AS capped
FROM lev CROSS JOIN cut
ORDER BY source
""",
    tags=("curation", "mixture", "training-pipeline"),
    min_rows=1,
)
def q009_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture construction by integer water-filling: allocate a
    global token budget (60% of the corpus) across source domains so
    every domain keeps all its tokens up to a common level L, where L is
    the largest integer with sum(min(T_d, L)) <= budget — the classic
    water-filling allocation a mixture builder uses to cap dominant
    domains without starving small ones (the same shape as DoReMi-style
    domain reweighting with a uniform target).

    Closed-form, no iteration: domains sorted ascending by token count
    with prefix sums; position i's candidate level is the remaining
    budget split over the remaining domains, and the cut is the FIRST
    position whose domain reaches its candidate level — everything from
    the cut is capped at the cut's level, everything before keeps its
    tokens. Integer-exact on both engines (div / //; DuckDB HUGEINT
    sums cast back).

    Plan: one shuffle for the per-domain rollup (map-side partial sums
    of the native word_count — the corpus pass), then every window/join
    below runs on the ~|domains|-row aggregate: the unpartitioned
    ROW_NUMBER/prefix-sum windows and the 1-row cut aggregate broadcast
    back (BNLJ of a single row) never touch the fact table — the
    q031/q084 bucket-summary idiom, KNOWN_OK-listed. At 100 TB the
    domain count is thousands at most; the corpus contributes exactly
    one partial-aggregated scan."""
    from warcraider_spark.functions.textfn import word_count

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    dom = docs.groupBy("source").agg(
        F.sum(word_count("text")).cast("bigint").alias("toks")
    )
    n_and_t = dom.agg(
        F.sum("toks").cast("bigint").alias("t"), F.count(F.lit(1)).alias("n")
    )
    w_ord = Window.orderBy(F.asc("toks"), F.asc("source"))
    pos = (
        dom.join(F.broadcast(n_and_t))
        .withColumn("i", F.row_number().over(w_ord))
        .withColumn("p", F.sum("toks").over(w_ord).cast("bigint"))
        .withColumn("b", F.expr(f"t * {MIX_BUDGET_NUM} div {MIX_BUDGET_DEN}"))
    )
    lev = pos.withColumn("level", F.expr("(b - (p - toks)) div (n - i + 1)"))
    cut = lev.agg(
        F.min(
            F.when(F.col("toks") >= F.col("level"), F.struct("i", "level"))
        ).alias("c")
    )
    out = lev.join(F.broadcast(cut)).select(
        "source",
        F.col("toks").alias("domain_tokens"),
        F.when(
            F.col("c").isNotNull() & (F.col("i") >= F.col("c.i")), F.col("c.level")
        )
        .otherwise(F.col("toks"))
        .cast("bigint")
        .alias("alloc_tokens"),
        (F.col("c").isNotNull() & (F.col("i") >= F.col("c.i"))).alias("capped"),
    )
    return out.orderBy("source")


DSIR_TOPK = 50
DSIR_SCALE = 10_000  # per-token likelihood ratios in basis points
DSIR_BUCKETS = 4096  # hashed feature space (the paper's construction)
# hoisted out of the oracle f-string (backslashes are illegal inside
# f-string expressions): portable md5 bucket id of each whitespace token
_DSIR_TOK_SQL = (
    md5_int_sql("unnest(string_split_regex(trim(text, ' '), '[\\s\\v]+'))")
    + f" % {DSIR_BUCKETS}"
)


@query(
    "q010_dsir_select",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DSIR_TOK_SQL} AS b
  FROM documents WHERE len(trim(text, ' ')) > 0
),
counts AS (
  SELECT b,
         CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 0) AS BIGINT) AS tc,
         CAST(COUNT(*) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT) AS rc
  FROM tok GROUP BY b
),
ratio AS (
  SELECT b, (tc + 1) * {DSIR_SCALE} // (rc + 1) AS r_bp FROM counts
),
scores AS (
  SELECT tok.doc_id, CAST(SUM(ratio.r_bp) AS BIGINT) AS score
  FROM tok JOIN ratio USING (b)
  WHERE tok.doc_id % 10 <> 0
  GROUP BY tok.doc_id
),
ranked AS (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM scores
)
SELECT doc_id, score, CAST(rnk AS INT) AS rnk FROM ranked
WHERE rnk <= {DSIR_TOPK} ORDER BY rnk
""",
    tags=("curation", "selection", "training-pipeline"),
    min_rows=1,
)
def q010_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public paper): score
    raw documents by how target-like their token distribution is and keep
    the top-k. The target sample is the doc_id%10==0 slice (a stand-in
    for a curated seed set); tokens are HASHED into a fixed
    4096-bucket feature space — the paper's own construction, and what
    makes the plan scale-safe: the likelihood-ratio table is bounded by
    the bucket count BY CONSTRUCTION, never by corpus vocabulary, so
    its broadcast is a few KB at any corpus size (the KNOWN_OK
    justification for the broadcast-of-aggregate flag). Each token
    occurrence contributes its bucket's add-one-smoothed target/raw
    frequency ratio in integer basis points. Deliberate exactness
    trade, stated plainly: the paper sums LOG ratios; this sums the
    ratios themselves, which favors target-likeness the same way but
    can rank borderline documents differently — in exchange the score
    is integer-exact on both engines (portable md5-derived bucket ids,
    no float logs to drift cross-engine).

    Plan: one explode + one shuffle builds per-bucket target/raw counts
    (map-side partial, conditional sums in a single pass — never two
    corpus scans); the bounded ratio table broadcasts onto the token
    stream; per-doc scores shuffle once on doc_id; the global top-k is
    TakeOrderedAndProject (never a full sort), and the final rank
    window orders only the surviving 50 rows."""
    from warcraider_spark.functions.textfn import md5_int, tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .select("doc_id", (md5_int(F.col("term")) % DSIR_BUCKETS).alias("b"))
    )
    is_target = F.col("doc_id") % 10 == 0
    counts = tok.groupBy("b").agg(
        F.sum(F.when(is_target, 1).otherwise(0)).cast("bigint").alias("tc"),
        F.sum(F.when(~is_target, 1).otherwise(0)).cast("bigint").alias("rc"),
    )
    ratio = counts.select(
        "b", F.expr(f"(tc + 1) * {DSIR_SCALE} div (rc + 1)").alias("r_bp")
    )
    scores = (
        tok.filter(~is_target)
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.sum("r_bp").cast("bigint").alias("score"))
    )
    return (
        scores.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(DSIR_TOPK)
        .select(
            "doc_id",
            "score",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .cast("int")
            .alias("rnk"),
        )
        .orderBy("rnk")
    )


QSEL_NUM, QSEL_DEN = 3, 10  # keep the top 30% of each domain by quality


@query(
    "q011_domain_quality_select",
    oracle=f"""
WITH q AS (
  SELECT doc_id, source,
         CAST(len(list_distinct(string_split_regex(trim(text, ' '), '[\\s\\v]+')))
              * 10000 // len(string_split_regex(trim(text, ' '), '[\\s\\v]+'))
              AS BIGINT) AS ttr_bp
  FROM documents WHERE len(trim(text, ' ')) > 0
),
ranked AS (
  SELECT doc_id, source, ttr_bp,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY ttr_bp DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM q
)
SELECT doc_id, source, ttr_bp, CAST(rk AS INT) AS rk FROM ranked
WHERE rk * {QSEL_DEN} <= n * {QSEL_NUM} + {QSEL_DEN} - 1
ORDER BY source, rk
""",
    tags=("curation", "quality", "window", "training-pipeline"),
    min_rows=1,
)
def q011_domain_quality_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality gate: score every document by its type-token
    ratio (distinct tokens per token, basis points — the cheap lexical-
    diversity signal) and keep the top ceil(30%) of EACH source domain —
    the FineWeb-style practice of filtering within a dump/domain rather
    than globally, so a boilerplate-heavy domain cannot crowd out the
    whole budget and a clean domain is not over-pruned.

    Integer-exact: the ttr is basis-points via div, and the 30% cut is
    the pure-integer ceiling rk*10 <= 3n + 9 — no float percent_rank to
    drift cross-engine. Plan: map-side score (no shuffle — distinct
    counts come from the token array per row), then ONE shuffle on the
    domain key for the ranking window; partitioned by source, so at
    100 TB each domain ranks independently — the q153 stratified-sample
    shape with a computed ordering key."""
    from warcraider_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = tokens("text")
    q = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            "source",
            (F.size(F.array_distinct(toks)) * 10000).alias("dt4"),
            F.size(toks).alias("nt"),
        )
        # integer division (div, not /): DuckDB's // is integer and a
        # float quotient here would hash-diverge on ties
        .select(
            "doc_id", "source", F.expr("dt4 div nt").cast("bigint").alias("ttr_bp")
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("ttr_bp"), F.asc("doc_id"))
    wc = Window.partitionBy("source")
    return (
        q.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .filter(F.col("rk") * QSEL_DEN <= F.col("n") * QSEL_NUM + QSEL_DEN - 1)
        .select("doc_id", "source", "ttr_bp", F.col("rk").cast("int").alias("rk"))
        .orderBy("source", "rk")
    )


@query(
    "q008_mixture_apply_select",
    oracle=f"""
WITH wc AS (
  SELECT doc_id, source, CAST({WORD_COUNT_SQL} AS BIGINT) AS toks
  FROM documents
),
dom AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS dtoks FROM wc GROUP BY source),
tot AS (SELECT CAST(SUM(dtoks) AS BIGINT) AS t, COUNT(*) AS n FROM dom),
pos AS (
  SELECT source, dtoks,
         ROW_NUMBER() OVER (ORDER BY dtoks, source) AS i,
         CAST(SUM(dtoks) OVER (ORDER BY dtoks, source) AS BIGINT) AS p,
         (SELECT t FROM tot) * {MIX_BUDGET_NUM} // {MIX_BUDGET_DEN} AS b,
         (SELECT n FROM tot) AS n
  FROM dom
),
lev AS (SELECT *, (b - (p - dtoks)) // (n - i + 1) AS level FROM pos),
cut AS (
  SELECT MIN(CASE WHEN dtoks >= level THEN {{'i': i, 'level': level}} END) AS c
  FROM lev
),
alloc AS (
  SELECT source,
         CAST(CASE WHEN c IS NOT NULL AND i >= c.i THEN c.level ELSE dtoks END
              AS BIGINT) AS alloc_tokens
  FROM lev CROSS JOIN cut
),
ranked AS (
  SELECT wc.doc_id, wc.source, wc.toks,
         CAST(SUM(wc.toks) OVER (
           PARTITION BY wc.source
           ORDER BY {md5_int_sql("CAST(wc.doc_id AS VARCHAR)")}, wc.doc_id
         ) AS BIGINT) AS cum
  FROM wc
)
SELECT r.doc_id, r.source, r.toks, r.cum
FROM ranked r JOIN alloc a USING (source)
WHERE r.cum <= a.alloc_tokens
ORDER BY r.source, r.cum, r.doc_id
""",
    tags=("curation", "mixture", "selection", "training-pipeline"),
    min_rows=1,
)
def q008_mixture_apply_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the q009 water-fill allocation: select the actual documents
    that fill each domain's token budget. Documents are consumed in
    portable-hash order (reproducible across engines and runs — the
    q153 idiom) with a per-domain running token sum, keeping every
    document whose cumulative count fits the domain's allocation — the
    greedy budget fill a mixture executor performs after the planner
    (q009) decides the per-domain shares. Recomputes the closed-form
    allocation inline (same math, certified independently by q009) so
    the operator is self-contained over the raw table.

    Integer-exact throughout. Plan: one corpus pass computes per-doc
    token counts map-side; the per-domain rollup and every water-fill
    step run on the ~|domains|-row aggregate (windows + 1-row broadcast
    cut, the q009 KNOWN_OK shapes); the selection itself is ONE shuffle
    on the domain key for the hash-ordered cumulative-sum window
    (partitioned by source, never global), then a broadcast join of the
    ~|domains|-row allocation table. At 100 TB: the fact table shuffles
    exactly once, on a key with |domains| distinct values — for a
    pathological single mega-domain the q084 bucket-prefix-sum shape is
    the documented escalation, same as q153's."""
    from warcraider_spark.functions.textfn import md5_int, word_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    wc = docs.select(
        "doc_id", "source", word_count("text").cast("bigint").alias("toks")
    )
    dom = wc.groupBy("source").agg(F.sum("toks").cast("bigint").alias("dtoks"))
    n_and_t = dom.agg(
        F.sum("dtoks").cast("bigint").alias("t"), F.count(F.lit(1)).alias("n")
    )
    w_ord = Window.orderBy(F.asc("dtoks"), F.asc("source"))
    lev = (
        dom.join(F.broadcast(n_and_t))
        .withColumn("i", F.row_number().over(w_ord))
        .withColumn("p", F.sum("dtoks").over(w_ord).cast("bigint"))
        .withColumn("b", F.expr(f"t * {MIX_BUDGET_NUM} div {MIX_BUDGET_DEN}"))
        .withColumn("level", F.expr("(b - (p - dtoks)) div (n - i + 1)"))
    )
    cut = lev.agg(
        F.min(
            F.when(F.col("dtoks") >= F.col("level"), F.struct("i", "level"))
        ).alias("c")
    )
    alloc = lev.join(F.broadcast(cut)).select(
        "source",
        F.when(
            F.col("c").isNotNull() & (F.col("i") >= F.col("c.i")), F.col("c.level")
        )
        .otherwise(F.col("dtoks"))
        .cast("bigint")
        .alias("alloc_tokens"),
    )
    cum_w = (
        Window.partitionBy("source")
        .orderBy(md5_int(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = wc.withColumn("cum", F.sum("toks").over(cum_w).cast("bigint"))
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("cum") <= F.col("alloc_tokens"))
        .select("doc_id", "source", "toks", "cum")
        .orderBy("source", "cum", "doc_id")
    )


PACK_CAP = 2048  # context-window length for the packing stage


@query(
    "q187_mixture_pipeline_e2e",
    oracle=f"""
WITH wc AS (
  SELECT doc_id, source, CAST({{WORD_COUNT_SQL}} AS BIGINT) AS toks
  FROM documents
),
q AS (  -- stage 1: per-domain quality gate (q011 semantics), non-target pool
  SELECT doc_id, source,
         CAST(len(list_distinct(string_split_regex(trim(text, ' '), '[\\s\\v]+')))
              * 10000 // len(string_split_regex(trim(text, ' '), '[\\s\\v]+'))
              AS BIGINT) AS ttr_bp
  FROM documents
  WHERE len(trim(text, ' ')) > 0 AND doc_id % 10 <> 0
),
gate AS (
  SELECT doc_id, source FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY ttr_bp DESC, doc_id) AS rk,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM q
  ) WHERE rk * {{QSEL_DEN}} <= n * {{QSEL_NUM}} + {{QSEL_DEN}} - 1
),
g AS (SELECT wc.doc_id, wc.source, wc.toks FROM wc JOIN gate USING (doc_id, source)),
dom AS (  -- stage 2: water-fill the budget over the GATED pool (q009 math)
  SELECT source, CAST(SUM(toks) AS BIGINT) AS dtoks FROM g GROUP BY source
),
tot AS (SELECT CAST(SUM(dtoks) AS BIGINT) AS t, COUNT(*) AS n FROM dom),
pos AS (
  SELECT source, dtoks,
         ROW_NUMBER() OVER (ORDER BY dtoks, source) AS i,
         CAST(SUM(dtoks) OVER (ORDER BY dtoks, source) AS BIGINT) AS p,
         (SELECT t FROM tot) * {{MIX_BUDGET_NUM}} // {{MIX_BUDGET_DEN}} AS b,
         (SELECT n FROM tot) AS n
  FROM dom
),
lev AS (SELECT *, (b - (p - dtoks)) // (n - i + 1) AS level FROM pos),
cut AS (
  SELECT MIN(CASE WHEN dtoks >= level THEN {{{{'i': i, 'level': level}}}} END) AS c
  FROM lev
),
alloc AS (
  SELECT source,
         CAST(CASE WHEN c IS NOT NULL AND i >= c.i THEN c.level ELSE dtoks END
              AS BIGINT) AS alloc_tokens
  FROM lev CROSS JOIN cut
),
tok AS (  -- stage 3: DSIR scores over the gated pool (q010 construction)
  SELECT doc_id, {{_DSIR_TOK_SQL}} AS b
  FROM documents WHERE len(trim(text, ' ')) > 0
),
counts AS (
  SELECT b,
         CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 0) AS BIGINT) AS tc,
         CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM g)) AS BIGINT) AS rc
  FROM tok GROUP BY b
),
ratio AS (SELECT b, (tc + 1) * {{DSIR_SCALE}} // (rc + 1) AS r_bp FROM counts),
scores AS (
  SELECT tok.doc_id, CAST(SUM(ratio.r_bp) AS BIGINT) AS score
  FROM tok JOIN ratio USING (b)
  WHERE tok.doc_id IN (SELECT doc_id FROM g)
  GROUP BY tok.doc_id
),
scored AS (
  SELECT g.doc_id, g.source, g.toks, COALESCE(s.score, 0) AS score
  FROM g LEFT JOIN scores s USING (doc_id)
),
ranked AS (  -- stage 4: greedy per-domain fill in score order (q008 apply)
  SELECT doc_id, source, toks, score,
         CAST(SUM(toks) OVER (
           PARTITION BY source ORDER BY score DESC, doc_id
         ) AS BIGINT) AS cum
  FROM scored
),
sel AS (
  SELECT r.doc_id, r.source, r.toks, r.score, r.cum
  FROM ranked r JOIN alloc a USING (source)
  WHERE r.cum <= a.alloc_tokens
)
SELECT doc_id, source, toks, score, cum,  -- stage 5: q125-style packing
       cum - toks AS start_offset,
       (cum - toks) // {{PACK_CAP}} AS bin_id,
       (toks > 0 AND (cum - toks) // {{PACK_CAP}} <> (cum - 1) // {{PACK_CAP}}) AS straddles
FROM sel
ORDER BY source, cum, doc_id
""".format(
        WORD_COUNT_SQL=WORD_COUNT_SQL,
        QSEL_NUM=QSEL_NUM,
        QSEL_DEN=QSEL_DEN,
        MIX_BUDGET_NUM=MIX_BUDGET_NUM,
        MIX_BUDGET_DEN=MIX_BUDGET_DEN,
        _DSIR_TOK_SQL=_DSIR_TOK_SQL,
        DSIR_SCALE=DSIR_SCALE,
        PACK_CAP=PACK_CAP,
    ),
    tags=("curation", "mixture", "selection", "packing", "training-pipeline"),
    bench=True,
    min_rows=1,
)
def q187_mixture_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-mixture pipeline, declared as ONE lazy plan
    (VERDICT r10 #6): per-domain quality gate (q011's integer ttr top-30%)
    -> integer water-fill of the global token budget over the GATED pool
    (q009's closed form) -> DSIR importance scores over the gated pool
    against the held-out target slice (q010's hashed-bucket construction,
    target docs never selected) -> greedy per-domain budget fill in score
    order (q008's apply, score-ranked instead of hash-ranked) ->
    q125-style sequence packing of the surviving stream. Each stage's
    math is byte-identical to its independently certified sibling; this
    query certifies their COMPOSITION (the interesting failure mode:
    stage coupling, e.g. the budget being computed over the wrong pool
    or the DSIR ratio table drifting when raw counts come from the gated
    subset).

    Tokenizer conventions, deliberately mixed as in the siblings: budget
    counting uses the reference-parity Unicode word_count (q009/q008),
    ttr and DSIR bucketing use the house ASCII tokenizer (q011/q010).

    Scale shape (one lazy plan, audited): corpus passes are map-side
    (word_count, ttr, token explode); shuffles are (a) the source-key
    quality window, (b) the bucket-count groupBy (bounded at 4096 rows
    BY CONSTRUCTION -> broadcast), (c) the per-doc score groupBy, and
    (d) the source-key fill/pack window — every fact-table shuffle is on
    a uniform or domain key; the water-fill windows and the alloc/cut
    broadcasts run on the ~|domains|-row aggregate (q009 KNOWN_OK
    shapes). At 100 TB nothing here is corpus-quadratic and no stage
    materializes off-plan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return mixture_pipeline_plan(docs)


def mixture_pipeline_plan(docs):
    """The q187 composed plan over an arbitrary documents frame.

    The gated pool ``g`` (narrow doc_id/source/toks rows) is NOT
    materialized before its three consumers: the gate's window exchanges
    are identical across consumers and AQE stage reuse already
    deduplicates them at runtime, so a checkpoint only adds
    materialization cost (measured slower, OPTIMIZATION_r15.md §F) — the
    same negative as the winnowing fp cut.
    """
    from warcraider_spark.functions.textfn import md5_int, tokens, word_count

    wc = docs.select(
        "doc_id", "source", word_count("text").cast("bigint").alias("toks")
    )

    # stage 1: quality gate over the non-target pool
    toks_h = tokens("text")
    is_target = F.col("doc_id") % 10 == 0
    q = (
        docs.filter((F.length(F.trim("text")) > 0) & ~is_target)
        .select(
            "doc_id",
            "source",
            (F.size(F.array_distinct(toks_h)) * 10000).alias("dt4"),
            F.size(toks_h).alias("nt"),
        )
        .select("doc_id", "source", F.expr("dt4 div nt").cast("bigint").alias("ttr_bp"))
    )
    w_rk = Window.partitionBy("source").orderBy(F.desc("ttr_bp"), F.asc("doc_id"))
    w_n = Window.partitionBy("source")
    gate = (
        q.withColumn("rk", F.row_number().over(w_rk))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
        .filter(F.col("rk") * QSEL_DEN <= F.col("n") * QSEL_NUM + QSEL_DEN - 1)
        .select("doc_id", "source")
    )
    g = wc.join(gate, ["doc_id", "source"])

    # stage 2: water-fill over the gated pool
    dom = g.groupBy("source").agg(F.sum("toks").cast("bigint").alias("dtoks"))
    n_and_t = dom.agg(
        F.sum("dtoks").cast("bigint").alias("t"), F.count(F.lit(1)).alias("n")
    )
    w_ord = Window.orderBy(F.asc("dtoks"), F.asc("source"))
    lev = (
        dom.join(F.broadcast(n_and_t))
        .withColumn("i", F.row_number().over(w_ord))
        .withColumn("p", F.sum("dtoks").over(w_ord).cast("bigint"))
        .withColumn("b", F.expr(f"t * {MIX_BUDGET_NUM} div {MIX_BUDGET_DEN}"))
        .withColumn("level", F.expr("(b - (p - dtoks)) div (n - i + 1)"))
    )
    cut = lev.agg(
        F.min(F.when(F.col("dtoks") >= F.col("level"), F.struct("i", "level"))).alias("c")
    )
    alloc = lev.join(F.broadcast(cut)).select(
        "source",
        F.when(F.col("c").isNotNull() & (F.col("i") >= F.col("c.i")), F.col("c.level"))
        .otherwise(F.col("dtoks"))
        .cast("bigint")
        .alias("alloc_tokens"),
    )

    # stage 3: DSIR scores for gated docs (target slice = held-out seed)
    tok = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .select("doc_id", (md5_int(F.col("term")) % DSIR_BUCKETS).alias("b"))
    )
    g_ids = g.select("doc_id")
    tok_g = tok.join(g_ids, "doc_id")  # gated pool's token stream
    counts = (
        tok.filter(F.col("doc_id") % 10 == 0)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
        .join(
            tok_g.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("rc")),
            "b",
            "full",
        )
        .select(
            "b",
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("rc", F.lit(0)).alias("rc"),
        )
    )
    ratio = counts.select("b", F.expr(f"(tc + 1) * {DSIR_SCALE} div (rc + 1)").alias("r_bp"))
    scores = (
        tok_g.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.sum("r_bp").cast("bigint").alias("score"))
    )
    scored = g.join(scores, "doc_id", "left").select(
        "doc_id", "source", "toks", F.coalesce("score", F.lit(0)).cast("bigint").alias("score")
    )

    # stage 4 + 5: greedy score-ordered fill, then packing offsets
    cum_w = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.withColumn("cum", F.sum("toks").over(cum_w).cast("bigint"))
    sel = ranked.join(F.broadcast(alloc), "source").filter(
        F.col("cum") <= F.col("alloc_tokens")
    )
    start = F.col("cum") - F.col("toks")
    return (
        sel.select(
            "doc_id",
            "source",
            "toks",
            "score",
            "cum",
            start.alias("start_offset"),
            F.expr(f"(cum - toks) div {PACK_CAP}").cast("bigint").alias("bin_id"),
            (
                (F.col("toks") > 0)
                & (
                    F.expr(f"(cum - toks) div {PACK_CAP}")
                    != F.expr(f"(cum - 1) div {PACK_CAP}")
                )
            ).alias("straddles"),
        )
        .orderBy("source", "cum", "doc_id")
    )
