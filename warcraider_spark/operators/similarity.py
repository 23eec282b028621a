"""Similarity search over ``embeddings`` (BASELINE north-star surface).

Brute-force cosine top-k as the correctness baseline, and a sign-LSH
(random-hyperplane-style) bucketed variant as the scale path. All math is
native Catalyst higher-order functions (zip_with/aggregate) in double
precision — no Python crossing in the hot loop.

Scale design: brute force is O(queries × corpus) — fine when the query set
is broadcast-small (the plan broadcasts the query side, so the corpus is
never shuffled). The bucketed variant prunes the corpus per query to one
bucket, turning the cross join into an equi-join on the bucket key; at
100 TB the bucket key is the shuffle/partition key and each bucket is a
partition-local scan. More buckets (more sign bits / multiple probe
tables) trade recall for cost, same plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from warcraider_spark.lineage import cut_lineage
from warcraider_spark.registry import query
from warcraider_spark.tables import load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
SIGN_BITS = 6
KM_DIMS = 16  # dims used by the k-means / covariance / spectral family


def _vec_double(col: str = "embedding") -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


# DuckDB twins (index-order double math so values are bit-identical)
_SQL_VEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_SQL_NORM = "sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))"
_SQL_DOT_AB = "list_aggregate(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), 'sum')"


@query(
    "q019_cosine_topk_bruteforce",
    oracle=f"""
WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
     -- nrm > 0: a zero vector has no direction, hence no cosine —
     -- excluded on BOTH engines (r8 zero-vector adversarial sweep;
     -- an unguarded corrupted row is an ANSI DIVIDE_BY_ZERO job kill)
     n AS (SELECT * FROM (SELECT vec_id, v, {_SQL_NORM} AS nrm FROM e) WHERE nrm > 0),
     q AS (SELECT * FROM n WHERE vec_id < {N_QUERIES}),
     scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND({_SQL_DOT_AB} / (a.nrm * b.nrm), 6) AS cosine
  FROM q a JOIN n b ON a.vec_id <> b.vec_id
),
     ranked AS (
  SELECT query_id, neighbor_id, cosine + 0.0 AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk
FROM ranked WHERE rnk <= 5
ORDER BY query_id, rnk
""",
    tags=("similarity", "ann", "bruteforce"),
    bench=True,
)
def q019_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector.

    Ranking is on ROUND(cos, 6) with neighbor_id tie-break so the order is
    engine-stable. The query side is broadcast; the corpus scan streams.
    """
    # spread the scan (r14, guide §2.5 input skew): the local single-row-
    # group parquet scans as ONE task, serializing the O(queries × corpus)
    # interpreted dot-product stage on a 32-core machine; measured med
    # 0.86 → 0.67 s at sf0.1. Scale-adaptive count, winnowing precedent.
    em = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    # zero-norm rows excluded: no direction, no cosine (oracle mirror)
    n = (
        em.select("vec_id", _vec_double().alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
        .filter(F.col("nrm") > 0)
    )
    q = n.filter(F.col("vec_id") < N_QUERIES)
    a, b = q.alias("a"), n.alias("b")
    cos = F.round(_dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6)
    scored = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (cos + 0.0).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 5)
        .orderBy("query_id", "rnk")
    )


_SQL_BUCKET = (
    "array_to_string(list_transform(list_slice(v, 1, "
    f"{SIGN_BITS}), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
)


@query(
    "q105_ann_sign_lsh",
    oracle=f"""
WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
     -- nrm > 0: zero vectors carry no cosine (see q019)
     n AS (SELECT * FROM (SELECT vec_id, v, {_SQL_NORM} AS nrm, {_SQL_BUCKET} AS bucket FROM e) WHERE nrm > 0),
     q AS (SELECT * FROM n WHERE vec_id < {N_QUERIES}),
     scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.bucket AS bucket,
         ROUND({_SQL_DOT_AB} / (a.nrm * b.nrm), 6) AS cosine
  FROM q a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
     ranked AS (
  SELECT query_id, neighbor_id, bucket, cosine + 0.0 AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, bucket, cosine, rnk
FROM ranked WHERE rnk <= 3
ORDER BY query_id, rnk
""",
    tags=("similarity", "ann", "lsh"),
)
def q105_ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN: bucket = sign pattern of the first 6 dims (a fixed
    orthogonal-ish hyperplane set); search only within the query's bucket.
    The bucket string is the equi-join key — this is the 100 TB plan shape
    (no cross join anywhere)."""
    em = load_table(spark, sf_dir, "embeddings")
    v = _vec_double()
    n = (
        em.select("vec_id", v.alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
        .filter(F.col("nrm") > 0)  # zero vectors carry no cosine (q019 mirror)
        .withColumn(
            "bucket", F.array_join(
                F.transform(F.slice(F.col("v"), 1, SIGN_BITS), lambda x: F.when(x >= 0, "1").otherwise("0")), ""
            )
        )
    )
    q = n.filter(F.col("vec_id") < N_QUERIES)
    a, b = q.alias("a"), n.alias("b")
    cos = F.round(_dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6)
    scored = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("a.bucket").alias("bucket"),
            (cos + 0.0).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "bucket", "cosine", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    )


@query(
    "q106_label_centroids",
    oracle="""
WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(AVG(v[1]), 6) + 0.0 AS c1,
       ROUND(AVG(v[2]), 6) + 0.0 AS c2,
       ROUND(AVG(v[3]), 6) + 0.0 AS c3,
       ROUND(AVG(v[4]), 6) + 0.0 AS c4
FROM e GROUP BY label ORDER BY label
""",
    tags=("similarity", "centroid", "agg"),
)
def q106_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (first 4 dims shown): the IVF coarse-quantizer
    training step — one groupBy, partial averages map-side."""
    em = load_table(spark, sf_dir, "embeddings")
    v = _vec_double()
    sel = em.select("label", *[F.element_at(v, i + 1).alias(f"d{i}") for i in range(4)])
    return (
        sel.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            *[(F.round(F.avg(f"d{i}"), 6) + 0.0).alias(f"c{i + 1}") for i in range(4)],
        )
        .orderBy("label")
    )


@query(
    "q022_ivf_assign",
    oracle="""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
     cent AS (
  SELECT label AS c_label,
         [ROUND(AVG(v[1]), 6), ROUND(AVG(v[2]), 6), ROUND(AVG(v[3]), 6), ROUND(AVG(v[4]), 6),
          ROUND(AVG(v[5]), 6), ROUND(AVG(v[6]), 6), ROUND(AVG(v[7]), 6), ROUND(AVG(v[8]), 6)] AS c
  FROM e GROUP BY label
),
     d AS (
  SELECT vec_id, label, c_label,
         list_aggregate(list_transform(list_zip(list_slice(v, 1, 8), c), p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS dist
  FROM e CROSS JOIN cent
),
     best AS (
  SELECT vec_id, label, c_label, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rnk
  FROM d
)
SELECT c_label AS assigned, COUNT(*) AS n,
       CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_own_label
FROM best WHERE rnk = 1
GROUP BY c_label ORDER BY c_label
""",
    tags=("similarity", "ivf"),
)
def q022_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment: nearest label-centroid (L2 on first 8 dims) per
    vector; centroid list is broadcast so assignment is a map-side pass."""
    em = load_table(spark, sf_dir, "embeddings")
    v = _vec_double()
    e = em.select("vec_id", "label", F.slice(v, 1, 8).alias("v"))
    # centroids rounded to 6 decimals on BOTH sides so the distance inputs
    # are bit-identical despite parallel-vs-sequential AVG summation order
    cent = e.groupBy(F.col("label").alias("c_label")).agg(
        F.array(*[F.round(F.avg(F.element_at("v", i + 1)), 6) for i in range(8)]).alias("c")
    )
    d = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c_label",
        F.aggregate(
            F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, x: a + x
        ).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("c_label"))
    best = d.select("vec_id", "label", "c_label", F.row_number().over(w).alias("rnk")).filter(F.col("rnk") == 1)
    return (
        best.groupBy(F.col("c_label").alias("assigned"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("c_label") == F.col("label"), 1).otherwise(0)).alias("n_own_label"),
        )
        .orderBy("assigned")
    )


@query(
    "q024_ivf_topk_search",
    oracle="""
WITH e AS (SELECT vec_id, label, list_slice(list_transform(embedding, x -> CAST(x AS DOUBLE)), 1, 8) AS v FROM embeddings),
     cent AS (
  SELECT label AS c_label,
         [ROUND(AVG(v[1]), 6), ROUND(AVG(v[2]), 6), ROUND(AVG(v[3]), 6), ROUND(AVG(v[4]), 6),
          ROUND(AVG(v[5]), 6), ROUND(AVG(v[6]), 6), ROUND(AVG(v[7]), 6), ROUND(AVG(v[8]), 6)] AS c
  FROM e GROUP BY label
),
     cdist AS (
  SELECT vec_id, label, v, c_label,
         list_aggregate(list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
             list_aggregate(list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), c_label) AS rnk
  FROM e CROSS JOIN cent
),
     assign AS (SELECT vec_id, v, c_label AS bucket FROM cdist WHERE rnk = 1),
     probe AS (
  SELECT vec_id AS query_id, v AS qv, c_label AS bucket
  FROM cdist WHERE vec_id % 50 = 0 AND rnk <= 2
),
     cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_aggregate(list_transform(list_zip(p.qv, a.v), q -> (q[1] - q[2]) * (q[1] - q[2])), 'sum'), 6) + 0.0 AS dist
  FROM probe p JOIN assign a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
),
     ranked AS (
  SELECT query_id, neighbor_id, dist,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
  FROM cand
)
SELECT query_id, neighbor_id, dist, rnk
FROM ranked WHERE rnk <= 3
ORDER BY query_id, rnk
""",
    tags=("similarity", "ann", "ivf"),
)
def q024_ivf_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF ANN search: build the inverted index (every vector assigned
    to its nearest label-centroid), then for each query vector probe the
    nprobe=2 nearest buckets and rank ONLY those candidates — the scale
    path where a 100 TB corpus is searched by touching ~nprobe/nlist of
    it. Centroids are broadcast (tiny); the candidate join is an equi-join
    on bucket id, so candidate generation is a shuffle on nlist keys, never
    an n×n cross product. Queries: every 50th vector, self excluded.
    """
    em = load_table(spark, sf_dir, "embeddings")
    e = em.select("vec_id", "label", F.slice(_vec_double(), 1, 8).alias("v"))
    cent = e.groupBy(F.col("label").alias("c_label")).agg(
        F.array(*[F.round(F.avg(F.element_at("v", i + 1)), 6) for i in range(8)]).alias("c")
    )
    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "c_label")
    cdist = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "c_label", l2(F.col("v"), F.col("c")).alias("dist"))
        .withColumn("rnk", F.row_number().over(w))
    )
    assign = cdist.filter(F.col("rnk") == 1).select(
        "vec_id", "v", F.col("c_label").alias("bucket")
    )
    probe = cdist.filter((F.col("vec_id") % 50 == 0) & (F.col("rnk") <= 2)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("c_label").alias("bucket")
    )
    cand = (
        probe.alias("p")
        .join(
            assign.alias("a"),
            (F.col("a.bucket") == F.col("p.bucket")) & (F.col("a.vec_id") != F.col("p.query_id")),
        )
        .select(
            "query_id",
            F.col("a.vec_id").alias("neighbor_id"),
            (F.round(l2(F.col("p.qv"), F.col("a.v")), 6) + 0.0).alias("dist"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        cand.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    )


@query(
    "q026_group_spectral_stats",
    oracle=f"""
WITH m AS (
  SELECT label,
         list_transform(embedding[1:{KM_DIMS}],
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS mv
  FROM embeddings
),
d AS (
  SELECT label, CAST(i AS INT) AS dim, mv[i] AS x
  FROM m CROSS JOIN LATERAL unnest(generate_series(1, {KM_DIMS})) AS g(i)
),
dd AS (
  SELECT label, dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS diag_num
  FROM d GROUP BY label, dim
),
r AS (
  SELECT label, dim, n, diag_num,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY diag_num DESC, dim) AS rk
  FROM dd
),
agg AS (
  SELECT label, MAX(n) AS n, CAST(SUM(diag_num) AS BIGINT) AS trace_num
  FROM dd GROUP BY label
)
SELECT CAST(a.label AS INT) AS label, a.n, a.trace_num,
       r.diag_num AS top_diag_num, r.dim AS top_dim,
       CAST(CASE WHEN a.trace_num = 0 THEN 0
            ELSE CAST(r.diag_num AS HUGEINT) * 10000 // a.trace_num END AS BIGINT) AS aniso_bp
FROM agg a JOIN r ON r.label = a.label AND r.rk = 1
ORDER BY label
""",
    tags=("similarity", "applyInPandas", "spectral"),
)
def q026_group_spectral_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label covariance spectral stats of the embedding space via
    grouped ``applyInPandas`` — the custom-aggregation escape hatch for
    semantics no built-in aggregate expresses (a dims×dims (16×16) eigensolve per
    group). The groupBy shuffles each label's vectors to one task; the
    numpy work is Arrow-batched and per-group-bounded (dims², not rows),
    so a 100 TB corpus with k labels costs one shuffle plus k tiny
    eigensolves. Completes the Pandas-API surface next to pandas_udf
    (parse/rake), mapInPandas (WARC/media) and applyInPandasWithState
    (streaming dedup).

    Oracle-able by design (VERDICT r2 "next round" #3 — was rows-only):
    vectors are quantized to integer micros (q143's convention) and the
    emitted columns are exact integer covariance invariants DuckDB can
    replay: n²·diag numerators (diag_num(i) = n·Σxᵢ² − (Σxᵢ)², ≥0 by
    Cauchy–Schwarz), their trace, the max-variance diagonal (smallest dim
    wins ties), and the anisotropy in integer basis points. The float
    eigensolve still runs on every group — its eigenvalue sum must match
    the integer trace (Σλᵢ = tr(C); checked to 1e-6 relative) or the
    query fails loudly — so the spectral machinery is exercised while the
    hash-checked surface stays integer-exact.

    At 100 TB the n²-scaled numerators would eventually overflow int64
    (n ≳ 1e9 rows/label at micro scale); the scale variant emits
    mean-centered per-partition partials instead — see SCALE.md.
    """
    em = load_table(spark, sf_dir, "embeddings")
    e = em.select(
        "label",
        F.expr(
            f"transform(slice(embedding, 1, {KM_DIMS}),"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
        ).alias("mv"),
    )

    schema = (
        "label int, n bigint, trace_num bigint, top_diag_num bigint,"
        " top_dim int, aniso_bp bigint"
    )

    def spectral(pdf):
        import numpy as _np
        import pandas as _pd

        m = _np.vstack(pdf["mv"].to_numpy()).astype(_np.int64)
        n = m.shape[0]
        s = m.sum(axis=0)  # Σxᵢ  (int64: |x|≤~3.3e5 micros, safe)
        q = (m * m).sum(axis=0)  # Σxᵢ²
        diag = [int(n) * int(q[i]) - int(s[i]) * int(s[i]) for i in range(m.shape[1])]
        trace = sum(diag)
        top_dim = min(range(len(diag)), key=lambda i: (-diag[i], i))
        top = diag[top_dim]
        # the eigensolve the query exists to exercise — consistency-gated.
        # n >= 2 only: np.cov of a single observation collapses to a
        # 0-d array (LinAlgError in eigvalsh — r8 adversarial sweep);
        # a singleton group's covariance is identically zero, which the
        # integer path already reports (diag = n·x² − x·x = 0).
        if n >= 2:
            c = _np.cov(m.astype(_np.float64), rowvar=False, bias=True)
            eig = _np.linalg.eigvalsh(c)  # deterministic: LAPACK, symmetric 16x16
            if trace > 0 and abs(float(eig.sum()) * n * n - trace) > 1e-6 * trace:
                raise ValueError(
                    f"eigensolve inconsistent with integer trace for label "
                    f"{pdf['label'].iloc[0]}: Σλ·n²={float(eig.sum()) * n * n} vs {trace}"
                )
        return _pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n": [n],
                "trace_num": [trace],
                "top_diag_num": [top],
                "top_dim": [top_dim + 1],
                "aniso_bp": [top * 10000 // trace if trace else 0],
            }
        )

    return e.groupBy("label").applyInPandas(spectral, schema).orderBy("label")


@query(
    "q050_two_stage_rerank",
    oracle="""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
     s AS (
  -- raw_scale > 0 excludes all-zero vectors: they can neither be absmax-
  -- quantized (x / raw_scale) nor cosine-ranked (r8 zero-vector sweep;
  -- unguarded either division is an ANSI DIVIDE_BY_ZERO job kill)
  SELECT * FROM (
    SELECT vec_id, v,
           greatest(abs(list_aggregate(v, 'max')), abs(list_aggregate(v, 'min'))) AS raw_scale
    FROM e
  ) WHERE raw_scale > 0
),
     z AS (
  SELECT vec_id, v,
         list_transform(v, x -> CAST(floor(x / raw_scale * 127 + 0.5) AS BIGINT)) AS q8,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
  FROM s
),
     qs AS (SELECT * FROM z WHERE vec_id % 50 = 0),
     coarse AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(list_aggregate(list_transform(list_zip(q.q8, a.q8), p -> p[1] * p[2]), 'sum') AS BIGINT) AS cscore,
         q.v AS qv, q.nrm AS qnrm, a.v AS av, a.nrm AS anrm
  FROM qs q JOIN z a ON a.vec_id <> q.vec_id
),
     cr AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cscore DESC, neighbor_id) AS crnk
  FROM coarse
),
     ex AS (
  SELECT query_id, neighbor_id,
         ROUND(list_aggregate(list_transform(list_zip(qv, av), p -> p[1] * p[2]), 'sum')
               / (qnrm * anrm), 6) + 0.0 AS cosine
  FROM cr WHERE crnk <= 20
),
     r AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM ex
)
SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 3
ORDER BY query_id, rnk
""",
    tags=("similarity", "ann", "rerank"),
    bench=True,
)
def q050_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the production ANN serving pattern: a CHEAP
    int8-quantized dot-product pass over the whole corpus selects top-20
    candidates per query, then the EXPENSIVE exact double-precision cosine
    re-ranks only those 20 → top-3.

    Scale shape: the coarse stage streams the corpus once against a
    broadcast query set doing integer multiply-adds on 1-byte codes (8×
    less memory bandwidth than doubles — at 100 TB the scan IS the cost);
    the exact stage touches 20 rows per query. LATE MATERIALIZATION: the
    coarse output is only the narrow (query_id, neighbor_id, cscore)
    triplet — the top-20-per-query window never shuffles a vector. The
    surviving candidate ids (|queries|×20, tiny) are broadcast back
    against the corpus to fetch neighbor vectors map-side, and query
    vectors ride the same broadcast as the coarse pass — so the ONLY
    all-corpus shuffle in the whole query is 12 bytes of ids+score per
    scanned pair, not two 64-dim double arrays (≈30× fewer shuffle
    bytes; an earlier draft carried qv/av through the rank window and
    the shuffle dominated the runtime). Quantization is the q086
    absmax scheme (floor(x/scale*127+0.5), bit-deterministic in both
    engines); integer coarse scores are exact cross-engine, so the
    candidate set — and therefore the oracle hash — is stable. Ties broken
    by neighbor_id at both stages.
    """
    # spread the scan (r14, guide §2.5): the 1-task local scan serialized
    # the int8 coarse pass (|queries| × |corpus| interpreted multiply-
    # adds); measured med 2.55 → 1.77 s at sf0.1 (see q019)
    em = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    v = _vec_double()
    # raw_scale > 0: all-zero vectors can neither be quantized nor
    # cosine-ranked — excluded on both engines (oracle mirror)
    s = (
        em.select("vec_id", v.alias("v"))
        .withColumn("raw_scale", F.greatest(F.abs(F.array_max("v")), F.abs(F.array_min("v"))))
        .filter(F.col("raw_scale") > 0)
    )
    z = s.select(
        "vec_id",
        "v",
        F.transform("v", lambda x: F.floor(x / F.col("raw_scale") * 127 + 0.5)).alias("q8"),
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    qs = z.filter(F.col("vec_id") % 50 == 0)
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    ddot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    coarse = (
        z.alias("a")
        .join(
            F.broadcast(qs.select("vec_id", "q8").alias("q")),
            F.col("a.vec_id") != F.col("q.vec_id"),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("a.vec_id").alias("neighbor_id"),
            idot(F.col("q.q8"), F.col("a.q8")).alias("cscore"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("cscore"), F.asc("neighbor_id"))
    cand = (
        coarse.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= 20)
        .select("query_id", "neighbor_id")
    )
    # late materialization: broadcast the tiny candidate id set against the
    # corpus (map-side vector fetch), query vectors via a second broadcast
    fetched = z.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("av"), F.col("nrm").alias("anrm")
    ).join(F.broadcast(cand), "neighbor_id")
    ex = fetched.join(
        F.broadcast(
            qs.select(
                F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
            )
        ),
        "query_id",
    ).select(
        "query_id",
        "neighbor_id",
        (F.round(ddot(F.col("qv"), F.col("av")) / (F.col("qnrm") * F.col("anrm")), 6) + 0.0).alias("cosine"),
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        ex.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    )


@query(
    "q056_embedding_dim_profile",
    oracle="""
WITH ex AS (
  SELECT CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1 AS dim,
         unnest(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS micro
  FROM embeddings
)
SELECT dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(micro) AS BIGINT) AS sum_micro,
       CAST(MIN(micro) AS BIGINT) AS min_micro,
       CAST(MAX(micro) AS BIGINT) AS max_micro,
       CAST(SUM(micro * micro) AS BIGINT) AS sumsq_micro
FROM ex
GROUP BY dim
ORDER BY dim
""",
    tags=("similarity", "profiling", "training-pipeline"),
)
def q056_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the corpus embedding matrix (count, sum,
    min, max, sum-of-squares) — the statistics pass feeding feature
    normalization, whitening, or PQ codebook training. Values are scaled
    to integer micros (float32→double is exact, ×1e6 then half-up floor)
    so every aggregate is bit-exact across engines.

    Scale: posexplode then groupBy(dim) with a bounded key domain (the
    embedding width), so the map-side partial aggregation collapses each
    input partition to ~dims rows before the shuffle — the exchange moves
    kilobytes regardless of corpus size.
    """
    em = load_table(spark, sf_dir, "embeddings")
    micro = F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5)).cast("long")
    return (
        em.select(F.posexplode("embedding").alias("dim", "x"))
        .select(F.col("dim").cast("int").alias("dim"), micro.alias("micro"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("micro").alias("sum_micro"),
            F.min("micro").alias("min_micro"),
            F.max("micro").alias("max_micro"),
            F.sum(F.expr("micro * micro")).alias("sumsq_micro"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# k-means codebook training (Lloyd iterations, integer-exact)
# ---------------------------------------------------------------------------

KM_ITERS = 2
_KM_INIT = (0, 50, 100, 150)  # deterministic seeds: these vectors ARE c0


def _km_assign_sql(cent_cte: str, n: int) -> str:
    return f"""
a{n} AS (
  SELECT vec_id, j FROM (
    SELECT ex.vec_id, c.j,
           ROW_NUMBER() OVER (
             PARTITION BY ex.vec_id
             ORDER BY SUM((ex.mv - c.cv) * (ex.mv - c.cv)), c.j) AS rnk
    FROM ex JOIN {cent_cte} c USING (dim)
    GROUP BY ex.vec_id, c.j
  ) WHERE rnk = 1
)"""


def _km_update_sql(assign_cte: str, n: int) -> str:
    return f"""
c{n} AS (
  SELECT j, dim, CAST(SUM(mv) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cv
  FROM ex JOIN {assign_cte} USING (vec_id)
  GROUP BY j, dim
)"""


def _km_assign(ex: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment: broadcast the (k·dims)-row centroid table,
    map-side partial-agg the per-(vector, cluster) squared distance, pick
    the argmin (ties → lowest cluster id). Factored so plan CI can assert
    the broadcast on the raw (un-checkpointed) subplan."""
    d = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "j")
        .agg(F.sum((F.col("mv") - F.col("cv")) * (F.col("mv") - F.col("cv"))).alias("dist"))
    )
    wn = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("j"))
    return (
        d.withColumn("rnk", F.row_number().over(wn))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "j")
    )


def _km_update(ex: DataFrame, assign: DataFrame) -> DataFrame:
    """One Lloyd update: exact integer centroid means per (cluster, dim)."""
    return (
        ex.join(assign, "vec_id")
        .groupBy("j", "dim")
        .agg(F.expr("CAST(sum(mv) AS BIGINT) div count(1)").alias("cv"))
    )


@query(
    "q046_kmeans_codebook",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, CAST(i AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS mv
  FROM embeddings CROSS JOIN LATERAL unnest(generate_series(1, {KM_DIMS})) AS g(i)
  WHERE vec_id < 300
),
c0 AS (
  SELECT CAST(vec_id // 50 AS INT) AS j, dim, mv AS cv
  FROM ex WHERE vec_id IN {_KM_INIT}
),{_km_assign_sql("c0", 1)},{_km_update_sql("a1", 1)},{_km_assign_sql("c1", 2)},{_km_update_sql("a2", 2)}
SELECT a.j AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(a.vec_id) AS first_member,
       MAX(a.vec_id) AS last_member,
       s.centroid_sum
FROM a2 a
JOIN (SELECT j, CAST(SUM(cv) AS BIGINT) AS centroid_sum FROM c2 GROUP BY j) s
  ON a.j = s.j
GROUP BY a.j, s.centroid_sum
ORDER BY cluster_id
""",
    tags=("similarity", "kmeans", "iterative"),
)
def q046_kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook training: {KM_ITERS} Lloyd iterations of k-means over
    integer-quantized embeddings (micro-scaled, so distances, argmins and
    centroid means are EXACT integers — a float k-means could never be
    hash-compared across engines: ties and mean rounding diverge). Seeds
    are four fixed vectors; assignment ties break on cluster id.

    Scale shape — the canonical distributed k-means: vectors live in long
    (vec, dim, value) form; each iteration is (broadcast tiny centroids →
    map-side distance partial-agg → per-vector argmin) + (groupBy
    (cluster, dim) mean with map-side combine). Loop state is
    localCheckpoint'ed per round (else each round's plan re-embeds
    every earlier round); the vector
    table is checkpointed ONCE and reused by all {2 * KM_ITERS} passes.
    """
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    ex = (
        em.select("vec_id", F.posexplode("embedding").alias("p", "x"))
        .filter(F.col("p") < KM_DIMS)
        .select(
            "vec_id",
            (F.col("p") + 1).cast("int").alias("dim"),
            F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("mv"),
        )
        .transform(cut_lineage)
    )
    cent = (
        ex.filter(F.col("vec_id").isin(*_KM_INIT))
        .select(F.expr("vec_id div 50").cast("int").alias("j"), "dim", F.col("mv").alias("cv"))
    )
    assign = None
    for _ in range(KM_ITERS):
        assign = _km_assign(ex, cent).transform(cut_lineage)
        cent = _km_update(ex, assign).transform(cut_lineage)
    sums = cent.groupBy("j").agg(F.sum("cv").alias("centroid_sum"))
    return (
        assign.groupBy("j")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("first_member"),
            F.max("vec_id").alias("last_member"),
        )
        .join(sums, "j")
        .select(
            F.col("j").alias("cluster_id"),
            "n_members",
            "first_member",
            "last_member",
            "centroid_sum",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) encode
# ---------------------------------------------------------------------------

_PQ_SUBS = ((1, 8), (9, 16))  # two 8-dim subspaces over the 16 micro dims


def _pq_assign_sql(ex: str, cent: str, name: str) -> str:
    """Nearest-codeword assignment WITH the squared error, per subspace."""
    return f"""
{name} AS (
  SELECT vec_id, j, dist FROM (
    SELECT e.vec_id, c.j,
           CAST(SUM((e.mv - c.cv) * (e.mv - c.cv)) AS BIGINT) AS dist,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY SUM((e.mv - c.cv) * (e.mv - c.cv)), c.j) AS rnk
    FROM {ex} e JOIN {cent} c USING (dim)
    GROUP BY e.vec_id, c.j
  ) WHERE rnk = 1
)"""


def _pq_chain_sql(idx: int, lo: int, hi: int) -> str:
    return f"""
ex{idx} AS (SELECT * FROM exm WHERE dim BETWEEN {lo} AND {hi}),
cb{idx}_0 AS (
  SELECT CAST(vec_id // 50 AS INT) AS j, dim, mv AS cv
  FROM ex{idx} WHERE vec_id IN {_KM_INIT}
),{_pq_assign_sql(f"ex{idx}", f"cb{idx}_0", f"pa{idx}")},
cb{idx}_1 AS (
  SELECT j, dim, CAST(SUM(mv) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cv
  FROM ex{idx} JOIN pa{idx} USING (vec_id) GROUP BY j, dim
),{_pq_assign_sql(f"ex{idx}", f"cb{idx}_1", f"code{idx}")}"""


def _pq_assign(ex: DataFrame, cent: DataFrame) -> DataFrame:
    """Spark twin of _pq_assign_sql: _km_assign plus the retained error."""
    d = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "j")
        .agg(
            F.sum((F.col("mv") - F.col("cv")) * (F.col("mv") - F.col("cv")))
            .cast("long")
            .alias("dist")
        )
    )
    wn = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("j"))
    return (
        d.withColumn("rnk", F.row_number().over(wn))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "j", "dist")
    )


@query(
    "q142_pq_encode",
    oracle=f"""
WITH exm AS (
  SELECT vec_id, CAST(i AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS mv
  FROM embeddings CROSS JOIN LATERAL unnest(generate_series(1, {KM_DIMS})) AS g(i)
  WHERE vec_id < 300
),{_pq_chain_sql(0, *_PQ_SUBS[0])},{_pq_chain_sql(1, *_PQ_SUBS[1])}
SELECT c0.vec_id,
       CAST(c0.j AS INT) AS code_s0, c0.dist AS err_s0,
       CAST(c1.j AS INT) AS code_s1, c1.dist AS err_s1,
       c0.dist + c1.dist AS err_total
FROM code0 c0 JOIN code1 c1 USING (vec_id)
ORDER BY vec_id
""",
    tags=("similarity", "ann", "pq", "training-pipeline"),
)
def q142_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode — the compression half of an IVF-PQ
    index (q024 is the IVF half): the 16-dim embedding splits into two
    8-dim subspaces, each trains a 4-codeword codebook (seeded + one
    Lloyd refinement, all integer-micro exact), and every vector encodes
    as a (code_s0, code_s1) byte pair plus its exact reconstruction
    error. 64 bytes of float embedding → 2 bytes of codes.

    Scale shape: codebooks are (k × subdims) rows — always broadcast;
    encoding is a map-side distance partial-agg + per-vector argmin per
    subspace, so the corpus is never shuffled on anything but vec_id;
    subspaces train/encode independently (they'd run as parallel stages
    on a cluster). The exploded vector table is checkpointed once and
    shared by both subspace chains and all Lloyd passes. ADC search at
    query time is a (query × codebook) lookup-table join — tiny —
    against the 2-byte codes."""
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    ex = (
        em.select("vec_id", F.posexplode("embedding").alias("p", "x"))
        .filter(F.col("p") < KM_DIMS)
        .select(
            "vec_id",
            (F.col("p") + 1).cast("int").alias("dim"),
            F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("mv"),
        )
        .transform(cut_lineage)
    )
    codes = []
    for lo, hi in _PQ_SUBS:
        sub = ex.filter((F.col("dim") >= lo) & (F.col("dim") <= hi)).transform(
            cut_lineage
        )
        c0 = sub.filter(F.col("vec_id").isin(*_KM_INIT)).select(
            F.expr("vec_id div 50").cast("int").alias("j"), "dim", F.col("mv").alias("cv")
        )
        a1 = _km_assign(sub, c0).transform(cut_lineage)
        c1 = _km_update(sub, a1).transform(cut_lineage)
        codes.append(_pq_assign(sub, c1))
    c0df, c1df = (
        codes[0].select("vec_id", F.col("j").alias("code_s0"), F.col("dist").alias("err_s0")),
        codes[1].select("vec_id", F.col("j").alias("code_s1"), F.col("dist").alias("err_s1")),
    )
    return (
        c0df.join(c1df, "vec_id")
        .select(
            "vec_id",
            "code_s0",
            "err_s0",
            "code_s1",
            "err_s1",
            (F.col("err_s0") + F.col("err_s1")).alias("err_total"),
        )
        .orderBy("vec_id")
    )


@query(
    "q143_dim_covariance",
    oracle=f"""
WITH m AS (
  SELECT vec_id,
         list_transform(embedding[1:{KM_DIMS}],
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS mv
  FROM embeddings
),
pairs AS (
  SELECT CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
         mv[i] AS mi, mv[j] AS mj
  FROM m
  CROSS JOIN LATERAL unnest(generate_series(1, {KM_DIMS})) AS gi(i)
  CROSS JOIN LATERAL unnest(generate_series(i, {KM_DIMS})) AS gj(j)
)
SELECT dim_i, dim_j,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(mi) AS BIGINT) AS sum_i,
       CAST(SUM(mj) AS BIGINT) AS sum_j,
       CAST(SUM(mi * mj) AS BIGINT) AS sum_ij,
       CAST(COUNT(*) * SUM(mi * mj) - SUM(mi) * SUM(mj) AS BIGINT) AS cov_num
FROM pairs
GROUP BY dim_i, dim_j
ORDER BY dim_i, dim_j
""",
    tags=("similarity", "stats", "training-pipeline"),
)
def q143_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance matrix (upper triangle) in exact integer
    micros — the one-pass sufficient statistic for whitening / PCA /
    Mahalanobis-style outlier pruning over the corpus embedding matrix:
    cov_num(i,j) = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ (divide by n² downstream).

    Scale shape: the dim-pair outer product is generated INSIDE the row
    (nested transform over the micro array, materialized once per row in
    its own projection — HOF discipline) — no self-join, no per-vector
    shuffle; the single exchange carries dims²/2 keys with map-side
    partial sums, so the shuffle is ~136 rows per input partition no
    matter how many vectors the corpus holds. Magnitudes stay within
    int64 by construction (n·Σxy ≤ 3.6e17 at micro scale)."""
    em = load_table(spark, sf_dir, "embeddings")
    m = em.select(
        F.expr(
            f"transform(slice(embedding, 1, {KM_DIMS}),"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
        ).alias("mv")
    )
    pairs = m.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, {KM_DIMS}), i ->"
                f" transform(sequence(i, {KM_DIMS}), j ->"
                " struct(CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,"
                "        mv[i - 1] AS mi, mv[j - 1] AS mj))))"
            )
        ).alias("p")
    ).select("p.*")
    return (
        pairs.groupBy("dim_i", "dim_j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("mi").alias("sum_i"),
            F.sum("mj").alias("sum_j"),
            F.sum(F.expr("mi * mj")).alias("sum_ij"),
        )
        .withColumn("cov_num", F.expr("n * sum_ij - sum_i * sum_j"))
        .orderBy("dim_i", "dim_j")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup: cluster, then prune near-identical embeddings)
# ---------------------------------------------------------------------------

# cosine threshold 3/4 as an exact rational: cos >= 3/4  <=>  dot > 0 AND
# 16*dot^2 >= 9*|a|^2*|b|^2 — integer-only, no sqrt, no float compare.
_SEM_THR_NUM2 = 9
_SEM_THR_DEN2 = 16


@query(
    "q151_semantic_dedup",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, CAST(i AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS mv
  FROM embeddings CROSS JOIN LATERAL unnest(generate_series(1, {KM_DIMS})) AS g(i)
  WHERE vec_id < 300
),
c0 AS (
  SELECT CAST(vec_id // 50 AS INT) AS j, dim, mv AS cv
  FROM ex WHERE vec_id IN {_KM_INIT}
),{_km_assign_sql("c0", 1)},{_km_update_sql("a1", 1)},{_km_assign_sql("c1", 2)},{_km_update_sql("a2", 2)},
sv AS (
  SELECT vec_id,
         list_transform(embedding[1:{KM_DIMS}],
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS s
  FROM embeddings WHERE vec_id < 300
),
mem AS (
  SELECT a.vec_id, a.j, s.s,
         CAST(list_aggregate(list_transform(s.s, x -> x * x), 'sum') AS BIGINT) AS n2
  FROM a2 a JOIN sv s USING (vec_id)
),
pairs AS (
  SELECT a.j, b.vec_id AS ib, a.n2 AS na, b.n2 AS nb,
         CAST(list_aggregate(list_transform(list_zip(a.s, b.s), p -> p[1] * p[2]), 'sum')
              AS BIGINT) AS dot
  FROM mem a JOIN mem b ON a.j = b.j AND a.vec_id < b.vec_id
),
dup AS (
  SELECT DISTINCT j, ib AS vec_id FROM pairs
  WHERE dot > 0 AND {_SEM_THR_DEN2} * dot * dot >= {_SEM_THR_NUM2} * na * nb
)
SELECT CAST(m.j AS INT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       COALESCE(string_agg(CAST(d.vec_id AS VARCHAR), '|' ORDER BY d.vec_id), '') AS dropped_ids
FROM mem m LEFT JOIN dup d ON m.j = d.j AND m.vec_id = d.vec_id
GROUP BY m.j
ORDER BY cluster_id
""",
    tags=("similarity", "dedup", "kmeans", "training-pipeline"),
)
def q151_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus embeddings with k-means, then WITHIN each cluster
    drop every vector whose cosine to an earlier (lower-id) member is
    >= 3/4 — keep-first greedy pruning of semantic near-duplicates that
    exact/minhash dedup (q190/q189) cannot see (paraphrases, re-renders).

    All math is integer-exact so the oracle hash is engine-stable: the
    assignment chain is q046's micro-quantized Lloyd iterations verbatim,
    and the pair test compares 16*dot^2 >= 9*|a|^2*|b|^2 on milli-
    quantized vectors (no sqrt, no float: max |term| ~3e14 << int64).

    Scale shape — the reason SemDeDup works at 100 TB where all-pairs
    cosine cannot: pairwise comparison happens ONLY within a cluster, and
    k grows with the corpus so expected cluster size stays bounded — the
    self-join is an equi-join on the cluster key whose per-key fan-out is
    (cluster size)^2, not (corpus)^2. Centroids stay broadcast-tiny in
    every Lloyd pass; the membership table is localCheckpoint'ed once and
    reused by both sides of the pair join; the dropped set re-enters as a
    (tiny) equi-join, in production the build side of a broadcast
    anti-join that filters the corpus."""
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    ex = (
        em.select("vec_id", F.posexplode("embedding").alias("p", "x"))
        .filter(F.col("p") < KM_DIMS)
        .select(
            "vec_id",
            (F.col("p") + 1).cast("int").alias("dim"),
            F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("mv"),
        )
        .transform(cut_lineage)
    )
    cent = ex.filter(F.col("vec_id").isin(*_KM_INIT)).select(
        F.expr("vec_id div 50").cast("int").alias("j"), "dim", F.col("mv").alias("cv")
    )
    assign = None
    for _ in range(KM_ITERS):
        assign = _km_assign(ex, cent).transform(cut_lineage)
        cent = _km_update(ex, assign).transform(cut_lineage)
    sv = em.select(
        "vec_id",
        F.expr(
            f"transform(slice(embedding, 1, {KM_DIMS}),"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
        ).alias("s"),
    )
    mem = (
        assign.join(sv, "vec_id")
        .withColumn("n2", F.expr("aggregate(s, 0L, (acc, x) -> acc + x * x)"))
        .transform(cut_lineage)
    )
    a = mem.select("j", F.col("vec_id").alias("ia"), F.col("s").alias("sa"), F.col("n2").alias("na"))
    b = mem.select("j", F.col("vec_id").alias("ib"), F.col("s").alias("sb"), F.col("n2").alias("nb"))
    pairs = (
        a.join(b, "j")
        .filter(F.col("ia") < F.col("ib"))
        .withColumn(
            "dot", F.expr("aggregate(zip_with(sa, sb, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
        )
    )
    dup = (
        pairs.filter(
            (F.col("dot") > 0)
            & (F.lit(_SEM_THR_DEN2) * F.col("dot") * F.col("dot")
               >= F.lit(_SEM_THR_NUM2) * F.col("na") * F.col("nb"))
        )
        .select("j", F.col("ib").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        mem.select("j", "vec_id")
        .join(dup, ["j", "vec_id"], "left")
        .groupBy("j")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("is_dup").alias("n_dropped"),
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list(F.when(F.col("is_dup") == 1, F.col("vec_id")))),
                    lambda x: x.cast("string"),
                ),
            ).alias("dropped_ids"),
        )
        .select(
            F.col("j").cast("int").alias("cluster_id"),
            "n_members",
            "n_dropped",
            "dropped_ids",
        )
        .orderBy("cluster_id")
    )
