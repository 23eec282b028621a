"""The RAKE pandas UDF on constructed documents, against the Python
kernel: the ETL's f32 keyword map (the UDF's doubles cast to
map<string,float>) must equal ``rake_text``, and q043's exploded rows
must equal ``rake_scores`` rounded HALF_UP to 4 places (Spark's
``round``)."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from warcraider_spark.functions.rake import rake_keywords_udf, rake_scores, rake_text

DOCS = [
    # duplicate phrase: last wins (rake.rs:43); thirds exercise rounding
    (1, "alpha beta; alpha; alpha beta, Gamma delta epsilon; gamma"),
    # all-number phrase: the keyword stays, scored 0.0
    (2, "2024. alpha 42 beta; 3.14"),
    # spaced hyphen splits, a bare hyphen does not
    (3, "deep-dive analysis - good stuff"),
    # Unicode punctuation splits (ideographic comma, em dash, guillemets)
    (4, "café crème、brûlée tart—sugar glass «burnt top» custard"),
    # stop words only: no phrase at all
    (5, "the of and which it"),
    (6, ""),
    (7, None),
    # U+001F is not Unicode White_Space (Rust split_whitespace): one word
    (8, "alpha\x1fbeta gamma"),
]


def _round4(v: float) -> float:
    return float(Decimal(repr(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def test_rake_udf_matches_python_kernel(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    rake = rake_keywords_udf()

    etl = {
        r["doc_id"]: r["kw"]
        for r in docs.select(
            "doc_id", rake(F.col("text")).cast("map<string,float>").alias("kw")
        ).collect()
    }
    assert etl == {d: rake_text(t or "") for d, t in DOCS}
    assert etl[2]["2024"] == 0.0
    assert etl[5] == etl[6] == etl[7] == {}
    assert etl[8] == {"alpha\x1fbeta gamma": 4.0}

    # q043's shape: explode the same UDF, round the doubles to 4 places
    rows = (
        docs.select("doc_id", F.explode(rake(F.col("text"))).alias("keyword", "score"))
        .select("doc_id", "keyword", F.round("score", 4).alias("score"))
        .collect()
    )
    got = sorted((r["doc_id"], r["keyword"], repr(r["score"])) for r in rows)
    want = sorted(
        (d, k, repr(_round4(v)))
        for d, t in DOCS
        for k, v in rake_scores(t or "").items()
    )
    assert got == want
