"""The url_resource query mix: each query as a Spark DataFrame builder and
its DuckDB twin over the same parquet files.

These are the questions the reference answered in BigQuery over the ETL's
table: a point filter on the clustering column, a per-domain rollup, link
in-degree (explode + join + top-k), RAKE keyword top-k and grouping by GA
property. Results are plain scalar columns so ``oracle.compare`` can hash
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TOP_K = 5


def point_filter(t: DataFrame, domain: str) -> DataFrame:
    return t.filter(F.col("domain_name") == domain).select("url", "title", "word_count")


def domain_rollup(t: DataFrame, domain: str) -> DataFrame:
    return t.groupBy("domain_name").agg(
        F.count(F.lit(1)).alias("pages"),
        F.sum("size_bytes").cast("bigint").alias("bytes"),
        F.sum("word_count").cast("bigint").alias("words"),
        F.max("load_time").cast("double").alias("max_load"),
        F.countDistinct("source").alias("sources"),
    )


def link_indegree(t: DataFrame, domain: str) -> DataFrame:
    edges = t.select(F.explode("links").alias("target"))
    pages = t.select(F.col("url").alias("target"), "domain_name")
    deg = edges.join(pages, "target").groupBy("domain_name", "target").agg(
        F.count(F.lit(1)).alias("indeg")
    )
    w = Window.partitionBy("domain_name").orderBy(F.desc("indeg"), "target")
    return deg.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


def keyword_topk(t: DataFrame, domain: str) -> DataFrame:
    kw = t.select("domain_name", F.explode("keywords").alias("keyword", "score"))
    agg = kw.groupBy("domain_name", "keyword").agg(
        F.count(F.lit(1)).alias("pages"), F.max("score").cast("double").alias("best")
    )
    w = Window.partitionBy("domain_name").orderBy(F.desc("pages"), F.desc("best"), "keyword")
    return agg.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


def ga_property(t: DataFrame, domain: str) -> DataFrame:
    return t.select("domain_name", F.explode("google_analytics").alias("ga_id")).groupBy(
        "ga_id"
    ).agg(F.count(F.lit(1)).alias("pages"), F.countDistinct("domain_name").alias("domains"))


def _sql(tbl: str) -> dict[str, str]:
    return {
        "point_filter": f"SELECT url, title, word_count FROM {tbl} WHERE domain_name = $d",
        "domain_rollup": f"""
            SELECT domain_name, count(*) AS pages, CAST(sum(size_bytes) AS BIGINT) AS bytes,
                   CAST(sum(word_count) AS BIGINT) AS words,
                   CAST(max(load_time) AS DOUBLE) AS max_load,
                   count(DISTINCT source) AS sources
            FROM {tbl} GROUP BY domain_name""",
        "link_indegree": f"""
            WITH e AS (SELECT unnest(links) AS target FROM {tbl}),
                 d AS (SELECT p.domain_name, e.target, count(*) AS indeg
                       FROM e JOIN {tbl} p ON p.url = e.target
                       GROUP BY p.domain_name, e.target)
            SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY domain_name
                                           ORDER BY indeg DESC, target) AS rk FROM d)
            WHERE rk <= {TOP_K}""",
        "keyword_topk": f"""
            WITH k AS (SELECT domain_name, unnest(map_keys(keywords)) AS keyword,
                              unnest(map_values(keywords)) AS score FROM {tbl}),
                 a AS (SELECT domain_name, keyword, count(*) AS pages,
                              CAST(max(score) AS DOUBLE) AS best
                       FROM k GROUP BY domain_name, keyword)
            SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY domain_name
                                           ORDER BY pages DESC, best DESC, keyword) AS rk
              FROM a)
            WHERE rk <= {TOP_K}""",
        "ga_property": f"""
            SELECT ga_id, count(*) AS pages, count(DISTINCT domain_name) AS domains
            FROM (SELECT domain_name, unnest(google_analytics) AS ga_id FROM {tbl})
            GROUP BY ga_id""",
    }


QUERIES = {
    "point_filter": point_filter,
    "domain_rollup": domain_rollup,
    "link_indegree": link_indegree,
    "keyword_topk": keyword_topk,
    "ga_property": ga_property,
}


def run_spark(spark: SparkSession, table_path: str, name: str, domain: str):
    """Run one query to completion; the result as the pandas frame
    ``oracle.compare`` expects (built from collected rows)."""
    import pandas as pd

    sdf = QUERIES[name](spark.read.parquet(table_path), domain)
    return pd.DataFrame([tuple(r) for r in sdf.collect()], columns=sdf.columns)


def run_duckdb(table_path: str, name: str, domain: str):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            "CREATE VIEW url_resource AS SELECT * FROM read_parquet("
            f"'{table_path}/**/*.parquet', hive_partitioning = true)"
        )
        sql = _sql("url_resource")[name]
        params = {"d": domain} if "$d" in sql else None
        return con.execute(sql, params).fetchdf() if params else con.execute(sql).fetchdf()
    finally:
        con.close()
