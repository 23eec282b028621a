"""The WARC → url_resource pipeline (SURVEY §0 dataflow, §3.1 lifecycle).

One lazy DataFrame graph replacing the reference's hardcoded Rust loop
(/root/reference/src/main.rs:169-515). Plan-construction discipline
(SURVEY §4):

- cheap native predicates (WARC-type, version sentinel, blacklist) run
  BEFORE any Python UDF — Catalyst will not hoist filters above a UDF;
  the blacklist is one literal-set predicate (``extract.on_blacklist``),
  so it adds no join, no broadcast and no Spark job;
- each pandas UDF is invoked ONCE and projected via its struct fields —
  duplicated UDF expressions may be re-executed. The gunzip UDF is
  marked nondeterministic for this reason: otherwise Catalyst pushes the
  ``content_str IS NOT NULL`` filter below the projection by inlining
  the UDF call, and the plan decompresses every record twice;
- the 2 MB oversize guard feeds the parse UDF an empty string instead of
  wrapping it in when/otherwise (the UDF column would be evaluated for all
  rows anyway; an empty input makes the skip actually cheap);
- the four Python crossings (decompress, parse, absolutize+domain, RAKE)
  are Arrow-batched pandas UDFs; everything else is native.

Assembly-order quirks preserved from main.rs:274-492:
- blacklist checks the REGEX hostname (pre X-Funnelback-AA-Domain
  override), main.rs:245-255;
- domain_name also derives from the regex hostname, not the override
  (main.rs:333-339);
- oversize (>2MB) records still emit a row via the regex-fallback path
  (html = Default → ok=false branch, main.rs:376-381 + 417-465);
- gzip-undecompressable records are DROPPED (main.rs:287-302);
- the ok-path text_content uses the whitespace-DELETION quirk, the
  fallback path collapses to single spaces (main.rs:383-386 vs 425-427).
"""

from __future__ import annotations

import gzip

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from warcraider_spark.functions import extract as X
from warcraider_spark.functions.html import parse_html_udf
from warcraider_spark.functions.rake import rake_keywords_udf
from warcraider_spark.functions.textfn import word_count as _word_count
from warcraider_spark.functions.urls import absolutize_udf, root_domain_udf
from warcraider_spark.schema import URL_RESOURCE_AVRO_JSON, URL_RESOURCE_FIELDS

__all__ = ["url_resource_from_warc_records", "write_url_resource"]

OVERSIZE_BYTES = 2_000_000


def _decompress_udf() -> Column:
    """gzip member → lossy-UTF8 string; None (row later dropped) on bad
    gzip — main.rs:287-303 semantics including String::from_utf8_lossy."""
    from warcraider_spark.dist import ensure_package_on_executors
    ensure_package_on_executors()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _gunzip(blobs: pd.Series) -> pd.Series:
        def one(b: bytes | None) -> str | None:
            if b is None:
                return None
            try:
                return gzip.decompress(bytes(b)).decode("utf-8", errors="replace")
            except Exception:
                return None

        return blobs.map(one)

    # keeps the null filter above the projection (module docstring)
    return _gunzip.asNondeterministic()


def url_resource_from_warc_records(records: DataFrame, metrics: dict | None = None) -> DataFrame:
    """WARC_RECORD_SCHEMA rows → the 18-column url_resource DataFrame.

    Pass ``metrics={}`` to attach ``Observation`` points mirroring the
    reference's per-batch counters (records in, responses kept, blacklist
    survivors, gzip-decodable, parse fallbacks — main.rs logs these as it
    loops): the dict is filled with name → Observation, and each
    ``Observation.get`` yields its counts after any action on the result —
    computed DURING the action as accumulator-style stream aggregates, so
    the accounting costs no extra pass over 100 TB (vs. the .count()-per-
    stage alternative, which re-runs the prefix plan per counter).
    """

    def _observe(df: DataFrame, name: str, *exprs: Column) -> DataFrame:
        if metrics is None:
            return df
        from pyspark.sql import Observation

        metrics[name] = Observation(name)
        return df.observe(metrics[name], *exprs)

    # --- native pre-filters (before any Python) ---------------------------
    records = _observe(records, "input", F.count(F.lit(1)).alias("n_records"))
    base = (
        records.filter((F.col("version") != "0") & (F.element_at("headers", "WARC-Type") == F.lit("response")))
        .withColumn("url", F.coalesce(F.element_at("headers", "WARC-Target-URI"), F.lit("")))
        .withColumn("regex_hostname", X.hostname_from_url("url"))
        .withColumn(
            "size_bytes",
            F.coalesce(F.element_at("headers", "Uncompressed-Content-Length").try_cast("int"), F.lit(0)),
        )
        .withColumn("source", F.element_at(F.split("warc_file", "/"), -1))
    )
    base = _observe(base, "responses", F.count(F.lit(1)).alias("n_responses"))
    # regex_hostname and url are never null (regexp_extract over a
    # coalesced URL), so the negated predicate keeps every other row
    filtered = base.filter(~X.on_blacklist(F.col("regex_hostname"), F.col("url")))
    filtered = _observe(filtered, "post_blacklist", F.count(F.lit(1)).alias("n_kept"))

    # --- UDF crossing 1: gzip decompress (bad rows dropped) ---------------
    gunzip = _decompress_udf()
    decompressed = (
        filtered.withColumn("content_str", gunzip(F.col("content")))
        .filter(F.col("content_str").isNotNull())
        .drop("content")
    )
    decompressed = _observe(
        decompressed, "decompressed", F.count(F.lit(1)).alias("n_ok_gzip")
    )

    # --- native HTTP split + header map + scalars -------------------------
    with_http = (
        decompressed.withColumn("http_headers", X.parse_http_headers(X.http_header_block(F.col("content_str"))))
        .withColumn("raw_html", X.http_body(F.col("content_str")))
        .withColumn("load_time", X.load_time(F.col("http_headers")))
        .withColumn("hostname", X.hostname_with_override(F.col("http_headers"), F.col("regex_hostname")))
        .withColumn("google_analytics", X.ga_ids("raw_html"))
        .withColumn("google_analytics_config", X.ga_config("raw_html"))
    )

    # --- UDF crossing 2: HTML parse (single struct call) ------------------
    parse = parse_html_udf()
    oversize = (F.col("size_bytes") > OVERSIZE_BYTES) | (F.length("content_str") > OVERSIZE_BYTES)
    parsed = (
        with_http.withColumn(
            "html", parse(F.when(oversize, F.lit("")).otherwise(F.col("raw_html")))
        )
        # materialized before content_str is dropped; the observation below
        # needs it, and shaped's explicit select discards it again
        .withColumn("_oversize", oversize)
        .drop("content_str")
    )

    ok = F.col("html.ok")
    # ok path: joined text chunks with whitespace-run DELETION quirk;
    # fallback path: regex body text with single-space collapse
    text_content = F.when(
        ok, X.whitespace_normalize_delete(F.array_join("html.text", " "))
    ).otherwise(X.body_text_fallback("raw_html"))
    title = F.when(ok, F.col("html.title")).otherwise(X.title_fallback("raw_html"))
    raw_links = F.when(ok, F.col("html.links")).otherwise(X.links_fallback("raw_html"))
    raw_resources = F.when(ok, F.col("html.resource_urls")).otherwise(X.resources_fallback("raw_html"))

    parsed = _observe(
        parsed,
        "parsed",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~ok).cast("long")).alias("n_parse_fallback"),
        F.sum(F.col("_oversize").cast("long")).alias("n_oversize"),
    )
    shaped = parsed.select(
        "url",
        "hostname",
        "regex_hostname",
        "size_bytes",
        "load_time",
        F.col("http_headers").alias("headers"),
        "google_analytics",
        "google_analytics_config",
        "source",
        title.alias("title"),
        text_content.alias("text_content"),
        F.array_join("html.headings_text", " ").alias("headings_text"),
        F.col("html.meta_tags").alias("meta_tags"),
        F.col("html.html_errors").alias("html_errors"),
        raw_links.alias("raw_links"),
        raw_resources.alias("raw_resources"),
    )

    # --- UDF crossing 3: absolutize + root domain -------------------------
    absolutize = absolutize_udf()
    root = root_domain_udf()
    with_urls = (
        shaped.withColumn("links", absolutize(F.col("url"), F.col("raw_links")))
        .withColumn("resource_urls", absolutize(F.col("url"), F.col("raw_resources")))
        .withColumn("domain_name", root(F.col("regex_hostname")))
    )

    # --- UDF crossing 4: RAKE + native word_count -------------------------
    # the reference's keyword map is f32 (lib.rs:386-399): round the
    # kernel's doubles here, at the output boundary
    rake = rake_keywords_udf()
    final = (
        with_urls.withColumn(
            "keywords", rake(F.col("text_content")).cast("map<string,float>")
        )
        .withColumn("word_count", _word_count("text_content"))
        .select(*URL_RESOURCE_FIELDS)
    )
    return final


def write_url_resource(df: DataFrame, path: str, fmt: str = "parquet") -> str:
    """Persist the output table.

    - ``avro``: exact reference sink (main.rs:189-191, 486-492). Uses the
      spark-avro connector when it is on the classpath; otherwise the
      dependency-free OCF writer in ``sinks.avro_sink`` (same schema, same
      container-file layout, one file per partition) — either way the
      output IS Avro, verified by the JVM avro reader in
      tests/test_avro_sink.py;
    - ``parquet``: the query-layer layout replacing BigQuery
      (load.bat:5-9): partitioned by source WARC, sorted within partitions
      by domain_name so min/max row-group stats give BigQuery-cluster-like
      pruning on the domain predicate.
    """
    if fmt == "avro":
        try:
            (
                df.write.format("avro")
                .option("avroSchema", URL_RESOURCE_AVRO_JSON)
                .mode("overwrite")
                .save(path)
            )
            return "avro"
        except Exception:
            from warcraider_spark.sinks.avro_sink import write_avro_distributed

            write_avro_distributed(df, path, URL_RESOURCE_AVRO_JSON)
            return "avro-ocf"
    (
        df.repartition("source")
        .sortWithinPartitions("domain_name")
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(path)
    )
    return "parquet"
