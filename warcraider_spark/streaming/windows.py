"""Structured Streaming operators (SURVEY §2.10).

The reference's batch loop with GCS-existence idempotence checks
(/root/reference/src/lib.rs:155-169, main.rs:153-164) maps to the file
source + checkpointing: each WARC/parquet file is processed exactly once,
restart resumes from the checkpoint instead of `gsutil stat` probes.

Operators:
- ``stream_events``: file-source readStream over an events-shaped
  directory;
- ``windowed_counts_stream``: watermarked tumbling-window aggregation
  (shares the batch builder in operators.windows_events, so the batch
  oracle certifies the semantics);
- ``replay_events_stream``: replays the driver's events table through a
  REAL stream (availableNow trigger → memory sink) and returns the result
  as a batch DataFrame — used by q030 and tests;
- ``stream_warc_pipeline``: streaming variant of the WARC→url_resource
  pipeline with checkpointed exactly-once sink.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warcraider_spark.registry import ROUND_DIGITS as RD

__all__ = [
    "stream_events",
    "windowed_counts_stream",
    "replay_events_stream",
    "stream_static_enrich",
    "replay_enriched_stream",
    "stream_warc_pipeline",
]


def stream_events(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream: new files under ``path`` become micro-batches.
    maxFilesPerTrigger bounds batch size the way the reference's 2×50k
    record batching bounded memory (main.rs:159-160)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(path)
    )


def windowed_counts_stream(
    events: DataFrame, watermark: str = "1 hour", integer_units: bool = False
) -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the watermark
    are dropped by the engine; state for closed windows is evicted (bounded
    state at 100 TB/day event volumes).

    ``integer_units=True`` sums milli-quantized values as BIGINT instead of
    rounded doubles: integer addition is order-independent, so the result
    is bit-identical no matter how micro-batches slice the input — the
    property that lets a REAL stream run be hash-compared against a batch
    SQL oracle (q030)."""
    agg_val = (
        F.sum(F.expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)")).alias("sum_value_milli")
        if integer_units
        else F.round(F.sum("value"), RD).alias("sum_value")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), agg_val)
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value_milli" if integer_units else "sum_value",
        )
    )


def replay_events_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour", integer_units: bool = False
) -> DataFrame:
    """Run the events table through a real micro-batch stream (availableNow
    → complete-mode memory sink) and return the final result table."""
    from warcraider_spark.tables import load_table

    # materialize events with a proper timestamp column for the stream
    # (events.parquet stores ns timestamps the schema API can't declare)
    staged = os.path.join(tempfile.gettempdir(), f"events_stream_{uuid.uuid4().hex[:8]}")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(staged)

    stream = stream_events(spark, staged, ev.schema)
    agg = windowed_counts_stream(stream, watermark, integer_units=integer_units)
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).orderBy("window_start", "event_type")


def stream_static_enrich(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension, then watermarked per-segment windowed revenue.

    The static side is re-read every micro-batch (so a dimension update is
    picked up without restarting the query) and is broadcast — the stream
    side never shuffles for the join, which is what makes enrichment
    affordable when the stream is the 100 TB side. Left join keeps events
    with no matching customer (segment → 'unknown')."""
    dim = F.broadcast(
        customers.select(
            F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
        )
    )
    return (
        events.withWatermark("ts", "1 hour")
        .join(dim, "user_id", "left")
        .fillna({"segment": "unknown"})
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("segment"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), RD).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "segment",
            "n",
            "sum_value",
        )
    )


def replay_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run events through a real stream joined to the static customer dim
    (availableNow → complete-mode memory sink); returns the final table."""
    from warcraider_spark.tables import load_table

    staged = os.path.join(tempfile.gettempdir(), f"events_enrich_{uuid.uuid4().hex[:8]}")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(staged)

    stream = stream_events(spark, staged, ev.schema)
    enriched = stream_static_enrich(stream, load_table(spark, sf_dir, "customer"))
    name = f"enr_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).orderBy("window_start", "segment")


def stream_warc_pipeline(
    spark: SparkSession,
    warc_dir: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> "object":
    """Streaming WARC→url_resource: the binaryFile source watches for new
    .warc files; the checkpoint replaces the reference's check_present_avro
    idempotence probe (lib.rs:155-169). Returns the StreamingQuery.

    ``max_files_per_trigger`` bounds each micro-batch's file intake (the
    production back-pressure knob for a continuously-crawling source; also
    what tools/stream_warc_bench.py uses to measure per-batch overhead)."""
    from warcraider_spark.plans.pipeline import url_resource_from_warc_records
    from warcraider_spark.sources.warc import split_warc_files

    binary_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", "*.warc")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    records = split_warc_files(reader.load(warc_dir))
    resource = url_resource_from_warc_records(records)
    return (
        resource.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def replay_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM join through a real micro-batch run: the view stream
    joined to the purchase stream on user_id with an event-time range
    (purchase within 1 hour after the view) — the attribution-join shape.

    Both sides carry watermarks (required: they bound the join state the
    engine must retain — without them an unmatched view would be buffered
    forever). The replay uses a 30-day delay so no replayed row is ever
    late-dropped and the drained result equals the batch dual exactly; in
    production the delay is the real out-of-orderness bound and state is
    evicted past it. Time bounds compare INTEGRAL MICROSECONDS
    (unix_micros ↔ epoch_us) — events carry fractional-second timestamps
    and engines disagree at ns/µs boundaries otherwise.

    Inner stream-stream joins emit each match as soon as both rows have
    arrived (append mode); the availableNow trigger drains the staged
    files and terminates.
    """
    from warcraider_spark.tables import load_table

    staged = os.path.join(tempfile.gettempdir(), f"events_attr_{uuid.uuid4().hex[:8]}")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(staged)

    views = (
        stream_events(spark, staged, ev.schema)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
            F.unix_micros("ts").alias("view_us"),
        )
        .withWatermark("view_ts", "30 days")
    )
    buys = (
        stream_events(spark, staged, ev.schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("buy_ts"),
            F.unix_micros("ts").alias("buy_us"),
        )
        .withWatermark("buy_ts", "30 days")
    )
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("buy_us") >= F.col("view_us"))
        & (F.col("buy_us") <= F.col("view_us") + 3_600_000_000),
    ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")

    name = f"attr_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name).orderBy("user_id", "view_id", "purchase_id")


def dedup_within_watermark_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup via the built-in ``dropDuplicatesWithinWatermark``:
    the engine keeps one state row per key only until the watermark passes
    the key's event time, then evicts — bounded state for an unbounded
    stream, unlike plain ``dropDuplicates`` whose state grows forever.
    Complements streaming/stateful.py's applyInPandasWithState variant,
    which demonstrates the same policy hand-rolled with explicit timers.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def replay_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed each event TWICE (duplicated in a second file, so dups can
    arrive in a later micro-batch) through dedup_within_watermark_stream;
    exactly-once output = the distinct event set."""
    from warcraider_spark.tables import load_table

    staged = os.path.join(tempfile.gettempdir(), f"events_dup_{uuid.uuid4().hex[:8]}")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    ev.write.mode("overwrite").parquet(os.path.join(staged, "a"))
    ev.write.mode("overwrite").parquet(os.path.join(staged, "b"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(os.path.join(staged, "*"))
    )
    deduped = dedup_within_watermark_stream(stream)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def foreach_batch_idempotent_sink(out_dir: str):
    """``foreachBatch`` writer with REPLAY-SAFE (idempotent) semantics: each
    micro-batch lands in its own ``batch_id=N`` directory with
    mode=overwrite, so a batch re-delivered after a failure (Structured
    Streaming's at-least-once foreachBatch contract) overwrites its own
    previous output instead of duplicating rows — the standard
    batchId-keyed exactly-once sink pattern for stores without
    transactional MERGE. Readers see the union of batch directories
    (a partitioned parquet layout, so batch_id is also a prune key)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return write_batch


def replay_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the events table through a real stream into the idempotent
    foreachBatch parquet sink; returns the sink contents read back
    (basePath keeps batch_id out of the schema)."""
    from warcraider_spark.tables import load_table

    root = os.path.join(tempfile.gettempdir(), f"fbsink_{uuid.uuid4().hex[:8]}")
    staged, out = os.path.join(root, "in"), os.path.join(root, "out")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    ev.write.mode("overwrite").parquet(staged)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(staged)
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_idempotent_sink(out))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.option("basePath", out).parquet(os.path.join(out, "batch_id=*")).drop("batch_id")
