"""Structured Streaming operators (SURVEY §2.10).

The reference's batch loop with GCS-existence idempotence checks
(/root/reference/src/lib.rs:155-169, main.rs:153-164) maps to the file
source + checkpointing: each WARC/parquet file is processed exactly once,
restart resumes from the checkpoint instead of `gsutil stat` probes.

Operators:
- ``stream_events``: file-source readStream over an events-shaped
  directory;
- ``windowed_counts_stream``: watermarked tumbling-window aggregation with
  integer milli-unit sums. It does not call the batch builders in
  operators.windows_events; what it shares with them is the window
  (``F.window("ts", "1 hour")``, epoch-aligned) and the formatted
  ``window_start`` column, so q030's batch SQL dual certifies it;
- ``stream_static_enrich``: stream-static join + windowed revenue;
- ``dedup_within_watermark_stream``: watermark-bounded streaming dedup;
- ``foreach_batch_idempotent_sink``: batchId-keyed replay-safe writer;
- ``stream_warc_pipeline``: streaming variant of the WARC→url_resource
  pipeline with checkpointed exactly-once sink.

``replay_events_stream``, ``replay_enriched_stream`` and
``replay_attribution_stream`` (q030, q115, q052) replay the driver's
events table through a REAL stream (availableNow trigger → memory sink)
and return the drained result; they share one runner, ``_replay``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable

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

# Seconds a replay may take to drain its staged events before it is
# stopped and fails.
REPLAY_TIMEOUT_S = 300


def stream_events(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream: new files under ``path`` become micro-batches.
    maxFilesPerTrigger bounds batch size the way the reference's 2×50k
    record batching bounded memory (main.rs:159-160)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(path)
    )


def _replay(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    build: Callable[[Callable[[], DataFrame]], DataFrame],
    output_mode: str,
) -> DataFrame:
    """Run the events table through a real micro-batch stream and return
    the memory sink's table.

    The events are staged once as parquet (events.parquet stores ns
    timestamps the schema API can't declare). ``build`` receives a
    zero-argument factory — each call a fresh file-source stream over the
    staged copy — and returns the streaming result, which drains into a
    memory sink under ``availableNow``. The staged copy is deleted once
    the query has ended. A query still running after ``REPLAY_TIMEOUT_S``
    is stopped and raises ``TimeoutError`` rather than return a partial
    table.
    """
    from warcraider_spark.tables import load_table

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    staged = os.path.join(tempfile.gettempdir(), name)
    try:
        ev = load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").parquet(staged)
        q = (
            build(lambda: stream_events(spark, staged, ev.schema))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            done = q.awaitTermination(REPLAY_TIMEOUT_S)
        finally:
            q.stop()
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    if not done:
        raise TimeoutError(f"stream replay {name} did not drain in {REPLAY_TIMEOUT_S} s")
    return spark.table(name)


def windowed_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the watermark
    are dropped by the engine; state for closed windows is evicted (bounded
    state at 100 TB/day event volumes).

    Values are summed as milli-quantized BIGINT, not rounded doubles:
    integer addition is order-independent, so the result is bit-identical
    no matter how micro-batches slice the input — the property that lets a
    REAL stream run be hash-compared against a batch SQL oracle (q030)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)")).alias("sum_value_milli"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value_milli",
        )
    )


def replay_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``windowed_counts_stream`` over the replayed events (complete-mode
    memory sink, 1-hour watermark)."""
    return _replay(
        spark, sf_dir, "events_stream", lambda source: windowed_counts_stream(source()), "complete"
    ).orderBy("window_start", "event_type")


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
    """``stream_static_enrich`` of the replayed events against the static
    customer table (complete-mode memory sink)."""
    from warcraider_spark.tables import load_table

    customers = load_table(spark, sf_dir, "customer")
    return _replay(
        spark,
        sf_dir,
        "events_enrich",
        lambda source: stream_static_enrich(source(), customers),
        "complete",
    ).orderBy("window_start", "segment")


def stream_warc_pipeline(
    spark: SparkSession, warc_dir: str, out_path: str, checkpoint: str
) -> "object":
    """Streaming WARC→url_resource: the binaryFile source watches for new
    .warc files; the checkpoint replaces the reference's check_present_avro
    idempotence probe (lib.rs:155-169). Returns the StreamingQuery."""
    from warcraider_spark.plans.pipeline import url_resource_from_warc_records
    from warcraider_spark.sources.warc import split_warc_files

    binary_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", "*.warc")
        .load(warc_dir)
    )
    resource = url_resource_from_warc_records(split_warc_files(raw))
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

    def attribution(source) -> DataFrame:
        views = (
            source()
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
            source()
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("b_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("buy_ts"),
                F.unix_micros("ts").alias("buy_us"),
            )
            .withWatermark("buy_ts", "30 days")
        )
        return views.join(
            buys,
            (F.col("v_user") == F.col("b_user"))
            & (F.col("buy_us") >= F.col("view_us"))
            & (F.col("buy_us") <= F.col("view_us") + 3_600_000_000),
        ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")

    return _replay(spark, sf_dir, "events_attr", attribution, "append").orderBy(
        "user_id", "view_id", "purchase_id"
    )


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
