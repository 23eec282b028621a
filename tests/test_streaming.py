"""Structured Streaming tests (SURVEY §2.10): the streaming window result
must equal the batch dual, and the streaming WARC pipeline must be
exactly-once across restarts (checkpoint replaces the reference's
check_present_avro probe, lib.rs:155-169)."""

from __future__ import annotations

import os

import pytest

from warcraider_spark.streaming import windows
from warcraider_spark.streaming.windows import replay_events_stream, windowed_counts_stream
from warcraider_spark.tables import load_table


def test_stream_equals_batch(spark, sf_smoke):
    streamed = {tuple(r) for r in replay_events_stream(spark, sf_smoke).collect()}
    batch = {
        tuple(r)
        for r in windowed_counts_stream(load_table(spark, sf_smoke, "events")).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_replay_timeout_stops_query_and_cleans_up(spark, sf_smoke, tmp_path, monkeypatch):
    """A replay that does not drain in time raises instead of returning a
    partial table, and leaves neither a running query nor its staged
    copy of the events behind."""
    monkeypatch.setattr(windows.tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(windows, "REPLAY_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        replay_events_stream(spark, sf_smoke)
    assert spark.streams.active == []
    assert os.listdir(tmp_path) == []


def test_registry_replays_leave_no_staged_copy(spark, sf_smoke, tmp_path, monkeypatch):
    """q030, q115 and q052 each stage the events table for their stream;
    every staged copy is gone once the query has run."""
    from warcraider_spark.operators.windows_events import (
        q030_watermark_semantics,
        q052_stream_stream_join,
        q115_stream_static_enrich,
    )

    monkeypatch.setattr(windows.tempfile, "tempdir", str(tmp_path))
    for builder in (q030_watermark_semantics, q115_stream_static_enrich, q052_stream_stream_join):
        assert builder(spark, sf_smoke).count() > 0
    assert spark.streams.active == []
    assert os.listdir(tmp_path) == []


def test_streaming_warc_exactly_once(spark, tmp_path):
    from warcraider_spark.sources.warc import build_warc_bytes
    from warcraider_spark.streaming.windows import stream_warc_pipeline

    warc_dir = tmp_path / "in"
    warc_dir.mkdir()
    body = b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n\r\n<html><head><title>T</title></head><body>hello world</body></html>"
    raw = build_warc_bytes(
        [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": "https://www.example.gov.au/a",
                    "Uncompressed-Content-Length": "120",
                },
                body,
            )
        ]
    )
    (warc_dir / "f1.warc").write_bytes(raw)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = stream_warc_pipeline(spark, str(warc_dir), out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1

    # restart with no new files → checkpoint prevents reprocessing
    q2 = stream_warc_pipeline(spark, str(warc_dir), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1

    # a new file arrives → exactly the new record is appended
    (warc_dir / "f2.warc").write_bytes(
        build_warc_bytes(
            [
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "https://www.example.gov.au/b",
                        "Uncompressed-Content-Length": "120",
                    },
                    body,
                )
            ]
        )
    )
    q3 = stream_warc_pipeline(spark, str(warc_dir), out, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2


def test_stream_static_join_equals_batch(spark, sf_smoke):
    """The stream-static enrichment must land on the batch join's table."""
    from warcraider_spark.streaming.windows import (
        replay_enriched_stream,
        stream_static_enrich,
    )

    streamed = {tuple(r) for r in replay_enriched_stream(spark, sf_smoke).collect()}
    batch = {
        tuple(r)
        for r in stream_static_enrich(
            load_table(spark, sf_smoke, "events"),
            load_table(spark, sf_smoke, "customer"),
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def replay_dedup_stream(spark, sf_dir: str, root: str):
    """Feed each event TWICE (duplicated in a second file, so dups can
    arrive in a later micro-batch) through dedup_within_watermark_stream;
    exactly-once output = the distinct event set."""
    from warcraider_spark.streaming.windows import dedup_within_watermark_stream

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    ev.write.mode("overwrite").parquet(os.path.join(root, "a"))
    ev.write.mode("overwrite").parquet(os.path.join(root, "b"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(os.path.join(root, "*"))
    )
    q = (
        dedup_within_watermark_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_within_watermark")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "dedup replay did not drain"
    return spark.table("dedup_within_watermark")


def test_stream_dedup_within_watermark(spark, sf_smoke, tmp_path):
    """Every event fed twice (second copy in a separate file / possibly a
    later micro-batch); the watermark-bounded dedup must emit each
    event_id exactly once — equal to the batch distinct set."""
    out = replay_dedup_stream(spark, sf_smoke, str(tmp_path))
    n_distinct = load_table(spark, sf_smoke, "events").select("event_id").distinct().count()
    assert out.select("event_id").distinct().count() == n_distinct
    assert out.count() == n_distinct


def replay_foreach_batch_sink(spark, sf_dir: str, root: str):
    """Run the events table through a real stream into the idempotent
    foreachBatch parquet sink; returns the sink contents read back
    (basePath keeps batch_id out of the schema)."""
    from warcraider_spark.streaming.windows import foreach_batch_idempotent_sink

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
    assert q.awaitTermination(120), "foreachBatch replay did not drain"
    return spark.read.option("basePath", out).parquet(os.path.join(out, "batch_id=*")).drop("batch_id")


def test_foreach_batch_sink_idempotent_on_retry(spark, sf_smoke, tmp_path):
    """The foreachBatch sink must be replay-safe: re-delivering an
    already-written batch_id (the at-least-once failure mode) leaves the
    sink contents byte-identical instead of duplicated."""
    from warcraider_spark.streaming.windows import foreach_batch_idempotent_sink

    out = replay_foreach_batch_sink(spark, sf_smoke, str(tmp_path))
    ev = load_table(spark, sf_smoke, "events").select("event_id", "ts", "event_type")
    n_events = ev.count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events

    # simulate a retry: re-deliver a batch with a batch_id that was
    # already committed, into a fresh sink fed once before
    sink_dir = out.inputFiles()[0]
    root = sink_dir[: sink_dir.index("batch_id=")]
    writer = foreach_batch_idempotent_sink(root.rstrip("/"))
    existing_ids = sorted(
        int(d.split("=")[1]) for d in os.listdir(root.replace("file:", "")) if d.startswith("batch_id=")
    )
    replayed = ev.limit(50)
    writer(replayed, existing_ids[0])  # overwrite, not append
    again = spark.read.option("basePath", root).parquet(root + "batch_id=*").drop("batch_id")
    # batch 0's contents changed to the replayed rows, but no duplication:
    # every event_id still appears at most once per batch directory
    assert again.groupBy("event_id").count().filter("count > 2").count() == 0
    again_count = again.count()  # materialize before the retry invalidates the listing
    writer(replayed, existing_ids[0])  # second identical retry
    final = spark.read.option("basePath", root).parquet(root + "batch_id=*").drop("batch_id")
    assert final.count() == again_count


def test_python_streaming_source_exactly_once_restart(spark, tmp_path):
    """Custom Python streaming data source (sources/eventgen.py): rows are
    the analytic sequence with no gaps or duplicates, and a SECOND run
    from the same checkpoint resumes at the committed offset — the
    engine's offset log + deterministic readBetweenOffsets replay give
    exactly-once output."""
    import time

    from warcraider_spark.sources.eventgen import EventGenDataSource, expected_rows

    spark.dataSource.register(EventGenDataSource)
    ckpt = os.path.join(str(tmp_path), "ckpt")
    out = os.path.join(str(tmp_path), "out")

    def run_once(min_batches: int, timeout_s: float = 120.0) -> None:
        """Run until at least ``min_batches`` micro-batches COMMIT (polled
        via recentProgress), not for a fixed wall-clock sleep — on a loaded
        machine fixed sleeps can cover zero completed batches and the test
        flakes instead of failing meaningfully (ADVICE r2 #4)."""
        q = (
            spark.readStream.format("eventgen")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            done = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if len(done) >= min_batches:
                break
            time.sleep(0.25)
        else:
            q.stop()
            raise AssertionError(f"fewer than {min_batches} committed batches in {timeout_s}s")
        q.stop()
        q.awaitTermination(60)

    run_once(min_batches=3)
    first = sorted(r.event_seq for r in spark.read.parquet(out).collect())
    assert len(first) >= 1, "stream produced no rows"
    run_once(min_batches=2)
    rows = sorted(
        (r.event_seq, r.user_id, r.value) for r in spark.read.parquet(out).collect()
    )
    seqs = [r[0] for r in rows]
    assert seqs == list(range(len(seqs))), "gaps or duplicates after restart"
    assert len(seqs) > len(first), "restart did not resume the stream"
    assert rows == expected_rows(len(seqs)), "content diverged from the analytic rule"
