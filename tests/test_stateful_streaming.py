"""applyInPandasWithState operator tests over real micro-batch streams,
checked against the batch truth.

The events are staged as 12 files, so the file source (8 files per
trigger) replays them as 2 micro-batches and per-key state must carry
from the first batch to the second."""

from __future__ import annotations

import os
import tempfile
import time
import uuid

from pyspark.sql import functions as F

from warcraider_spark.streaming.stateful import (
    streaming_seen_filter,
    streaming_spend_tracker,
)
from warcraider_spark.streaming.windows import stream_events
from warcraider_spark.tables import load_table

N_FILES = 12
PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def _stage(ev, prefix: str) -> str:
    """Write ``ev`` as N_FILES ts-ordered files whose modification times
    rise with ts: the file source takes the oldest files first, so the
    stream replays the events in event-time order."""
    staged = os.path.join(tempfile.gettempdir(), f"{prefix}_{uuid.uuid4().hex[:8]}")
    ev.repartitionByRange(N_FILES, "ts").write.mode("overwrite").parquet(staged)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(files) == N_FILES
    t0 = time.time() - 3600
    for i, f in enumerate(files):
        os.utime(os.path.join(staged, f), (t0 + i, t0 + i))
    return staged


def _run(out, name: str, n_rows: int) -> None:
    """Drain the staged stream into a memory table; all ``n_rows`` input
    rows must arrive in at least 2 micro-batches.

    The query is stopped explicitly once every row has arrived: with a
    processing-time timeout each trigger constructs a no-data batch, so
    such an availableNow query never terminates on its own (and
    ``processAllAvailable`` never returns)."""
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    rows_in: dict[int, int] = {}
    deadline = time.time() + 180
    try:
        while sum(rows_in.values()) < n_rows and time.time() < deadline:
            done = q.awaitTermination(0.5)
            rows_in.update((p["batchId"], p["numInputRows"]) for p in q.recentProgress)
            if done:
                break
    finally:
        q.stop()
    assert sum(rows_in.values()) == n_rows, rows_in
    assert sum(1 for n in rows_in.values() if n > 0) >= 2, rows_in


def test_stateful_seen_filter(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events").select("user_id", "ts")
    staged = _stage(ev, "ev_state")

    stream = stream_events(spark, staged, ev.schema).select("user_id", "ts")
    name = f"seen_{uuid.uuid4().hex[:8]}"
    _run(streaming_seen_filter(stream), name, ev.count())
    rows = spark.table(name).collect()

    # each user emitted exactly once across all micro-batches
    truth = {r.user_id: r.first for r in ev.groupBy("user_id").agg(F.min("ts").alias("first")).collect()}
    emitted_users = [r.user_id for r in rows]
    assert sorted(emitted_users) == sorted(truth)
    # the files replay in ts order, so a user's first sighting is in the
    # batch that holds its global minimum ts
    for r in rows:
        assert r.first_ts == truth[r.user_id], r


def test_transform_with_state_spend_tracker(spark, sf_smoke):
    """Running totals across micro-batches: the last emission per user
    equals the batch sum and count, and the operator leaves the session's
    state-store provider as it found it."""
    ev = load_table(spark, sf_smoke, "events").select("user_id", "ts", "value")
    staged = _stage(ev, "ev_spend")

    stream = stream_events(spark, staged, ev.schema).select("user_id", "value")
    provider = spark.conf.get(PROVIDER_CONF, None)
    out = streaming_spend_tracker(stream)
    assert spark.conf.get(PROVIDER_CONF, None) == provider
    name = f"spend_{uuid.uuid4().hex[:8]}"
    _run(out, name, ev.count())
    rows = spark.table(name).collect()

    # a user updated in both batches is emitted twice: state was carried
    assert len(rows) > len({r.user_id for r in rows})
    got = {}
    for r in sorted(rows, key=lambda r: r.n_events):
        got[r.user_id] = (r.total_value, r.n_events)
    truth = {
        r.user_id: (r.total, r.n)
        for r in ev.groupBy("user_id")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(truth)
    for u in truth:
        assert got[u][1] == truth[u][1]
        assert abs(got[u][0] - truth[u][0]) < 1e-6
