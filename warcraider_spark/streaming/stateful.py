"""Custom stateful streaming operators (SURVEY §2.10:
``applyInPandasWithState`` for custom stateful operators).

``streaming_seen_filter`` — stateful exactly-once-per-key emission: the
first event per user_id passes, later ones are dropped, with per-key state
carried across micro-batches and a processing-time timeout evicting idle
keys (bounded state at stream scale — the streaming form of
dropDuplicates on a key, but with an explicit eviction policy the
built-in lacks).

``streaming_spend_tracker`` — running per-user spend total and event
count, carried in per-key state and re-emitted whenever the key appears.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "streaming_seen_filter",
    "SEEN_OUTPUT_SCHEMA",
    "streaming_spend_tracker",
    "SPEND_OUTPUT_SCHEMA",
]

SEEN_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("first_ts", TimestampType(), True),
        StructField("n_suppressed", LongType(), False),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("seen", LongType(), True),
        StructField("suppressed", LongType(), True),
    ]
)


def _dedup_fn(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    seen, suppressed = state.get if state.exists else (0, 0)
    first_ts = None
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        batch_min = pdf["ts"].min()
        if seen == 0:
            first_ts = batch_min
            suppressed += len(pdf) - 1
            seen = 1
        else:
            suppressed += len(pdf)
    state.update((seen, suppressed))
    state.setTimeoutDuration(3600 * 1000)  # evict idle keys after 1h
    if first_ts is not None:
        yield pd.DataFrame(
            [{"user_id": key[0], "first_ts": first_ts, "n_suppressed": suppressed}]
        )


def streaming_seen_filter(events: DataFrame) -> DataFrame:
    """events stream → one row per user on FIRST sighting, with a running
    suppression count in per-key state. Use on a streaming DataFrame with
    update output mode."""
    from warcraider_spark.dist import ensure_package_on_executors

    ensure_package_on_executors(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        _dedup_fn,
        outputStructType=SEEN_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


SPEND_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("total_value", DoubleType(), True),
        StructField("n_events", LongType(), True),
    ]
)

_SPEND_STATE_SCHEMA = StructType(
    [
        StructField("total", DoubleType(), True),
        StructField("n", LongType(), True),
    ]
)


def _spend_fn(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    total, n = state.get if state.exists else (0.0, 0)
    for pdf in pdf_iter:
        total += float(pdf["value"].sum())
        n += len(pdf)
    state.update((total, n))
    yield pd.DataFrame([{"user_id": key[0], "total_value": total, "n_events": n}])


def streaming_spend_tracker(events: DataFrame) -> DataFrame:
    """events stream (user_id, value) → running per-user totals, emitted
    each micro-batch the key appears in (update mode).

    Each key holds one fixed-width ``(total, n)`` state row with no
    timeout, so state size is O(distinct users) and every emission is the
    key's total over the whole stream so far."""
    from warcraider_spark.dist import ensure_package_on_executors

    ensure_package_on_executors(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        _spend_fn,
        outputStructType=SPEND_OUTPUT_SCHEMA,
        stateStructType=_SPEND_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
