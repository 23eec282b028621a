"""Custom Python STREAMING data source (Spark 4 `pyspark.sql.datasource`):
a deterministic event generator with real offset tracking.

Offsets are JSON dicts checkpointed by the engine; `read` advances the
offset and returns the rows for exactly that range, so a query restarted
from a checkpoint resumes at the committed offset with no duplicates and
no gaps (the engine replays uncommitted prefetched ranges via
`readBetweenOffsets`).

Scale notes: a SimpleDataSourceStreamReader prefetches on the driver —
right for control-plane-sized streams (rates, audit events, fixtures).
A partitioned high-volume source implements `streamReader()` instead,
returning per-partition `InputPartition`s so executors pull in parallel;
the offset algebra below is identical in both shapes.

Event rule (shared with tests): event i has user_id = i % 50,
value = (i % 997) / 10.0, batch-deterministic, so any prefix of the
stream has an analytic expectation.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

__all__ = ["EventGenDataSource", "EVENTS_PER_BATCH", "expected_rows"]

EVENTS_PER_BATCH = 20
N_USERS = 50


def _row(i: int) -> tuple[int, int, float]:
    return i, i % N_USERS, (i % 997) / 10.0


def expected_rows(n: int) -> list[tuple[int, int, float]]:
    """Analytic truth for the first n emitted events (test oracle)."""
    return [_row(i) for i in range(n)]


class _EventGenStreamReader(SimpleDataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        s = int(start["next"])
        e = s + EVENTS_PER_BATCH
        return iter([_row(i) for i in range(s, e)]), {"next": e}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # deterministic regeneration — replay after restart re-derives the
        # exact same rows for the committed range
        return iter([_row(i) for i in range(int(start["next"]), int(end["next"]))])


class EventGenDataSource(DataSource):
    """spark.readStream.format("eventgen").load() → (event_seq, user_id, value)."""

    @classmethod
    def name(cls) -> str:
        return "eventgen"

    def schema(self) -> str:
        return "event_seq long, user_id long, value double"

    def simpleStreamReader(self, schema) -> _EventGenStreamReader:  # noqa: ARG002
        return _EventGenStreamReader()
