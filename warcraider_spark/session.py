"""SparkSession factory.

Replaces the reference's process-level work assignment (REPLICAS/OFFSET env
vars + CPU-affinity launchers, /root/reference/src/main.rs:129-151,
runall-*.bat) with Spark's scheduler: files become partitions, executors
replace processes.

Config choices (scale rationale):
- AQE on: runtime partition coalescing + skew-join splitting replace the
  reference's hand-tuned 2x50k record batches (main.rs:159-160).
- ``spark.sql.shuffle.partitions`` = the local core count
  (``SPARK_GRAFT_CPUS``, else ``os.cpu_count()``) unless the caller passes
  one; a real cluster overrides via spark-submit — AQE coalesces down so
  oversizing is safe.
- Arrow on + capped batch size: bounds pandas-UDF memory exactly like the
  reference's 50k-record batching bounded its Avro writer.
- mapKeyDedupPolicy=LAST_WIN: the reference's header/meta-tag map inserts are
  last-wins (main.rs:310-314, lib.rs:287) — map_from_entries must match.
- session timezone UTC: deterministic timestamp semantics for oracle hashing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "warcraider_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Shuffle partitions track the core count: a fixed floor (say 32)
        # would make a local[8] run plan 32-way shuffles, decoupling plan
        # parallelism from the core count and making a scaling measurement
        # uninformative. AQE coalescing still merges small partitions
        # either way; a real cluster overrides via spark-submit / the
        # explicit parameter.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores timestamp[ns]; Spark's parquet reader rejects
        # TIMESTAMP(NANOS) — read as long and convert in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
