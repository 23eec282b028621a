"""Per-round lineage cuts for iterative operators (CC, PageRank-style
loops, k-means, BPE merges, dedup clustering).

Iterative DataFrame loops must cut lineage each round or the plan tree
grows O(rounds) and planning time explodes. ``localCheckpoint`` does that
by storing blocks on EXECUTORS — fast, but on a real cluster a lost or
preempted executor loses its blocks and fails the whole job partway
through a long iteration.

``cut_lineage`` keeps localCheckpoint as the local default and switches
to RELIABLE ``checkpoint()`` against fault-tolerant storage (HDFS / object
store) when a directory is configured, either via
``set_reliable_checkpoint_dir(path)`` or the WARCRAIDER_CHECKPOINT_DIR
environment variable. With the reliable path an executor loss costs one
recompute of the lost partitions from the last checkpoint, not the job.

Usage is postfix via DataFrame.transform so call chains read unchanged:

    e = edges.filter(...).distinct().transform(cut_lineage)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

__all__ = [
    "cut_lineage",
    "cut_lineage_eager",
    "range_presort",
    "set_reliable_checkpoint_dir",
    "clear_reliable_checkpoint_dir",
    "reliable_checkpoint_dir",
]

_UNSET = object()  # distinguishes "never configured" from an explicit None
_dir: object = _UNSET
# (applicationId, dir) we last pushed — keyed by context so a context
# restart (new applicationId) always re-points, even when the configured
# dir string is unchanged and the NEW context has a user-set dir of its
# own that would otherwise satisfy isDefined().
_last_set: tuple[str, str] | None = None


def set_reliable_checkpoint_dir(path: str | None) -> None:
    """Set the fault-tolerant checkpoint directory. Takes precedence over
    WARCRAIDER_CHECKPOINT_DIR; an explicit ``None`` DISABLES reliable
    checkpointing even when the env var is set. Use
    ``clear_reliable_checkpoint_dir`` to restore the env-var fallback."""
    global _dir
    _dir = path


def clear_reliable_checkpoint_dir() -> None:
    """Forget any explicit setting; WARCRAIDER_CHECKPOINT_DIR applies again."""
    global _dir
    _dir = _UNSET


def reliable_checkpoint_dir() -> str | None:
    if _dir is not _UNSET:
        return _dir  # type: ignore[return-value]
    return os.environ.get("WARCRAIDER_CHECKPOINT_DIR") or None


def _cut(df: DataFrame, eager: bool) -> DataFrame:
    """Reliable checkpoint when a directory is configured, localCheckpoint
    otherwise."""
    global _last_set
    d = reliable_checkpoint_dir()
    if not d:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # getCheckpointDir() returns a per-set UUID subdirectory, so it can't
    # be compared to `d` directly; track the dir we last pushed ourselves
    # and re-point the JVM context whenever the configured one changes (or
    # nothing was ever set for this context).
    key = (sc.applicationId, d)
    if key != _last_set or not sc._jsc.sc().getCheckpointDir().isDefined():
        sc.setCheckpointDir(d)
        _last_set = key
    return df.checkpoint(eager=eager)


def cut_lineage(df: DataFrame) -> DataFrame:
    """Cut the plan lineage of ``df``: reliable checkpoint when a
    directory is configured, localCheckpoint otherwise. Lazy in both
    paths — materialization happens at the round's action."""
    return _cut(df, eager=False)


def cut_lineage_eager(df: DataFrame) -> DataFrame:
    """Eager variant of ``cut_lineage`` for loops that use the
    checkpoint materialization itself as the round's ONLY action
    (alternating_components collects its convergence signature through
    ``observe()`` metrics during this job, so no separate signature
    action runs per round). Same reliable-vs-local routing."""
    return _cut(df, eager=True)


def range_presort(df: DataFrame, *keys: str, partitions: int | None = None) -> DataFrame:
    """Range-partition ``df`` by a query's presentation-sort keys BEFORE
    its expensive per-row work.

    A trailing ``.orderBy(keys)`` plans as a range Exchange whose boundary
    sampling EXECUTES THE CHILD A SECOND TIME (RangePartitioner reservoir-
    samples the child RDD, iterating every partition to completion). When
    the child is an exchange-free map pipeline — an Arrow kernel, fused
    higher-order projections — the entire computation runs twice per
    action. Range-partitioning the INPUT by the same keys instead (a) puts
    the sampling on the cheap scan, (b) lets the final global sort
    degenerate to ``sortWithinPartitions(keys)`` (range partitions are
    contiguous, so partition-local sort IS the total order), and (c) runs
    the per-row work once, post-exchange, at full parallelism — the local
    single-row-group parquet files otherwise scan as ONE task.

    Partition count defaults to ``defaultParallelism`` (scale-adaptive:
    cores locally, cluster size under a real scheduler), never a constant.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, *keys)
