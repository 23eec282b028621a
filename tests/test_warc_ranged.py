"""Byte-range-parallel WARC scan: a single multi-member file fans out to
>= 4 independent range tasks whose union reproduces the monolithic parse
byte-for-byte, including the tolerant parser's sentinel-and-stop behavior
on malformed tails. Also the row emitter every WARC reader shares."""

from __future__ import annotations

import io
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from warcraider_spark.sources.warc import (
    WARC_BATCH_ROWS,
    build_warc_bytes,
    index_warc_members,
    parse_warc_stream,
    plan_warc_splits,
    read_warc,
    read_warc_ranged,
    warc_record_batches,
)


def _fixture_bytes(n=24) -> bytes:
    recs = []
    for i in range(n):
        body = f"<html><title>t{i}</title>".encode() + b"x" * ((i * 911) % 9000 + 50)
        recs.append(
            ({"WARC-Type": "response", "WARC-Target-URI": f"https://h{i}.gov.au/"}, body)
        )
    return build_warc_bytes(recs)


def _write(payload: bytes, name: str) -> str:
    d = tempfile.mkdtemp(prefix="warc_ranged_test_")
    p = os.path.join(d, name)
    with open(p, "wb") as f:
        f.write(payload)
    return p


def test_row_emitter_batches_offsets_and_sentinel():
    """The one row emitter behind every WARC reader: pandas batches of at
    most WARC_BATCH_ROWS rows, record_idx counted from first_idx, and the
    concatenated rows equal the monolithic parse of the same bytes —
    the malformed-tail sentinel row included."""
    import pandas as pd

    recs = [
        ({"WARC-Type": "response", "WARC-Target-URI": f"https://t{i}.gov.au/"}, b"p")
        for i in range(4499)
    ]
    payload = build_warc_bytes(recs) + b"GARBAGE tail\r\n"
    batches = list(warc_record_batches("file:/x/t.warc", payload, first_idx=7))
    assert WARC_BATCH_ROWS == 2000
    assert [len(b) for b in batches] == [2000, 2000, 500]
    rows = pd.concat(batches, ignore_index=True)
    assert list(rows.columns) == ["warc_file", "record_idx", "version", "headers", "content"]
    assert set(rows["warc_file"]) == {"file:/x/t.warc"}
    assert list(rows["record_idx"]) == list(range(7, 7 + 4500))
    mono = list(parse_warc_stream(payload))
    assert len(mono) == 4500 and mono[-1] == ("0", {}, b"")
    assert list(zip(rows["version"], rows["headers"], rows["content"])) == mono


def test_index_offsets_slice_parity():
    """Each indexed member, parsed from its own byte slice, equals the
    corresponding record of the monolithic parse."""
    payload = _fixture_bytes()
    offsets = index_warc_members(io.BufferedReader(io.BytesIO(payload)))
    mono = list(parse_warc_stream(payload))
    assert len(offsets) == len(mono) == 24
    bounds = offsets + [len(payload)]
    for i in range(len(offsets)):
        sliced = list(parse_warc_stream(payload[bounds[i] : bounds[i + 1]]))
        assert sliced == [mono[i]]


def test_split_planning_invariants():
    payload = _fixture_bytes()
    offsets = index_warc_members(io.BufferedReader(io.BytesIO(payload)))
    splits = plan_warc_splits(offsets, len(payload), 6)
    assert 4 <= len(splits) <= 6
    # contiguous coverage of the whole file, each range on a member boundary
    assert splits[0][1] == offsets[0] == 0
    for (i1, o1, l1), (i2, o2, _l2) in zip(splits, splits[1:]):
        assert o1 + l1 == o2
        assert o2 in offsets and offsets[i2] == o2
        assert i2 > i1
    last_i, last_o, last_l = splits[-1]
    assert last_o + last_l == len(payload)
    # malformed-only file still yields one whole-file range
    assert plan_warc_splits([], 100, 4) == [(0, 0, 100)]
    assert plan_warc_splits([], 0, 4) == []


def _split_bytes(path: str, n: int) -> int:
    """Byte budget that cuts the file at ``path`` into about ``n`` ranges."""
    return -(-os.path.getsize(path) // n)


def _rows(df):
    return sorted(
        (
            r["record_idx"],
            r["version"],
            tuple(sorted(r["headers"].items())),
            bytes(r["content"]) if r["content"] is not None else None,
        )
        for r in df.collect()
    )


def test_ranged_equals_monolithic(spark):
    p = _write(_fixture_bytes(), "big.warc")
    mono = _rows(read_warc(spark, os.path.dirname(p)))
    ranged = _rows(read_warc_ranged(spark, p, target_split_bytes=_split_bytes(p, 6)))
    assert ranged == mono
    assert len(ranged) == 24


def test_ranged_runs_parallel(spark):
    """The scale claim itself: records of ONE file are produced by >= 4
    distinct tasks (spark_partition_id), not one straggler."""
    p = _write(_fixture_bytes(), "big.warc")
    parts = (
        read_warc_ranged(spark, p, target_split_bytes=_split_bytes(p, 6))
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert parts >= 4


@pytest.mark.parametrize(
    "tail",
    [
        b"GARBAGE not a warc header\r\nmore garbage",
        b"WARC/1.0\r\nContent-Length: NOT_A_NUMBER\r\n\r\nxx",
    ],
    ids=["non-warc-tail", "bad-content-length"],
)
def test_malformed_tail_sentinel_parity(spark, tail):
    """A malformed tail lands inside the last range and reproduces the
    monolithic parser's sentinel-row-and-stop behavior exactly."""
    payload = _fixture_bytes(8) + tail
    p = _write(payload, "tail.warc")
    mono = _rows(read_warc(spark, os.path.dirname(p)))
    ranged = _rows(read_warc_ranged(spark, p, target_split_bytes=_split_bytes(p, 4)))
    assert ranged == mono
    assert ranged[-1][1] == "0"  # sentinel version from the malformed tail


def test_malformed_first_record(spark):
    """A file whose FIRST record is malformed has an empty index but must
    still produce the monolithic sentinel row via the whole-file range."""
    p = _write(b"NOT A WARC AT ALL\r\njunk", "junk.warc")
    mono = _rows(read_warc(spark, os.path.dirname(p)))
    ranged = _rows(read_warc_ranged(spark, p, target_split_bytes=_split_bytes(p, 4)))
    assert ranged == mono == [(0, "0", (), b"")]


def test_auto_mixed_directory_per_file_fanout(spark):
    """read_warc_auto on a directory mixing a small and a large file with
    a tiny byte budget: output equals the whole-file read, and the split
    planner gives the big file MORE range tasks than the small one (the
    mixed-corpus property the per-file byte budget exists for)."""
    from warcraider_spark.sources.warc import read_warc_auto

    import random

    d = tempfile.mkdtemp(prefix="warc_mixed_test_")
    small = build_warc_bytes(
        [({"WARC-Type": "response", "WARC-Target-URI": "https://s.test/"}, b"tiny")]
    )
    rng = random.Random(7)  # incompressible bodies: gzip can't shrink them
    big = build_warc_bytes(
        [
            (
                {"WARC-Type": "response", "WARC-Target-URI": f"https://h{i}.test/"},
                bytes(rng.randrange(256) for _ in range(2000)),
            )
            for i in range(24)
        ]
    )
    with open(os.path.join(d, "a-small.warc"), "wb") as f:
        f.write(small)
    with open(os.path.join(d, "b-big.warc"), "wb") as f:
        f.write(big)

    whole = _rows(read_warc(spark, d))
    # the big file exceeds the split budget, so the whole directory takes
    # the ranged reader; the small one stays a single range
    assert len(small) < 4096 < len(big)
    auto = read_warc_auto(spark, d, target_split_bytes=4096)
    assert "binaryFile" not in auto._jdf.queryExecution().analyzed().toString()
    assert _rows(auto) == whole
    # per-file fan-out: count distinct producing tasks per file
    from pyspark.sql import functions as F

    per_file = {
        r["f"]: r["parts"]
        for r in (
            auto.select(
                F.element_at(F.split("warc_file", "/"), -1).alias("f"),
                F.spark_partition_id().alias("pid"),
            )
            .groupBy("f")
            .agg(F.countDistinct("pid").alias("parts"))
            .collect()
        )
    }
    assert per_file["a-small.warc"] == 1
    assert per_file["b-big.warc"] >= 2


def test_ranged_file_uri_scheme_equals_local(spark):
    """Object-store branch mock: a file:// URI routes the
    stat, member indexing, and range reads through pyarrow.fs — the same
    code path an s3://gs:// URI takes, where read_at(length, offset) is a
    ranged GET — and must reproduce the plain-local-path ranged scan
    exactly, including the normalized binaryFile-style warc_file URI."""
    p = _write(_fixture_bytes(24), "scheme.warc")
    local = read_warc_ranged(spark, p, target_split_bytes=_split_bytes(p, 4))
    remote = read_warc_ranged(spark, "file://" + p, target_split_bytes=_split_bytes(p, 4))
    lrows = sorted(tuple(r) for r in local.collect())
    rrows = sorted(tuple(r) for r in remote.collect())
    assert lrows == rrows
    assert {r["warc_file"] for r in remote.collect()} == {"file:" + p}


def test_ranged_file_uri_directory_enumeration(spark):
    """Directory enumeration through the pyarrow.fs branch: file://dir
    lists the same non-hidden members as the local listing, and
    read_warc_auto over the URI matches the whole-file read."""
    from warcraider_spark.sources.warc import _enumerate_warc_files, read_warc_auto

    d = tempfile.mkdtemp(prefix="warc_uri_dir_")
    for name in ("a.warc", "b.warc", "_skip.warc", ".hidden"):
        with open(os.path.join(d, name), "wb") as f:
            f.write(_fixture_bytes(6))
    local = _enumerate_warc_files(d)
    via_uri = _enumerate_warc_files("file://" + d)
    assert [u[len("file://"):] for u in via_uri] == local
    whole = sorted(tuple(r) for r in read_warc(spark, d).collect())
    assert len(_fixture_bytes(6)) > 512  # over the budget: ranged branch
    auto = read_warc_auto(spark, "file://" + d, target_split_bytes=512)
    assert "binaryFile" not in auto._jdf.queryExecution().analyzed().toString()
    assert sorted(tuple(r) for r in auto.collect()) == whole


def test_unstatable_file_does_not_abort_directory_scan(spark):
    """One unstatable entry must not route a directory that also holds a
    big WARC down the monolithic path — the remaining files still stat
    and the big file still takes the ranged branch."""
    from warcraider_spark.sources import warc as W

    d = tempfile.mkdtemp(prefix="warc_unstat_")
    big = os.path.join(d, "big.warc")
    with open(big, "wb") as f:
        f.write(_fixture_bytes(24))
    bad = os.path.join(d, "bad.warc")
    with open(bad, "wb") as f:
        f.write(_fixture_bytes(2))

    real_size = W._file_size

    def flaky_size(p):
        if os.path.basename(str(p)) == "bad.warc":
            raise OSError("simulated stat failure")
        return real_size(p)

    import unittest.mock as mock

    # plain-function patch (a MagicMock would fail cloudpickle when the
    # ranged branch creates its mapInPandas UDFs under the patch)
    assert len(_fixture_bytes(24)) > 1024  # over the budget: ranged branch
    with mock.patch.object(W, "_file_size", flaky_size):
        df = W.read_warc_auto(spark, d, target_split_bytes=1024)
        plan = df._jdf.queryExecution().analyzed().toString()
    # routing assertion: the scan must be the ranged mapInPandas plan,
    # not the monolithic binaryFile fallback the aborted any() used to
    # cause — binaryFile appears only in the whole-file branch
    assert "binaryFile" not in plan
    assert "MapInPandas" in plan


def test_unreadable_file_skipped_at_executor_index_time(spark):
    """read_warc_ranged's executor-side make_splits must
    skip a file that enumerates but cannot be statted/opened (dangling
    symlink — the object-deleted-between-enumerate-and-index race) and
    still return every record of the readable files, instead of failing
    the whole ranged job at index time."""
    d = tempfile.mkdtemp(prefix="warc_dangling_")
    good = os.path.join(d, "good.warc")
    with open(good, "wb") as f:
        f.write(_fixture_bytes(24))
    # dangling symlink: glob enumeration passes it through unstatted,
    # the driver-side stat already tolerates it (size=0), and the
    # executor-side index must now skip it rather than raise
    os.symlink(os.path.join(d, "vanished.warc"), os.path.join(d, "bad.warc"))
    ranged = _rows(read_warc_ranged(
        spark, os.path.join(d, "*.warc"), target_split_bytes=_split_bytes(good, 4)
    ))
    mono = _rows(read_warc(spark, good))
    assert ranged == mono
    assert len(ranged) == 24


def test_mock_object_store_one_ranged_get_per_split():
    """Drive the non-local-scheme branch with an S3-style
    in-memory object store (pyarrow's _MockFileSystem) and assert the
    byte-level contract the 100 GB-file story rests on — the stat, the
    member indexing, and EXACTLY ONE read_at ranged GET per planned
    split, at the split plan's offsets/lengths, whose union reproduces
    the monolithic parse."""
    import unittest.mock as mock

    import pyarrow.fs as pafs

    from warcraider_spark.sources import warc as W

    payload = _fixture_bytes(24)
    base = pafs._MockFileSystem()
    base.create_dir("bucket")
    with base.open_output_stream("bucket/crawl.warc") as out:
        out.write(payload)

    gets: list[tuple[int, int]] = []

    class RecordingFile:
        def __init__(self, f):
            self._f = f

        def read_at(self, length, offset):
            gets.append((offset, length))
            return self._f.read_at(length, offset)

        def __getattr__(self, name):  # BufferedReader duck-typing passthrough
            return getattr(self._f, name)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()
            return False

    class RecordingFS:
        def get_file_info(self, paths):
            return base.get_file_info(paths)

        def open_input_file(self, p):
            return RecordingFile(base.open_input_file(p))

    def mock_pafs_for(path):
        assert path.startswith("mock://")
        return RecordingFS(), path[len("mock://") :]

    uri = "mock://bucket/crawl.warc"
    with mock.patch.object(W, "_pafs_for", mock_pafs_for):
        # the exact sequence one ranged task family performs
        size = W._file_size(uri)
        assert size == len(payload)
        import io

        with W._open_stream(uri) as f:
            offsets = W.index_warc_members(f)
        splits = W.plan_warc_splits(offsets, size, 6)
        assert len(splits) >= 4
        gets.clear()  # count only the data-plane reads, not the index pass
        records = []
        for first_idx, off, length in splits:
            data = W._read_range(uri, off, length)
            for i, rec in enumerate(W.parse_warc_stream(data)):
                records.append((first_idx + i, rec))
    # one ranged GET per split, at exactly the planned offset/length
    assert gets == [(off, length) for _first, off, length in splits]
    mono = list(W.parse_warc_stream(payload))
    assert sorted(records) == list(enumerate(mono))
    assert len(mono) == 24
