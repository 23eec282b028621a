"""WARC source (SURVEY §2.1, §2.9 #1).

Replaces the reference's sequential ``rust_warc`` reader loop
(/root/reference/src/main.rs:199-226) with Spark reads whose record
splitting runs in ``mapInPandas``: records stream out in Arrow batches of
at most ``WARC_BATCH_ROWS`` rows. The REPLICAS/OFFSET env-var sharding and
the 2×50k record batching (main.rs:129-164) disappear — Spark's scheduler
and the batch bound limit parallelism and memory instead.

Every reader hands (uri, bytes, first_idx) to one row emitter,
``warc_record_batches``; ``split_warc_files`` is the one ``mapInPandas``
splitter over ``binaryFile`` rows, shared by the batch reader and the
streaming pipeline.

Scale notes: ``read_warc`` never splits a file (``binaryFile`` is not
splittable), but it does not give each file its own task either: Spark
packs whole files into tasks up to a byte budget of
``min(maxPartitionBytes, max(openCostInBytes, total bytes / cores))``,
each file counted with a 4 MiB open cost — so 8 small files at local[2]
run as 2 tasks. That is right when the corpus is many small files. For the
skewed-file-size case (one 100 GB WARC = one straggler task),
``read_warc_ranged`` byte-splits a single file the way Common Crawl's CDX
sidecars do: WARC members are individually gzipped, so a member-offset
index turns one file into N (path, offset, length) range tasks, each
independently parseable — the same shape as q196's restart-segment
parallel JPEG decode, applied to the container. ``index_warc_members`` is
the index builder (header-only scan, payloads seek-skipped); at production
scale the index is computed once at ingest and persisted as a CDX-style
sidecar table instead of being rebuilt per read (the reference's
intra-file record-range scan, main.rs:159-160, 205-219, is the sequential
ancestor of this shape). ``read_warc_auto`` picks between the two.

Also provides ``build_warc_bytes`` to synthesize test fixtures
(FIXTURES B1).
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "WARC_RECORD_SCHEMA",
    "WARC_BATCH_ROWS",
    "parse_warc_stream",
    "warc_record_batches",
    "split_warc_files",
    "read_warc",
    "read_warc_ranged",
    "read_warc_auto",
    "index_warc_members",
    "plan_warc_splits",
    "build_warc_bytes",
]

# FIXTURES B1 post-source schema
WARC_RECORD_SCHEMA = StructType(
    [
        StructField("warc_file", StringType(), False),
        StructField("record_idx", IntegerType(), False),
        StructField("version", StringType(), False),
        StructField("headers", MapType(StringType(), StringType()), False),
        StructField("content", BinaryType(), True),
    ]
)
_WARC_COLUMNS = WARC_RECORD_SCHEMA.fieldNames()

# rows per pandas batch out of the splitters: bounds a worker's memory
# for files with many small records
WARC_BATCH_ROWS = 2000


def parse_warc_stream(data: bytes) -> Iterator[tuple[str, dict[str, str], bytes]]:
    """Iterate (version, headers, content) over a raw WARC byte stream.

    Tolerant reader: a malformed record header yields the sentinel version
    "0" with empty headers/content (the reference's warc_result! macro
    emits the same sentinel on iterator errors, main.rs:2-20) and stops.
    """
    stream = io.BufferedReader(io.BytesIO(data))
    while True:
        line = stream.readline()
        if not line:
            return
        if line.strip() == b"":
            continue
        if not line.startswith(b"WARC/"):
            yield "0", {}, b""
            return
        version = line.decode("ascii", "replace").strip().split("/", 1)[1]
        headers: dict[str, str] = {}
        while True:
            hline = stream.readline()
            if not hline or hline.strip() == b"":
                break
            if b":" in hline:
                k, _, v = hline.decode("utf-8", "replace").partition(":")
                headers[k.strip()] = v.strip()
        try:
            length = int(headers.get("Content-Length", "0"))
        except ValueError:
            yield "0", {}, b""
            return
        content = stream.read(length)
        yield version, headers, content


def warc_record_batches(uri: str, data: bytes, first_idx: int = 0) -> Iterator:
    """The row emitter every WARC reader shares: the records of one byte
    stream as pandas batches of WARC_RECORD_SCHEMA rows, at most
    ``WARC_BATCH_ROWS`` rows each. ``record_idx`` counts from
    ``first_idx`` (a ranged slice starts at its first member's index);
    the malformed-tail sentinel row comes through as an ordinary row."""
    import pandas as pd

    rows: list[tuple] = []
    for idx, (version, headers, content) in enumerate(parse_warc_stream(data), first_idx):
        rows.append((uri, idx, version, headers, content))
        if len(rows) == WARC_BATCH_ROWS:
            yield pd.DataFrame(rows, columns=_WARC_COLUMNS)
            rows = []
    if rows:
        yield pd.DataFrame(rows, columns=_WARC_COLUMNS)


def split_warc_files(binary: DataFrame) -> DataFrame:
    """``binaryFile`` rows (batch or streaming) → WARC_RECORD_SCHEMA rows;
    ``warc_file`` is the ``path`` column as ``binaryFile`` wrote it."""
    from warcraider_spark.dist import ensure_package_on_executors

    ensure_package_on_executors()

    def split(batches: Iterator) -> Iterator:
        for pdf in batches:
            for uri, data in zip(pdf["path"], pdf["content"]):
                yield from warc_record_batches(uri, data)

    return binary.select("path", "content").mapInPandas(split, WARC_RECORD_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files → DataFrame[warc_file, record_idx, version, headers,
    content]. Whole files: a file is never split, and Spark packs small
    files together into one task (see the module docstring)."""
    return split_warc_files(spark.read.format("binaryFile").load(path))


def index_warc_members(stream: io.BufferedReader) -> list[int]:
    """CDX-style member index: byte offsets of each WARC record start.

    Header-only scan — Content-Length is read from the headers and the
    payload is seek-skipped, so the pass is I/O-bound on headers alone
    (the payloads, i.e. ~all the bytes, are never touched). Indexing
    stops at the first malformed record header, leaving the malformed
    tail inside the LAST member's range so a ranged parse reproduces the
    monolithic parser's sentinel-and-stop behavior byte-for-byte.
    """
    offsets: list[int] = []
    while True:
        start = stream.tell()
        line = stream.readline()
        if not line:
            return offsets
        if line.strip() == b"":
            continue
        if not line.startswith(b"WARC/"):
            return offsets  # malformed tail stays in the previous range
        length = 0
        while True:
            hline = stream.readline()
            if not hline or hline.strip() == b"":
                break
            if hline.startswith(b"Content-Length:"):
                try:
                    length = int(hline.split(b":", 1)[1].strip())
                except ValueError:
                    offsets.append(start)
                    return offsets  # parser yields sentinel here and stops
        stream.seek(length, io.SEEK_CUR)
        offsets.append(start)


def plan_warc_splits(
    offsets: list[int], file_size: int, num_splits: int
) -> list[tuple[int, int, int]]:
    """Group consecutive members into ≤ num_splits byte-balanced ranges:
    (first_record_idx, offset, length) triples. Ranges always start on a
    member boundary and run to the next range's start (so trailing
    separators — and any malformed tail after the last indexed member —
    land inside a range and parse exactly as they would monolithically).
    """
    if not offsets:
        # no indexable member (e.g. malformed first record): one whole-file
        # range so the parser's sentinel-row behavior is reproduced
        return [(0, 0, file_size)] if file_size > 0 else []
    target = max(1, file_size // max(1, num_splits))
    splits: list[tuple[int, int, int]] = []
    start_i = 0
    for i in range(1, len(offsets)):
        if offsets[i] - offsets[start_i] >= target and len(splits) < num_splits - 1:
            splits.append((start_i, offsets[start_i], offsets[i] - offsets[start_i]))
            start_i = i
    splits.append((start_i, offsets[start_i], file_size - offsets[start_i]))
    return splits


DEFAULT_SPLIT_BYTES = 128 << 20  # mirrors spark.sql.files.maxPartitionBytes


# --- filesystem adapter (object-store ranged reads) ------------------------
# Plain local paths stay on the raw os/io fast path. Any scheme'd URI
# (file://, s3://, gs://, hdfs://, …) routes through pyarrow.fs, whose
# open_input_file gives a SEEKABLE reader — read_at(length, offset) is a
# ranged GET on object stores — so the member-offset index and the split
# reads work off local disk too. file:// exercises the exact same branch
# against local files (the test mock for the ranged-GET path).


def _has_scheme(path: str) -> bool:
    return "://" in path


def _pafs_for(path: str):
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(path)


def _file_size(path: str) -> int:
    """stat via the right filesystem; raises OSError when unstatable."""
    import os as _os

    if not _has_scheme(path):
        return _os.path.getsize(path)
    fs, p = _pafs_for(path)
    info = fs.get_file_info([p])[0]
    if info.size is None:
        raise OSError(f"cannot stat {path}")
    return int(info.size)


def _open_stream(path: str):
    """Seekable buffered byte stream for indexing (readline/tell/seek)."""
    import io as _io

    if not _has_scheme(path):
        return open(path, "rb")
    fs, p = _pafs_for(path)
    return _io.BufferedReader(fs.open_input_file(p))


def _read_range(path: str, offset: int, length: int) -> bytes:
    """One bounded range read — a single ranged GET on an object store."""
    if not _has_scheme(path):
        with open(path, "rb") as f:
            f.seek(offset)
            return f.read(length)
    fs, p = _pafs_for(path)
    with fs.open_input_file(p) as f:
        return f.read_at(length, offset)


def _warc_uri(path: str) -> str:
    """Normalize to the URI form binaryFile puts in its path column, so
    ranged and whole-file reads agree: local '/a/b' and 'file:///a/b'
    both become 'file:/a/b'; other schemes pass through untouched."""
    import os as _os

    if not _has_scheme(path):
        return "file:" + _os.path.abspath(path)
    if path.startswith("file://"):
        return "file:" + path[len("file://") :]
    return path


def _enumerate_warc_files(path: str) -> list[str]:
    """Match ``binaryFile``'s file enumeration: a directory yields every
    non-hidden regular file (not just ``*.warc``); otherwise the argument
    is treated as a glob, falling back to the literal path. Scheme'd URIs
    enumerate through pyarrow.fs (no glob support there — object-store
    listings are prefix scans)."""
    import glob as _glob
    import os as _os

    if _has_scheme(path):
        import pyarrow.fs as pafs

        fs, p = _pafs_for(path)
        scheme = path[: path.index("://") + 3]
        info = fs.get_file_info([p])[0]
        if info.type == pafs.FileType.Directory:
            sel = pafs.FileSelector(p, recursive=False)
            return sorted(
                scheme + fi.path
                for fi in fs.get_file_info(sel)
                if fi.type == pafs.FileType.File
                and not fi.base_name.startswith((".", "_"))
            )
        return [path]
    if _os.path.isdir(path):
        return sorted(
            _os.path.join(path, e)
            for e in _os.listdir(path)
            if not e.startswith((".", "_")) and _os.path.isfile(_os.path.join(path, e))
        )
    return sorted(_glob.glob(path)) or [path]


def read_warc_ranged(
    spark: SparkSession,
    path: str,
    target_split_bytes: int = DEFAULT_SPLIT_BYTES,
) -> DataFrame:
    """Byte-range-parallel WARC read: same output as ``read_warc`` (same
    schema — ``warc_file`` normalized to the same ``file:`` URI form —
    same rows, same record_idx), but a single large file fans out to
    independent range tasks instead of one straggler task.

    Per-file fan-out is ``max(1, ceil(size / target_split_bytes))`` so
    per-task memory is bounded by ``target_split_bytes`` (default 128 MiB,
    mirroring spark.sql.files.maxPartitionBytes) regardless of file size —
    a 100 GB file becomes ~800 bounded tasks.

    Stage 1 (one small task per file) builds the member-offset index and
    emits (path, first_idx, offset, length) split descriptors — metadata
    only, no payload crosses the shuffle. Stage 2 repartitions the
    descriptors across the cluster and each task seeks to its offset and
    parses only its slice. With a persisted CDX sidecar stage 1 becomes a
    metadata-table scan; the descriptor shuffle is bytes per task either
    way.
    """
    from warcraider_spark.dist import ensure_package_on_executors

    ensure_package_on_executors()
    import pandas as pd

    files = _enumerate_warc_files(path)
    # Driver-side stat: per-file split count honors the byte budget, and
    # the known total lets the descriptor shuffle target one task per split.
    per_file: dict[str, int] = {}
    for p in files:
        try:
            size = _file_size(p)
        except OSError:
            size = 0
        per_file[p] = max(1, -(-size // max(1, target_split_bytes)))
    total_splits = max(1, sum(per_file.values()))
    paths_df = spark.createDataFrame(
        [(p, n) for p, n in per_file.items()], "path string, n_splits int"
    )

    def make_splits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, n in zip(pdf["path"], pdf["n_splits"]):
                # One unstatable/unreadable file (dangling symlink,
                # permission hole, object deleted between enumerate and
                # index) must not fail the whole ranged job at index
                # time — skip it, as the driver-side routing in
                # read_warc_auto does.
                try:
                    size = _file_size(p)
                    with _open_stream(p) as f:
                        offsets = index_warc_members(f)
                except OSError:
                    continue
                for first_idx, off, length in plan_warc_splits(offsets, size, int(n)):
                    rows.append(
                        {"path": p, "first_idx": first_idx, "offset": off, "length": length}
                    )
            yield pd.DataFrame(rows, columns=["path", "first_idx", "offset", "length"])

    splits = paths_df.mapInPandas(
        make_splits, "path string, first_idx int, offset long, length long"
    ).repartition(total_splits)

    def read_range(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, first_idx, off, length in zip(
                pdf["path"], pdf["first_idx"], pdf["offset"], pdf["length"]
            ):
                data = _read_range(p, int(off), int(length))
                yield from warc_record_batches(_warc_uri(p), data, int(first_idx))

    return splits.mapInPandas(read_range, WARC_RECORD_SCHEMA)


def read_warc_auto(
    spark: SparkSession,
    path: str,
    target_split_bytes: int = DEFAULT_SPLIT_BYTES,
) -> DataFrame:
    """Production WARC read path: whole-file ``read_warc`` while every
    file fits the per-task byte budget ``target_split_bytes`` (whole
    files packed into tasks is the cheaper plan for a many-small-files
    corpus: no index pass, no descriptor shuffle), switching to
    ``read_warc_ranged`` as soon as ANY file exceeds it — so a skewed
    crawl with one 100 GB WARC never produces the monolithic
    straggler/OOM task SCALE.md §1 measured. In ranged mode per-file
    fan-out comes purely from the same budget
    (``ceil(size / target_split_bytes)``), so small files in a mixed
    corpus stay one task while big ones split.

    The ranged branch works off local disk too: scheme'd
    URIs (file://, s3://, gs://, …) stat, index, and range-read through
    pyarrow.fs — ``read_at(length, offset)`` is a ranged GET on an
    object store, so the 100 GB-file story holds without a local copy
    (file:// exercises the identical branch in tests). Only when the
    path can be neither listed nor statted does the function degrade to
    the ``binaryFile`` route; the production pattern for re-scans is the
    persisted CDX sidecar (see ``read_warc_ranged``)."""
    def _statable_sizes():
        # Per-file OSError handling: one unreadable file must not abort
        # the scan and silently route a directory that also holds a
        # 100 GB WARC down the monolithic whole-file path.
        for p in files:
            try:
                yield _file_size(p)
            except OSError:
                continue

    try:
        files = _enumerate_warc_files(path)
    except OSError:
        # Non-local scheme / unlistable path: degrade to binaryFile, whose
        # Hadoop connector does its own range reads.
        big = False
    else:
        big = any(s > target_split_bytes for s in _statable_sizes())
    if big:
        return read_warc_ranged(spark, path, target_split_bytes=target_split_bytes)
    return read_warc(spark, path)


def build_warc_bytes(records: list[tuple[dict[str, str], bytes]]) -> bytes:
    """Assemble a WARC byte stream from (headers, raw_body) pairs; bodies
    are gzipped per-member exactly like the crawl's layout (each WARC body
    is an individually gzipped HTTP response, main.rs:287-302)."""
    out = io.BytesIO()
    for headers, body in records:
        gz = gzip.compress(body, mtime=0)  # mtime=0: byte-identical fixtures run-to-run
        hdrs = dict(headers)
        hdrs.setdefault("WARC-Type", "response")
        hdrs["Content-Length"] = str(len(gz))
        out.write(b"WARC/1.0\r\n")
        for k, v in hdrs.items():
            out.write(f"{k}: {v}\r\n".encode())
        out.write(b"\r\n")
        out.write(gz)
        out.write(b"\r\n\r\n")
    return out.getvalue()
