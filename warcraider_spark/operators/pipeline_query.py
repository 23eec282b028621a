"""The WARC→url_resource pipeline as a registry entry (rows-only).

Synthesizes a deterministic 6-record WARC (FIXTURES B1 branches: good,
malformed, oversize, corrupt-gzip, blacklisted, non-response) into a temp
dir, runs the FULL pipeline (source → filters → 4 UDF crossings → 18-col
contract), and returns the output rows minus the heavy text columns. The
driver's rows-check therefore certifies the end-to-end ETL on every round.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warcraider_spark.registry import query


@query(
    "q150_warc_pipeline_e2e",
    # Literal-golden oracle: the input is a deterministic synthetic fixture
    # (build_warc_bytes gzips with mtime=0, so the file is byte-identical
    # every run), which makes the expected output a fixed constant — the
    # SQL is a VALUES golden, i.e. a golden-file test the driver can hash:
    # every column of the e2e ETL (source → filters → 4 UDF crossings →
    # projection) is content-certified, not just the row count.
    oracle="""
SELECT * FROM (VALUES
  ('https://big.example.gov.au/huge', 'big.example.gov.au', 'example.gov.au',
   'Huge', CAST(1 AS INT), CAST(0.0 AS FLOAT), CAST(0 AS INT), CAST(1 AS INT),
   '', 'fixture-000.warc'),
  ('https://m.example.gov.au/bad', 'm.example.gov.au', 'example.gov.au',
   '', CAST(3 AS INT), CAST(0.0 AS FLOAT), CAST(1 AS INT), CAST(1 AS INT),
   '', 'fixture-000.warc'),
  ('https://www.example.gov.au/ok', 'www.example.gov.au', 'example.gov.au',
   'Pipeline Proof', CAST(7 AS INT), CAST(1.5 AS FLOAT), CAST(1 AS INT), CAST(1 AS INT),
   'UA-4242-1', 'fixture-000.warc')
) AS t(url, hostname, domain_name, title, word_count, load_time,
       n_links, n_keywords, ga_ids, source)
ORDER BY url
""",
    tags=("pipeline", "etl", "reference-parity"),
)
def q150_warc_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the reference dataflow end-to-end on the synthetic WARC corpus;
    expect exactly 3 surviving rows (blacklist/request/corrupt dropped),
    hash-verified column-by-column against the VALUES golden above."""
    from warcraider_spark.plans.pipeline import url_resource_from_warc_records
    from warcraider_spark.sources.warc import build_warc_bytes, read_warc_auto

    good = (
        b"HTTP/1.1 200 OK\nContent-Type: text/html\n"
        b"X-Funnelback-Total-Request-Time-MS: 1500\n\n\r\n"
        b"<html><head><title>Pipeline Proof</title></head><body>"
        b"<h1>Head</h1><p>alpha beta gamma delta words</p>"
        b"<a href='/rel'>r</a><script>ga('create', 'UA-4242-1', 'auto');</script></body></html>"
    )
    malformed = b"HTTP/1.1 200 OK\n\n\r\n<html><body><p>broken <b>bits<a href='/m.htm'>m</p>"
    oversize = (
        b"HTTP/1.1 200 OK\n\n\r\n<html><head><title>Huge</title></head><body>"
        + b"z" * 2_100_000
        + b"</body></html>"
    )
    records = [
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://www.example.gov.au/ok",
                "Uncompressed-Content-Length": str(len(good)),
            },
            good,
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://m.example.gov.au/bad",
                "Uncompressed-Content-Length": str(len(malformed)),
            },
            malformed,
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://big.example.gov.au/huge",
                "Uncompressed-Content-Length": str(len(oversize)),
            },
            oversize,
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://data.gov.au/blocked",
                "Uncompressed-Content-Length": "50",
            },
            b"HTTP/1.1 200 OK\n\n\r\n<html><body>x</body></html>",
        ),
        (
            {
                "WARC-Type": "request",
                "WARC-Target-URI": "https://www.example.gov.au/ok",
                "Uncompressed-Content-Length": "10",
            },
            b"GET /ok",
        ),
    ]
    bad_body = b"\x1f\x8bNOT_GZIP"
    payload = (
        build_warc_bytes(records)
        # corrupt-gzip member appended raw
        + b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://corrupt.example.gov.au/gz\r\n"
        b"Uncompressed-Content-Length: 50\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(bad_body)
        + bad_body
        + b"\r\n\r\n"
    )
    # Content-addressed, write-once, atomic: build_warc_bytes is
    # byte-deterministic (gzip mtime=0), so concurrent/repeat sessions see
    # one immutable file — never a rewrite racing a binaryFile read.
    import hashlib

    d = os.path.join(
        tempfile.gettempdir(), f"wr_pipeline_fixture_{hashlib.md5(payload).hexdigest()[:12]}"
    )
    os.makedirs(d, exist_ok=True)
    dest = os.path.join(d, "fixture-000.warc")
    if not os.path.exists(dest):
        tmp = dest + f".tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, dest)

    # Production read path: read_warc_auto switches to the byte-range-
    # parallel scan (q155) when any file exceeds the split budget; this
    # small fixture stays on the whole-file read.
    out = url_resource_from_warc_records(read_warc_auto(spark, d))
    return out.select(
        "url",
        "hostname",
        "domain_name",
        "title",
        "word_count",
        "load_time",
        F.size("links").alias("n_links"),
        F.size("keywords").alias("n_keywords"),
        # array<string> serialized: the driver canonicalizer (pandas
        # sort_values) crashes on list-typed cells.
        F.array_join(F.array_sort("google_analytics"), "|").alias("ga_ids"),
        "source",
    ).orderBy("url")


# ---------------------------------------------------------------------------
# Byte-range-parallel scan of ONE large WARC
# ---------------------------------------------------------------------------

_RANGE_N_MEMBERS = 30
_RANGE_SPLITS = 6


def _range_fixture_records() -> list[tuple[dict[str, str], bytes]]:
    """Deterministic multi-member corpus with skewed body sizes (200 B to
    ~40 KB) so byte-balanced split planning groups uneven record counts."""
    recs = []
    for i in range(_RANGE_N_MEMBERS):
        body = (
            f"<html><head><title>doc {i}</title></head><body>".encode()
            + b"w" * ((i * i * 997) % 40_000 + 200)
            + b"</body></html>"
        )
        recs.append(
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"https://site{i:02d}.example.gov.au/page{i}",
                },
                body,
            )
        )
    return recs


def _range_fixture_oracle() -> str:
    """VALUES golden computed by the MONOLITHIC pure-Python parse of the
    byte-identical fixture (the whole payload through the row emitter in
    one call) — the ranged Spark read hash-matching this IS the 'ranged ==
    monolithic' parity claim."""
    from warcraider_spark.sources.warc import build_warc_bytes, warc_record_batches
    import hashlib as _hl

    payload = build_warc_bytes(_range_fixture_records())
    rows = []
    for batch in warc_record_batches("", payload):
        for idx, version, headers, content in zip(
            batch["record_idx"], batch["version"], batch["headers"], batch["content"]
        ):
            rows.append(
                f"  (CAST({idx} AS INT), '{headers['WARC-Target-URI']}', '{version}', "
                f"CAST({len(content)} AS BIGINT), '{_hl.md5(content).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES\n"
        + ",\n".join(rows)
        + "\n) AS t(record_idx, url, version, gz_len, gz_md5)\nORDER BY record_idx"
    )


@query(
    "q155_warc_range_scan",
    oracle=_range_fixture_oracle(),
    tags=("pipeline", "source", "range-scan"),
)
def q155_warc_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE multi-member WARC file read through byte-range-parallel tasks
    (read_warc_ranged: CDX-style member-offset index → (path, offset,
    length) split descriptors → per-task seek+parse), hash-matched against
    the monolithic parse of the same bytes (the VALUES golden above).

    This is the straggler-elimination shape for skewed file sizes at
    100 TB: one 100 GB WARC becomes byte-budget-sized independent range
    tasks (here _RANGE_SPLITS of them) instead of a single whole-file task (reference counterpart: the
    sequential intra-file record-range scan, main.rs:159-160, 205-219).
    tests/test_warc_ranged.py additionally pins that the work really runs
    in >= 4 parallel range tasks and that malformed tails reproduce the
    monolithic sentinel behavior; SCALE.md records the measured
    single-file speedup.
    """
    import hashlib as _hl

    from warcraider_spark.sources.warc import build_warc_bytes, read_warc_ranged

    payload = build_warc_bytes(_range_fixture_records())
    d = os.path.join(
        tempfile.gettempdir(), f"wr_range_fixture_{_hl.md5(payload).hexdigest()[:12]}"
    )
    os.makedirs(d, exist_ok=True)
    dest = os.path.join(d, "big-000.warc")
    if not os.path.exists(dest):
        tmp = dest + f".tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, dest)

    recs = read_warc_ranged(
        spark, d, target_split_bytes=-(-len(payload) // _RANGE_SPLITS)
    )
    return (
        recs.select(
            "record_idx",
            F.col("headers")["WARC-Target-URI"].alias("url"),
            "version",
            F.length("content").cast("bigint").alias("gz_len"),
            F.md5("content").alias("gz_md5"),
        )
        .orderBy("record_idx")
    )
