"""The benchmark's generators are deterministic per seed and differ across
seeds. Run: python3 -m pytest perfbench/test_gen.py -q (from the root)."""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402


def _warc(tmp, seed):
    return gen.write_warc_corpus(str(tmp), seed, 40, 3)


def test_warc_same_seed_same_bytes(tmp_path):
    a = _warc(tmp_path / "a", 5)
    b = _warc(tmp_path / "b", 5)
    assert a.sha256 == b.sha256
    assert a.expected == b.expected
    assert _warc(tmp_path / "c", 6).sha256 != a.sha256


def test_warc_plants_every_record_kind(tmp_path):
    c = _warc(tmp_path, 7)
    e = c.expected
    assert e["records_in"] > e["responses"] > e["post_blacklist"] > e["gzip_ok"]
    assert e["oversize"] == 2 and e["parse_fallback"] > e["oversize"]
    assert e["rows_out"] == e["gzip_ok"]
    # the oversize pages sit in different files
    big = []
    for p in c.files:
        with open(p, "rb") as f:
            sizes = re.findall(rb"Uncompressed-Content-Length: (\d+)", f.read())
        big += [p for s in sizes if int(s) > gen.OVERSIZE_BYTES]
    assert len(big) == 2 and big[0] != big[1]


def test_documents_same_seed_same_bytes(tmp_path):
    paths = [tmp_path / d / "docs.parquet" for d in "abc"]
    for p in paths:
        p.parent.mkdir()
    a = gen.write_documents(str(paths[0]), 3, 68)
    b = gen.write_documents(str(paths[1]), 3, 68)
    c = gen.write_documents(str(paths[2]), 4, 68)
    assert a.sha256 == b.sha256 and a.exact == b.exact and a.near == b.near
    assert c.sha256 != a.sha256
    assert a.n_docs == 68 and all(len(v) >= 1 for v in a.exact.values())


def test_url_table_same_seed_same_bytes(tmp_path):
    paths = [tmp_path / d / "rows.parquet" for d in "abc"]
    for p in paths:
        p.parent.mkdir()
    a = gen.write_url_table(str(paths[0]), 3, 2000)
    b = gen.write_url_table(str(paths[1]), 3, 2000)
    c = gen.write_url_table(str(paths[2]), 4, 2000)
    assert a.sha256 == b.sha256
    assert c.sha256 != a.sha256


def test_strata_same_sizes_for_every_seed():
    import random

    a = gen.strata(random.Random(1), 50, 9.3, 0.8, 2_500, 100_000)
    b = gen.strata(random.Random(2), 50, 9.3, 0.8, 2_500, 100_000)
    assert sorted(a) == sorted(b) and a != b
