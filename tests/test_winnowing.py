"""q069_winnowing_dup_pairs: winnowing substring-duplicate
candidates — selector semantics pinned against an independent Python
recompute (the Arrow selector kernel directly and through Spark), the
>= k+w-1 detection guarantee, the df skew cap, and the n_shared
threshold, all on hand-built documents."""

from __future__ import annotations

import os
import random
import string

from warcraider_spark.operators.dedup import WINNOW_DF_CAP, WINNOW_K, WINNOW_W


def _py_winnow_pos(
    text: str | None, k: int = WINNOW_K, w: int = WINNOW_W
) -> set[tuple[str, int]]:
    """Independent reference: the (k-gram, 1-based position) of each
    window's FIRST minimum k-gram (Python str order is code-point order)."""
    if text is None or len(text) < k + w - 1:
        return set()
    grams = [text[i : i + k] for i in range(len(text) - k + 1)]
    out = set()
    for j in range(len(grams) - w + 1):
        win = grams[j : j + w]
        p = j + win.index(min(win))
        out.add((grams[p], p + 1))
    return out


def _py_winnow(text: str, k: int = WINNOW_K, w: int = WINNOW_W) -> set[str]:
    """Independent reference: distinct per-window minimum k-grams."""
    return {g for g, _ in _py_winnow_pos(text, k, w)}


def _py_pairs(docs: list[tuple[int, str]]) -> dict[tuple[int, int], int]:
    """Independent reference for the pair stage: string fingerprints
    shared by 2..WINNOW_DF_CAP documents, pairs with >= 2 of them."""
    fps = {doc_id: _py_winnow(text) for doc_id, text in docs}
    posting: dict[str, list[int]] = {}
    for doc_id, fset in fps.items():
        for f in fset:
            posting.setdefault(f, []).append(doc_id)
    shared: dict[tuple[int, int], int] = {}
    for ids in posting.values():
        if 2 <= len(ids) <= WINNOW_DF_CAP:
            ids = sorted(ids)
            for i, a in enumerate(ids):
                for b in ids[i + 1 :]:
                    shared[(a, b)] = shared.get((a, b), 0) + 1
    return {pair: n for pair, n in shared.items() if n >= 2}


def _write_docs(spark, tmpdir: str, docs: list[tuple[int, str]]) -> str:
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.write.mode("overwrite").parquet(os.path.join(tmpdir, "documents.parquet"))
    return tmpdir


def _run(spark, sf_dir: str):
    from warcraider_spark.registry import all_specs

    df = all_specs()["q069_winnowing_dup_pairs"].builder(spark, sf_dir)
    return {(r.doc_a, r.doc_b): r.n_shared for r in df.collect()}


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def test_winnowing_guarantee_and_threshold(spark, tmp_path):
    rng = random.Random(7)
    shared = "the quick brown fox jumps over the lazy dog again and again"  # 60 chars
    d1 = _rand_text(rng, 120) + shared + _rand_text(rng, 80)
    d2 = _rand_text(rng, 40) + shared + _rand_text(rng, 150)
    d3 = _rand_text(rng, 300)  # no overlap
    d4 = "tiny"  # below k+w-1: contributes nothing
    sf = _write_docs(spark, str(tmp_path), [(1, d1), (2, d2), (3, d3), (4, d4)])
    pairs = _run(spark, sf)

    # the shared 60-char run guarantees detection (>= k+w-1 = 27) and,
    # being long, yields >= 2 shared fingerprints: exactly the expected
    # overlap computed independently in Python
    expected_shared = _py_winnow(d1) & _py_winnow(d2)
    assert len(expected_shared) >= 2
    assert pairs.get((1, 2)) == len(expected_shared)
    # no common 20-gram -> no shared fingerprint possible (a fingerprint
    # IS a 20-gram of both documents)
    assert all(3 not in p and 4 not in p for p in pairs)


def test_winnowing_selector_matches_python(spark, tmp_path):
    """The selector emits exactly the
    Python reference's distinct window minima (pinned via a self-pair:
    duplicate a document and the pair's n_shared is its fp-set size,
    when every fingerprint stays under the df cap)."""
    rng = random.Random(11)
    text = _rand_text(rng, 400)
    sf = _write_docs(spark, str(tmp_path), [(1, text), (2, text)])
    pairs = _run(spark, sf)
    assert pairs == {(1, 2): len(_py_winnow(text))}


def test_winnowing_df_cap_drops_boilerplate(spark, tmp_path):
    """A fingerprint shared by more than WINNOW_DF_CAP documents is
    dropped before pair generation — the C(n,2) blow-up guard."""
    rng = random.Random(13)
    boiler = "this cookie banner appears on every single page of the site"
    docs = [
        (i, _rand_text(rng, 30 + i % 7) + boiler + _rand_text(rng, 20))
        for i in range(1, WINNOW_DF_CAP + 3)  # 66 docs > cap
    ]
    sf = _write_docs(spark, str(tmp_path), docs)
    pairs = _run(spark, sf)
    # every shared fingerprint comes from the boilerplate run, whose df
    # exceeds the cap -> no pair survives
    assert pairs == {}


def test_arrow_pair_kernel_matches_join_path(spark, tmp_path):
    """The Arrow pair-generation kernel must produce exactly the pairs of
    the df-index + self-join formulation (``_py_pairs``) on a corpus with
    shared runs and singletons."""
    from warcraider_spark.operators.dedup import winnowing_pairs

    rng = random.Random(47)
    shared = [_rand_text(rng, rng.randint(30, 70)) for _ in range(3)]
    rows = []
    for i in range(1, 30):
        parts = [_rand_text(rng, rng.randint(0, 40))]
        for srun in shared:
            if rng.random() < 0.4:
                parts.append(srun)
                parts.append(_rand_text(rng, rng.randint(0, 30)))
        rows.append((i, "".join(parts)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnowing_pairs(docs).collect()
    }
    assert got == _py_pairs(rows) and got


def test_arrow_pair_kernel_batch_spanning_and_cap(spark):
    """The kernel streams f-groups across Arrow batch boundaries with a
    carry buffer: force 2-row batches, one fingerprint shared by 6 docs
    (C(6,2)=15 pairs), one by 2 docs, one OVER the df cap (must drop),
    one singleton, and per-(doc,f) duplicates (must dedup)."""
    from warcraider_spark.operators.dedup import WINNOW_DF_CAP, _winnow_pairs_arrow

    rows = [(d, 100) for d in range(6)]            # C(6,2) = 15 pairs
    rows += [(d, 100) for d in (0, 3)]             # dup (doc, f) rows
    rows += [(1, 200), (5, 200)]                   # one pair
    rows += [(d, 300) for d in range(WINNOW_DF_CAP + 3)]  # over cap: dropped
    rows += [(9, 400)]                             # singleton: dropped
    fp = spark.createDataFrame(rows, "doc_id long, f long").coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        pairs = [(r.doc_a, r.doc_b) for r in _winnow_pairs_arrow(fp).collect()]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = sorted(
        [(a, b) for a in range(6) for b in range(a + 1, 6)] + [(1, 5)]
    )
    assert sorted(pairs) == want


# ---------------------------------------------------------------------------
# The selector kernel against the positions reference
# ---------------------------------------------------------------------------

# astral characters (4 UTF-8 bytes), a combining mark, U+FFFF and U+10FFFD
# next to 1-, 2- and 3-byte characters: byte order must equal code-point
# order and every character must count as one position
_UNICODE_ALPHABET = list("ab ") + ["é", "ж", "\u0301", "\uffff", "😀", "𝄞", "\U0010fffd"]


def _kernel_rows(
    rows: list[tuple[int, str | None]], distinct: bool = False
) -> dict[int, set[tuple[str, int]]]:
    import pyarrow as pa

    from warcraider_spark.operators.dedup import _winnow_select_batch

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in rows], pa.int64()),
            pa.array([t for _, t in rows], pa.string()),
        ],
        ["doc_id", "text"],
    )
    got: dict[int, set[tuple[str, int]]] = {}
    for out in _winnow_select_batch(batch, distinct):
        assert out.schema.names == ["doc_id", "gram", "p"]
        cols = [out.column(i).to_pylist() for i in range(3)]
        for d, g, p in zip(*cols):
            got.setdefault(d, set()).add((g, p))
    return got


def _first_per_gram(sel: set[tuple[str, int]]) -> set[tuple[str, int]]:
    """The distinct-gram selection: each selected k-gram once, at its
    first selected position."""
    first: dict[str, int] = {}
    for g, p in sorted(sel, key=lambda gp: gp[1]):
        first.setdefault(g, p)
    return set(first.items())


def _unicode_corpus(seed: int, n_docs: int) -> list[tuple[int, str | None]]:
    rng = random.Random(seed)
    rows: list[tuple[int, str | None]] = []
    for d in range(n_docs):
        n = rng.choice([0, 5, 26, 27, 28, rng.randint(20, 300)])
        alpha = rng.sample(_UNICODE_ALPHABET, rng.randint(1, len(_UNICODE_ALPHABET)))
        text = "".join(rng.choice(alpha) for _ in range(n))
        rows.append((d, None if d % 11 == 3 else text))
    return rows


def test_selector_kernel_matches_python_on_unicode():
    """Random Unicode corpora with small alphabets (so equal k-grams, and
    equal minima inside one window, are common), lengths at the K+W-1
    threshold and null text, many documents per batch."""
    for seed in range(6):
        rows = _unicode_corpus(seed, 40)
        got = _kernel_rows(rows)
        got_distinct = _kernel_rows(rows, distinct=True)
        for d, t in rows:
            assert got.get(d, set()) == _py_winnow_pos(t), (seed, d, t)
            assert got_distinct.get(d, set()) == _first_per_gram(_py_winnow_pos(t)), (seed, d, t)


def test_selector_kernel_edges():
    k, w = WINNOW_K, WINNOW_W
    # one letter repeated: every window's minimum is tied across all W
    # grams, so each window selects its FIRST position
    flat = "a" * 40
    assert _kernel_rows([(1, flat)])[1] == {
        ("a" * k, p) for p in range(1, 40 - k - w + 3)
    } == _py_winnow_pos(flat)
    # the pair pipeline's distinct mode ships that k-gram once
    assert _kernel_rows([(1, flat)], distinct=True)[1] == {("a" * k, 1)}
    # a repeated minimum inside one window, later grams larger: the first wins
    text = "b" * (k - 1) + "a" + "b" * (k - 1) + "a" + "z" * 10
    assert _kernel_rows([(2, text)])[2] == _py_winnow_pos(text)
    # the K+W-1 threshold: 26 chars select nothing, 27 one window, 28 two
    got = _kernel_rows([(26, "q" * 26), (27, "x" * 27), (28, "ab" * 14), (0, None)])
    assert 26 not in got and 0 not in got
    assert got[27] == {("x" * k, 1)}
    assert got[28] == _py_winnow_pos("ab" * 14)


def test_selector_kernel_runs_split_a_batch(monkeypatch):
    """A batch is selected in runs of documents bounded in bytes; force a
    run per document or two and compare with one run per batch."""
    from warcraider_spark.operators import dedup

    rows = _unicode_corpus(7, 30)
    whole = _kernel_rows(rows)
    monkeypatch.setattr(dedup, "_WINNOW_RUN_BYTES", 64)
    assert _kernel_rows(rows) == whole
    assert whole == {d: s for d, t in rows if (s := _py_winnow_pos(t))}


def test_selector_kernel_memory_is_linear():
    """One 1M-character document (ASCII plus 2-, 3- and 4-byte characters)
    in-process: the kernel's peak traced allocation stays <= 160 B/char."""
    import tracemalloc

    import pyarrow as pa

    from warcraider_spark.operators.dedup import _winnow_select_batch

    rng = random.Random(5)
    n = 1_000_000
    text = "".join(rng.choices(string.ascii_lowercase + " éж😀", k=n))
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1], pa.int64()), pa.array([text], pa.string())], ["doc_id", "text"]
    )
    del text
    tracemalloc.start()
    try:
        rows = sum(out.num_rows for out in _winnow_select_batch(batch))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert rows > n // 10
    assert peak / n <= 160, f"{peak / n:.0f} B/char"


def test_selector_spark_matches_python_one_row_batches(spark):
    """Through Spark: multi-document partitions, then one-row Arrow batches;
    the JVM-side xxhash64 of each emitted gram equals xxhash64 of the
    same substring of the text."""
    from pyspark.sql import functions as F

    from warcraider_spark.operators.dedup import _winnow_select

    rows = _unicode_corpus(3, 24)
    docs = spark.createDataFrame(rows, "doc_id long, text string").coalesce(2)
    want = {(d, p) for d, t in rows for _, p in _py_winnow_pos(t)}
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        for per_batch in (old, "1"):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", per_batch)
            sel = _winnow_select(docs)
            assert dict(sel.dtypes) == {"doc_id": "bigint", "f": "bigint", "p": "int"}
            check = sel.join(docs, "doc_id").select(
                "doc_id",
                "p",
                (F.col("f") == F.xxhash64(F.expr(f"substring(text, p, {WINNOW_K})"))).alias(
                    "same"
                ),
            )
            got = [(r.doc_id, r.p, r.same) for r in check.collect()]
            assert all(same for _, _, same in got)
            assert len(got) == len(want) and {(d, p) for d, p, _ in got} == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
