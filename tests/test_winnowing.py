"""q069_winnowing_dup_pairs (r12): winnowing substring-duplicate
candidates — selector semantics pinned against an independent Python
recompute, the >= k+w-1 detection guarantee, the df skew cap, and the
n_shared threshold, all on hand-built documents."""

from __future__ import annotations

import os
import random
import string

from warcraider_spark.operators.dedup import WINNOW_DF_CAP, WINNOW_K, WINNOW_W


def _py_winnow(text: str, k: int = WINNOW_K, w: int = WINNOW_W) -> set[str]:
    """Independent reference: distinct per-window minimum k-grams."""
    if len(text) < k + w - 1:
        return set()
    grams = [text[i : i + k] for i in range(len(text) - k + 1)]
    return {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}


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
    """The Spark-side higher-order-expression selector emits exactly the
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
