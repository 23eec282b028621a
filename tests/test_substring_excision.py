"""q088_exact_substring_excision: winnowing-sampled
exact-substring excision — first-occurrence keeps, every other document
loses the k-char extents at its selected positions of shared
fingerprints, merged into maximal spans and cut from the text. Pinned
against a fully independent Python reimplementation on hand-built and
random corpora."""

from __future__ import annotations

import random
import string

from warcraider_spark.operators.dedup import (
    WINNOW_DF_CAP,
    WINNOW_K,
    WINNOW_W,
    _winnow_select,
    exact_substring_excision,
)

K, W = WINNOW_K, WINNOW_W


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _py_excise(rows: list[tuple[int, str]]) -> dict[int, tuple[int, int, str]]:
    """Independent reference: window-argmin positions (first occurrence),
    per-fingerprint min-doc ownership, per-doc interval merge, cut."""
    fpos: dict[int, set[tuple[str, int]]] = {}
    for doc_id, t in rows:
        if len(t) < K + W - 1:
            continue
        grams = [t[i : i + K] for i in range(len(t) - K + 1)]
        sel = set()
        for j in range(len(grams) - W + 1):
            win = grams[j : j + W]
            p = j + win.index(min(win))  # 0-based
            sel.add((grams[p], p + 1))   # 1-based like the operator
        fpos[doc_id] = sel
    by_f: dict[str, set[int]] = {}
    for d, s in fpos.items():
        for f, _ in s:
            by_f.setdefault(f, set()).add(d)
    kept_f = {f for f, ds in by_f.items() if 2 <= len(ds) <= WINNOW_DF_CAP}
    out: dict[int, tuple[int, int, str]] = {}
    for doc_id, t in rows:
        cuts = sorted(
            p
            for f, p in fpos.get(doc_id, ())
            if f in kept_f and min(by_f[f]) != doc_id
        )
        if not cuts:
            continue
        merged: list[list[int]] = []
        for p in cuts:  # intervals [p, p+K) on 1-based positions
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], p + K)
            else:
                merged.append([p, p + K])
        removed = sum(e - s for s, e in merged)
        kept = ""
        last = 1
        for s, e in merged:
            kept += t[last - 1 : s - 1]
            last = e
        kept += t[last - 1 :]
        out[doc_id] = (len(merged), removed, kept)
    return out


def _run(spark, rows):
    df = exact_substring_excision(_docs(spark, rows))
    return {
        r.doc_id: (r.n_spans, r.chars_removed, r.kept_text) for r in df.collect()
    }


def test_excision_matches_python_on_directed_shapes(spark):
    rng = random.Random(83)
    shared = _rand_text(rng, 70)
    rows = [
        (1, _rand_text(rng, 50) + shared + _rand_text(rng, 40)),  # owner-ish
        (2, shared + _rand_text(rng, 90)),
        (3, _rand_text(rng, 30) + shared),
        (4, _rand_text(rng, 120)),  # untouched
    ]
    got = _run(spark, rows)
    want = _py_excise(rows)
    assert got == want
    assert 4 not in got            # no shared run → no row
    assert 1 not in got or got[1]  # doc 1 owns fps it carries first


def test_excision_first_doc_keeps_its_text(spark):
    """The smallest doc_id sharing a fingerprint keeps its occurrences:
    with exactly two docs, doc 1 is never cut."""
    rng = random.Random(89)
    shared = _rand_text(rng, 60)
    rows = [(1, "aa" + shared), (2, shared + "zz")]
    got = _run(spark, rows)
    want = _py_excise(rows)
    assert got == want
    assert 1 not in got and 2 in got
    n_spans, removed, kept = got[2]
    assert removed > 0 and len(kept) == len(rows[1][1]) - removed
    # the cut really hit the shared region: kept text preserves the tail
    assert kept.endswith("zz")


def _random_corpus(
    seed: int, n_runs: int = 4, n_docs: int = 24, head: int = 60,
    p_run: float = 0.35, gap: int = 40,
) -> list[tuple[int, str]]:
    """Random docs, each carrying a random subset of n_runs planted
    shared runs separated by random filler."""
    rng = random.Random(seed)
    shared = [_rand_text(rng, rng.randint(30, 80)) for _ in range(n_runs)]
    rows = []
    for i in range(1, n_docs + 1):
        parts = [_rand_text(rng, rng.randint(0, head))]
        for srun in shared:
            if rng.random() < p_run:
                parts.append(srun)
                parts.append(_rand_text(rng, rng.randint(0, gap)))
        rows.append((i, "".join(parts)))
    return rows


def test_excision_random_corpora_match_python(spark):
    corpora = [_random_corpus(seed) for seed in (7, 19, 31)]
    corpora.append(
        _random_corpus(103, n_runs=3, n_docs=19, head=50, p_run=0.4, gap=30)
    )
    for rows in corpora:
        want = _py_excise(rows)
        assert want, "degenerate corpus (nothing excised) proves nothing"
        assert _run(spark, rows) == want


def test_excision_plan_shape(spark):
    """The spans dictionary broadcasts onto the documents side (map-side
    surgery at 100 TB), the span merge is the vectorized Arrow kernel
    (MapInArrow — no row-at-a-time Python), the kept_text reconstruction
    stays a JVM aggregate() fold, the selector shuffles xxhash64-folded
    keys, and the selector stream is materialized once (cut_lineage →
    ExistingRDD) so the selector kernel never runs per consumer."""
    rng = random.Random(97)
    shared = _rand_text(rng, 60)
    docs = _docs(spark, [(1, shared + "a"), (2, shared + "b")])
    plan = exact_substring_excision(docs)._jdf.queryExecution().toString()
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BatchEvalPython" not in phys  # no row-at-a-time Python, ever
    assert "MapInArrow" in phys  # the span-merge kernel
    assert "CartesianProduct" not in phys and "BroadcastNestedLoopJoin" not in phys
    assert "BroadcastHashJoin" in phys
    assert "aggregate(" in plan  # the JVM kept_text fold
    assert "ExistingRDD" in phys  # the shared selector materialization
    # the materialized selector stream carries the xxhash64-folded key
    sel = _winnow_select(docs)
    assert "xxhash64(gram" in sel._jdf.queryExecution().toString()
    assert dict(sel.dtypes)["f"] == "bigint"


def test_span_merge_kernel_scattered_input(spark):
    """Regression (found by the full multi-SF sweep at sf0.1): when
    the upstream join hash-partitions the cut stream by FINGERPRINT, a
    document's cuts scatter across partitions; the kernel must enforce
    doc co-location itself or it emits one spans row per partition
    fragment (duplicating excision output rows). Simulate the hostile
    layout by hash-partitioning on p before the kernel."""
    from warcraider_spark.operators.dedup import _merge_spans_arrow

    rows = [(d, p) for d in (1, 2, 3) for p in (1, 30, 60, 90, 120, 150)]
    cuts = spark.createDataFrame(rows, "doc_id long, p int").repartition(8, "p")
    got = _merge_spans_arrow(cuts).collect()
    assert sorted((r.doc_id, len(r.spans)) for r in got) == [(1, 6), (2, 6), (3, 6)]


def test_span_merge_kernel_batch_spanning_groups(spark):
    """_merge_spans_arrow must merge correctly when one document's cut
    positions span multiple Arrow batches: force 3-row batches and
    compare against a Python interval merge of the same cut stream."""
    from warcraider_spark.operators.dedup import _merge_spans_arrow, _span_accounting

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        rows = [
            (1, p) for p in (1, 5, 40, 41, 60, 100, 119, 140)
        ] + [(2, p) for p in (7, 90)] + [(3, p) for p in (2,)]
        cuts = spark.createDataFrame(rows, "doc_id long, p int").coalesce(1)
        got = {
            (r.doc_id, tuple((s.s, s.e) for s in r.spans))
            for r in _merge_spans_arrow(cuts).collect()
        }
        acc = {
            (r.doc_id, r.n_spans, r.chars_removed)
            for r in _merge_spans_arrow(cuts)
            .select("doc_id", *_span_accounting())
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    def merge(ps):
        out = []
        for p in sorted(ps):
            if out and p <= out[-1][1]:
                out[-1][1] = max(out[-1][1], p + K)
            else:
                out.append([p, p + K])
        return tuple(tuple(x) for x in out)

    by_doc = {}
    for d, p in rows:
        by_doc.setdefault(d, []).append(p)
    want = {(d, merge(ps)) for d, ps in by_doc.items()}
    assert got == want
    want_acc = {
        (d, len(merge(ps)), sum(e - s for s, e in merge(ps)))
        for d, ps in by_doc.items()
    }
    assert acc == want_acc


def test_excision_shuffle_regime_plan_and_values(spark):
    """broadcast_dictionary=False (the pervasive-duplication regime,
    where the spans dictionary is O(corpus)): the text pass must NOT
    carry a broadcast hint on the spans side — the final join degrades
    to a doc_id-keyed shuffle join — and the output rows must be
    byte-identical to the default regime."""
    rng = random.Random(101)
    shared = _rand_text(rng, 60)
    rows = [(1, shared + "a"), (2, shared + "b"), (3, "c" + shared)]
    docs = _docs(spark, rows)
    # Plan: the optimized logical plan of the shuffle regime has no
    # broadcast hint at all (the only hint in this operator is the
    # spans-side one); physical join of text vs spans is not broadcast.
    df = exact_substring_excision(docs, broadcast_dictionary=False)
    qe = df._jdf.queryExecution()
    assert "ResolvedHint" not in qe.analyzed().toString()
    phys = qe.toString().split("== Physical Plan ==")[-1]
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys
    assert "CartesianProduct" not in phys and "BroadcastNestedLoopJoin" not in phys
    # Default regime still hints: same input, hint present.
    assert (
        "ResolvedHint"
        in exact_substring_excision(docs)._jdf.queryExecution().analyzed().toString()
    )
    # Values: identical across regimes, and equal to the python oracle.
    got = {r["doc_id"]: (r["n_spans"], r["chars_removed"], r["kept_text"]) for r in df.collect()}
    assert got == _run(spark, rows) == _py_excise(rows)
