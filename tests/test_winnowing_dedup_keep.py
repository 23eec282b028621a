"""q062_winnowing_dedup_keep: the end-to-end substring-dedup
keep decision — winnowing pairs → connected-component clusters →
longest-document canonical election — pinned on hand-built corpora
where the cluster structure and the election are known by construction."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from warcraider_spark.operators.dedup import (
    WINNOW_DF_CAP,
    winnowing_dedup_keep,
    winnowing_pairs,
)


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _out(df):
    return {
        r.canonical_doc_id: (r.n_members, r.n_removed, r.chars_removed, r.removed_checksum)
        for r in df.collect()
    }


def test_transitive_cluster_and_longest_canonical(spark):
    """A-B share run X, B-C share run Y (A and C share NOTHING): one
    transitive cluster of three; the canonical is the LONGEST text."""
    rng = random.Random(41)
    x = _rand_text(rng, 60)
    y = _rand_text(rng, 60)
    a = x + _rand_text(rng, 10)                       # len 70
    b = x + _rand_text(rng, 30) + y                   # len 150 — longest
    c = y + _rand_text(rng, 20)                       # len 80
    d = _rand_text(rng, 200)                          # unrelated singleton
    df = winnowing_dedup_keep(_docs(spark, [(1, a), (2, b), (3, c), (4, d)]))
    got = _out(df)
    # doc 4 is in no pair → no cluster row; docs 1-3 form ONE cluster
    assert got == {2: (3, 2, len(a) + len(c), 1 + 3)}
    # sanity: A and C really share no pair directly
    pairs = {
        (r.doc_a, r.doc_b)
        for r in winnowing_pairs(_docs(spark, [(1, a), (3, c)])).collect()
    }
    assert pairs == set()


def test_tie_breaks_to_smallest_doc_id(spark):
    """Equal-length twins: the smaller doc_id survives."""
    rng = random.Random(43)
    t = _rand_text(rng, 120)
    df = winnowing_dedup_keep(_docs(spark, [(7, t), (3, t), (9, t)]))
    assert _out(df) == {3: (3, 2, 2 * len(t), 7 + 9)}


def test_excerpt_dies_superset_survives(spark):
    """The substring-dup shape the election rule is FOR: a doc whose
    text is an excerpt of a longer one is removed, the superset kept."""
    rng = random.Random(47)
    full = _rand_text(rng, 300)
    excerpt = full[80:200]  # 120 chars, verbatim run ≥ 27
    df = winnowing_dedup_keep(_docs(spark, [(10, excerpt), (11, full)]))
    assert _out(df) == {11: (2, 1, len(excerpt), 10)}


def test_independent_clusters_stay_separate(spark):
    rng = random.Random(53)
    x, y = _rand_text(rng, 80), _rand_text(rng, 80)
    rows = [
        (1, x + "a" * 5),
        (2, x + "b" * 50),      # cluster 1 canonical (longer)
        (3, y + "c" * 9),
        (4, y),                  # cluster 2: 3 is longer
    ]
    got = _out(winnowing_dedup_keep(_docs(spark, rows)))
    assert set(got) == {2, 3}
    assert got[2][:2] == (2, 1) and got[3][:2] == (2, 1)


def test_df_capped_boilerplate_forms_no_cluster(spark):
    """Fingerprints over the df cap never form pairs, hence no clusters —
    the same C(n,2) guard the pair operator pins. IDENTICAL docs make
    every fingerprint's df exactly n > cap (prefixed variants would
    leak low-df boundary grams — prefix-tail + boiler-head — whose
    selection is position-dependent)."""
    rng = random.Random(59)
    boiler = _rand_text(rng, 70)
    rows = [(i, boiler) for i in range(1, WINNOW_DF_CAP + 3)]
    assert _out(winnowing_dedup_keep(_docs(spark, rows))) == {}


def test_plan_shape(spark):
    """No cartesian, no row-at-a-time Python, canonical election fused
    as max_by inside ONE aggregate on the cluster key; the composition
    consumes the UNORDERED pair stream (no global pair sort feeding the
    component contraction)."""
    rng = random.Random(61)
    t = _rand_text(rng, 150)
    docs = _docs(spark, [(1, t), (2, t + "zz")])
    df = winnowing_dedup_keep(docs)
    plan = df._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "max_by" in plan
    # the composition reads the unordered pair builder, not
    # winnowing_pairs' ordered output: no Sort over (doc_a, doc_b) exists
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Sort [doc_a" not in phys


# --- q063_winnowing_soft_dedup_weights ------------------------------------


def test_soft_dedup_weights_semantics(spark):
    """Cluster members weigh 1/|cluster|, singletons weigh 1; every
    document appears exactly once."""
    from warcraider_spark.operators.dedup import winnowing_soft_dedup_weights

    rng = random.Random(67)
    x = _rand_text(rng, 80)
    rows = [
        (1, x + "aa"),          # cluster of 3 with 2, 3
        (2, x + "bbbb"),
        (3, x),
        (4, _rand_text(rng, 150)),  # singleton
    ]
    got = {
        r.doc_id: (r.cluster_size, r.weight)
        for r in winnowing_soft_dedup_weights(_docs(spark, rows)).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1] == (3, 1 / 3) and got[2] == (3, 1 / 3) and got[3] == (3, 1 / 3)
    assert got[4] == (1, 1.0)


def test_soft_dedup_weights_mass_conservation(spark):
    """The defining soft-dedup invariant: total weight == number of
    clusters + number of singletons (each duplicated run contributes
    ~one document of sampling mass)."""
    from warcraider_spark.operators.dedup import (
        winnowing_dedup_keep,
        winnowing_soft_dedup_weights,
    )

    rng = random.Random(71)
    shared = [_rand_text(rng, 60) for _ in range(3)]
    rows = []
    for i in range(1, 31):
        parts = [_rand_text(rng, rng.randint(30, 90))]
        if rng.random() < 0.5:
            parts.append(rng.choice(shared))
        rows.append((i, "".join(parts)))
    docs = _docs(spark, rows)
    w = winnowing_soft_dedup_weights(docs)
    total = w.agg(F.sum("weight")).collect()[0][0]
    clusters = winnowing_dedup_keep(docs).count()
    clustered_docs = w.filter(F.col("cluster_size") > 1).count()
    singletons = len(rows) - clustered_docs
    assert abs(total - (clusters + singletons)) < 1e-9


def test_soft_dedup_weights_plan_broadcasts_dictionary(spark):
    """The corpus pass must be a BROADCAST left join against the tiny
    cluster-size dictionary — at 100 TB the documents side never
    shuffles for weight assignment."""
    from warcraider_spark.operators.dedup import winnowing_soft_dedup_weights

    rng = random.Random(73)
    t = _rand_text(rng, 150)
    docs = _docs(spark, [(1, t), (2, t + "x"), (3, _rand_text(rng, 90))])
    plan = winnowing_soft_dedup_weights(docs)._jdf.queryExecution().toString()
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys and "LeftOuter" in phys
    assert "CartesianProduct" not in phys and "BatchEvalPython" not in phys
