"""Alternating large-star/small-star connected components (q134):

1. converges in O(log n) rounds on a diameter-~96 chain graph — the
   property bounded min-label propagation lacks;
2. a fixed budget of 6 min-label propagation rounds demonstrably FAILS on
   the same graph (labels not converged), proving the contraction does
   work a fixed round budget cannot;
3. components are exactly right on a hand-built fixture (two chains +
   bridge + isolated pair).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from warcraider_spark.operators.graph import (
    CHAIN_LEN,
    alternating_components,
    chain_edges,
)


def test_converges_in_log_rounds_not_diameter(spark, sf_smoke):
    e = chain_edges(spark, sf_smoke)
    rounds: list = []
    comp = alternating_components(e, rounds_out=rounds)
    n_nodes = comp.count()
    # diameter ~ CHAIN_LEN-1 (=96); log-round convergence must beat it by
    # a wide margin (observed 4-6 rounds incl. the stability-confirm one)
    assert len(rounds) <= 2 * int(math.log2(n_nodes)) + 2
    assert len(rounds) < CHAIN_LEN // 4


def test_bounded_label_propagation_fails_on_deep_chains(spark, sf_smoke):
    """A fixed 6-round budget (what q099 ran before it moved onto the
    contraction) is wrong here: after 6 min-label rounds a chain node ~90
    hops from its component minimum still carries a non-minimal label."""
    e = chain_edges(spark, sf_smoke)
    sym = e.select(F.col("src").alias("eu"), F.col("dst").alias("ev")).unionAll(
        e.select(F.col("dst").alias("eu"), F.col("src").alias("ev"))
    ).localCheckpoint(eager=False)
    labels = sym.select(F.col("eu").alias("u")).distinct().select(
        "u", F.col("u").alias("lbl")
    )
    for _ in range(6):
        labels = (
            sym.join(labels, sym.ev == labels.u, "left")
            .groupBy(F.col("eu").alias("node"))
            .agg(F.min("lbl").alias("nbr"))
            .select(
                F.col("node").alias("u"),
                F.least("node", "nbr").alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
    truth = alternating_components(chain_edges(spark, sf_smoke)).withColumnRenamed(
        "node", "u"
    )
    joined = labels.join(truth, "u").filter(F.col("lbl") != F.col("comp"))
    assert joined.count() > 0, "6 rounds should NOT converge on diameter-96 chains"


def test_exact_components_on_fixture(spark):
    # chains 0-1-2-3 and 10-11-12, bridge 3-10, pair 20-21
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (3, 10), (20, 21)],
        "src long, dst long",
    )
    comp = alternating_components(edges)
    got = {(r.node, r.comp) for r in comp.collect()}
    expect = {(n, 0) for n in (0, 1, 2, 3, 10, 11, 12)} | {(20, 20), (21, 20)}
    assert got == expect


def test_contracted_equals_alternating_on_chains(spark, sf_smoke):
    """The r11 hybrid (partition-local union-find contraction + alternating
    CC on the residual seam graph) must be OUTPUT-IDENTICAL to plain
    alternating CC — q134's certified hash rides on this."""
    from warcraider_spark.operators.graph import contracted_components

    plain = {
        (r.node, r.comp)
        for r in alternating_components(
            chain_edges(spark, sf_smoke), assume_canonical=True
        ).collect()
    }
    hybrid = {
        (r.node, r.comp)
        for r in contracted_components(
            chain_edges(spark, sf_smoke), assume_canonical=True
        ).collect()
    }
    assert hybrid == plain


def test_contracted_correct_under_adversarial_partitioning(spark, sf_smoke):
    """Correctness must not depend on the range-partition locality hint:
    remap node ids through a multiplicative permutation (id*2654435761 %
    2^31, odd multiplier => bijective mod 2^31 on the id range) so
    range partitioning SCATTERS every chain across partitions, forcing a
    dense residual seam graph through the multi-piece-per-partition
    merge path."""
    from warcraider_spark.operators.graph import contracted_components

    e = chain_edges(spark, sf_smoke)
    perm = e.select(
        ((F.col("src") * 2654435761) % 2147483648).alias("src"),
        ((F.col("dst") * 2654435761) % 2147483648).alias("dst"),
    )
    plain = {
        (r.node, r.comp) for r in alternating_components(perm).collect()
    }
    rounds: list = []
    hybrid = {
        (r.node, r.comp)
        for r in contracted_components(
            perm, rounds_out=rounds, num_partitions=8
        ).collect()
    }
    assert hybrid == plain
    assert len(plain) > 0


def test_contracted_residual_is_seam_sized(spark, sf_smoke):
    """With forced multi-partition ranges over id-contiguous chains, the
    iterative rounds must see only cross-partition SEAM edges — the whole
    point of the contraction: round-1 residual edge count is a small
    fraction of the input edge count."""
    from warcraider_spark.operators.graph import contracted_components

    e = chain_edges(spark, sf_smoke)
    n_edges = e.count()
    rounds: list = []
    comp = contracted_components(
        e, assume_canonical=True, rounds_out=rounds, num_partitions=8
    )
    comp.count()  # execute
    assert rounds, "residual CC must run (and record its rounds)"
    residual_round1 = rounds[0][0]
    assert residual_round1 < n_edges / 5, (
        f"residual seam graph ({residual_round1}) should be far smaller "
        f"than the input ({n_edges})"
    )


def test_contracted_components_on_fixture(spark):
    from warcraider_spark.operators.graph import contracted_components

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (3, 10), (20, 21)],
        "src long, dst long",
    )
    comp = contracted_components(edges, num_partitions=3)
    got = {(r.node, r.comp) for r in comp.collect()}
    expect = {(n, 0) for n in (0, 1, 2, 3, 10, 11, 12)} | {(20, 20), (21, 20)}
    assert got == expect


def test_contracted_worst_case_path_graph_random_partitioning(spark):
    """r12 (VERDICT r11 #7): pin the docstring's graceful-degradation
    claim (graph.py contracted_components) on the constructed WORST
    case — a single long path whose node labels are randomly permuted,
    so the range partition scatters the path across partitions and the
    seam graph is near-maximal (the partition-local union-find can
    collapse almost nothing).

    Pins, beyond the happy-path tests:
    - output equality with plain alternating CC (both: every node maps
      to the single component minimum);
    - the residual graph really IS near-input-sized (the test forces
      the degenerate regime rather than accidentally contracting);
    - a round-count bound: the residual iteration stays within plain
      alternating CC's O(log n) rounds +1 — degradation is graceful,
      never worse than not contracting at all."""
    import random

    from warcraider_spark.operators.graph import contracted_components

    rng = random.Random(20260816)
    n_nodes = 513
    labels = list(range(1_000, 1_000 + n_nodes))
    rng.shuffle(labels)
    edges = [(labels[i], labels[i + 1]) for i in range(n_nodes - 1)]
    df = spark.createDataFrame(edges, "src long, dst long")

    rounds_plain: list = []
    plain = {
        (r.node, r.comp)
        for r in alternating_components(df, rounds_out=rounds_plain).collect()
    }
    rounds_hybrid: list = []
    hybrid = {
        (r.node, r.comp)
        for r in contracted_components(
            df, rounds_out=rounds_hybrid, num_partitions=8
        ).collect()
    }
    assert hybrid == plain
    comp_min = min(labels)
    assert hybrid == {(x, comp_min) for x in labels}

    # the permutation actually forced the degenerate regime: the seam
    # graph the rounds iterate over is a large fraction of the input
    # (contrast test_contracted_residual_is_seam_sized's < n/5 on
    # id-contiguous chains)
    n_edges = len(edges)
    assert rounds_hybrid[0][0] > n_edges / 5, rounds_hybrid[0][0]

    # graceful degradation: no more rounds than plain alternating CC
    # needs on the same graph, +1 for the contraction's re-canonicalized
    # input; absolute O(log n) ceiling as a drift tripwire
    assert len(rounds_hybrid) <= len(rounds_plain) + 1, (
        rounds_hybrid,
        rounds_plain,
    )
    assert len(rounds_hybrid) <= math.ceil(math.log2(n_nodes)) + 4


def test_contracted_random_graphs_vs_python_truth(spark):
    """Seeded random-graph sweep against an INDEPENDENT mechanism (a
    plain Python union-find computing min-id components): self-loops,
    duplicate/reversed edges, multiple components, sparse ids, and
    varying forced partition counts — the shapes real dedup graphs
    throw at the contraction."""
    import random

    from warcraider_spark.operators.graph import contracted_components

    rng = random.Random(0xC0FFEE)
    for trial in range(10):
        n = rng.randint(2, 60)
        ids = rng.sample(range(0, 10_000_000), n)
        n_edges = rng.randint(1, 3 * n)
        edges = [
            (rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)
        ]
        if trial % 3 == 0:
            edges.append((ids[0], ids[0]))  # explicit self-loop
        # python union-find truth over nodes that appear in a NON-LOOP
        # edge (the operator's domain: self-loops are filtered, so a
        # node seen only in a self-loop never appears in the output)
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        domain = set()
        for a, b in edges:
            if a == b:
                continue
            domain |= {a, b}
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_min: dict = {}
        for x in domain:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        truth = {(x, comp_min[find(x)]) for x in domain}

        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r.node, r.comp)
            for r in contracted_components(
                df, num_partitions=(trial % 4) + 1
            ).collect()
        }
        assert got == truth, f"trial {trial}: {got ^ truth}"
