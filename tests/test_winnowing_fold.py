"""The winnowing operator's shuffle key is the xxhash64 FOLD of each
selected k-gram (8-byte bigint) instead of the 20-char string. The fold
is post-selection — which positions are fingerprinted is decided by
string min before the hash — so the output pair set and every n_shared
count must be IDENTICAL to the string-keyed pairs on any corpus without
a 64-bit collision among its selected grams. These tests pin that
equality against the pure-Python string reference on random corpora,
and pin that the shuffled type is the bigint fold."""

from __future__ import annotations

import random
import string

from tests.test_winnowing import _py_pairs
from warcraider_spark.operators.dedup import _winnow_select, winnowing_pairs


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def _corpus(seed: int, n_docs: int = 40) -> list[tuple[int, str]]:
    """Random docs with planted shared runs of assorted lengths so the
    pair output is non-trivial: some pairs above the >=2 shared-fp
    threshold, some at exactly one shared fingerprint, some disjoint."""
    rng = random.Random(seed)
    shared_runs = [_rand_text(rng, rng.randint(27, 90)) for _ in range(6)]
    docs = []
    for i in range(1, n_docs + 1):
        parts = [_rand_text(rng, rng.randint(0, 120))]
        for run in shared_runs:
            if rng.random() < 0.3:
                parts.append(run)
                parts.append(_rand_text(rng, rng.randint(0, 60)))
        docs.append((i, "".join(parts)))
    return docs


def _pairs(df) -> dict[tuple[int, int], int]:
    return {(r.doc_a, r.doc_b): r.n_shared for r in df.collect()}


def test_fold_equals_string_on_random_corpora(spark):
    for seed in (3, 17, 101):
        rows = _corpus(seed)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        folded = _pairs(winnowing_pairs(docs))
        strings = _py_pairs(rows)
        assert folded == strings, f"seed {seed}: fold changed the output"
        assert folded, f"seed {seed}: degenerate corpus (no pairs) proves nothing"


def test_fold_shuffles_bigint_not_string(spark):
    """The selector lives in _winnow_select (shared by every consumer),
    so the fold/schema pins live on it directly: the kernel's gram
    strings are hashed by the JVM's xxhash64 right above it."""
    docs = spark.createDataFrame(_corpus(23), "doc_id long, text string")
    sel = _winnow_select(docs)
    plan = sel._jdf.queryExecution().toString()
    assert "xxhash64(gram" in plan and "MapInArrow" in plan
    assert dict(sel.dtypes) == {"doc_id": "bigint", "f": "bigint", "p": "int"}


def test_spread_is_explicit_not_probed(spark):
    """The spread decision must be static — same logical plan
    for the same arguments regardless of input split layout. With
    spread_partitions=None there is no repartition of the input; with an
    explicit target there is exactly one round-robin exchange."""
    docs = spark.createDataFrame(_corpus(5), "doc_id long, text string")
    plan_none = winnowing_pairs(docs)._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" not in plan_none.split("== Physical Plan ==")[-1]
    plan_spread = (
        winnowing_pairs(docs, spread_partitions=8)._jdf.queryExecution().toString()
    )
    phys = plan_spread.split("== Physical Plan ==")[-1]
    assert phys.count("RoundRobinPartitioning(8)") == 1
