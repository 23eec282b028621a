"""q197_winnowing_family_manifest: the
composed winnowing dedup family — keep decision + soft-dedup weight +
excision accounting from ONE shared selector pass. The semantics
contract is the three standalone operators, so the primary pin is
column-for-column agreement with winnowing_dedup_keep /
winnowing_soft_dedup_weights / exact_substring_excision on random
corpora; the plan pins cover the dictionary-join regimes."""

from __future__ import annotations

import random
import string

from warcraider_spark.operators.dedup import (
    exact_substring_excision,
    winnowing_dedup_keep,
    winnowing_family,
    winnowing_soft_dedup_weights,
)


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(seed: int, n_docs: int = 30):
    """Random corpus with shared runs: some docs embed shared snippets
    (cluster-formers), some share nothing, some are below the winnowing
    length floor — the full manifest row mix."""
    rng = random.Random(seed)
    shared = [_rand_text(rng, rng.randint(30, 90)) for _ in range(5)]
    rows = []
    for i in range(1, n_docs + 1):
        if rng.random() < 0.1:
            rows.append((i, _rand_text(rng, rng.randint(0, 20))))  # sub-floor
            continue
        parts = [_rand_text(rng, rng.randint(0, 60))]
        for srun in shared:
            if rng.random() < 0.3:
                parts.append(srun)
                parts.append(_rand_text(rng, rng.randint(0, 40)))
        rows.append((i, "".join(parts)))
    return rows


def _expected_manifest(spark, docs):
    """Assemble the manifest from the three STANDALONE operators — the
    composed plan must reproduce them column for column."""
    weights = {
        r.doc_id: (r.cluster_size, r.weight)
        for r in winnowing_soft_dedup_weights(docs).collect()
    }
    canon = set()
    clustered = set()
    for r in winnowing_dedup_keep(docs).collect():
        canon.add(r.canonical_doc_id)
        # reconstruct members: canonical + removed checksum is not enough;
        # membership comes from cluster_size in the weights table instead
    for doc_id, (n, _w) in weights.items():
        if n > 1:
            clustered.add(doc_id)
    excise = {
        r.doc_id: (r.n_spans, r.chars_removed)
        for r in exact_substring_excision(docs).collect()
    }
    out = {}
    for doc_id, (n, w) in weights.items():
        is_canon = doc_id not in clustered or doc_id in canon
        ns, cr = excise.get(doc_id, (0, 0))
        out[doc_id] = (n, w, is_canon, ns, cr)
    return out


def test_family_matches_standalone_operators(spark):
    for seed in (11, 23, 47):
        rows = _corpus(seed)
        docs = _docs(spark, rows)
        got = {
            r.doc_id: (
                r.cluster_size,
                r.weight,
                r.is_canonical,
                r.n_spans,
                r.chars_removed,
            )
            for r in winnowing_family(docs).collect()
        }
        want = _expected_manifest(spark, docs)
        assert got == want, seed
        assert set(got) == {doc_id for doc_id, _ in rows}  # full corpus


def test_family_singletons_and_subfloor_docs(spark):
    """Documents sharing nothing (and documents below the K+W-1 length
    floor) appear with the identity manifest row: cluster_size 1,
    weight 1.0, canonical, zero spans."""
    rng = random.Random(5)
    rows = [(1, _rand_text(rng, 200)), (2, _rand_text(rng, 200)), (3, "tiny")]
    got = {r.doc_id: tuple(r)[1:] for r in winnowing_family(_docs(spark, rows)).collect()}
    assert got == {
        1: (1, 1.0, True, 0, 0),
        2: (1, 1.0, True, 0, 0),
        3: (1, 1.0, True, 0, 0),
    }


def test_family_cluster_election_and_excision_accounting(spark):
    """Directed: three docs sharing one long run — one cluster of 3,
    longest doc canonical, the two non-owners lose extents."""
    rng = random.Random(77)
    shared = _rand_text(rng, 80)
    rows = [
        (1, "a" * 10 + shared),            # owner of shared fingerprints
        (2, shared + _rand_text(rng, 50)), # longest -> canonical
        (3, shared),
    ]
    got = {r.doc_id: tuple(r)[1:] for r in winnowing_family(_docs(spark, rows)).collect()}
    assert {d: g[0] for d, g in got.items()} == {1: 3, 2: 3, 3: 3}
    assert [d for d, g in got.items() if g[2]] == [2]  # longest wins
    assert got[1][3] == 0  # min-doc owner keeps its text
    assert got[2][3] > 0 and got[3][3] > 0  # non-owners excised


def test_family_dictionary_join_regimes(spark):
    """Default broadcasts the family dictionary onto the corpus scan;
    broadcast_dictionary=False removes the hint (doc_id-keyed shuffle
    join regime for pervasive-duplication corpora). Values identical."""
    rows = _corpus(31)
    docs = _docs(spark, rows)
    dflt = winnowing_family(docs)
    shuf = winnowing_family(docs, broadcast_dictionary=False)
    assert "ResolvedHint" in dflt._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in shuf._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, dflt.collect())) == sorted(map(tuple, shuf.collect()))


def test_family_one_cluster_aggregation(spark):
    """Cluster size and canonical survivor come from ONE aggregation on
    the cluster key (count + max_by over the members joined to their
    lengths), joined back to the members once."""
    import re

    docs = _docs(spark, _corpus(11))
    plan = winnowing_family(docs)._jdf.queryExecution().optimizedPlan().toString()
    aggs = re.findall(r"Aggregate \[comp#\d+L?\], \[[^\n]*", plan)
    assert len(aggs) == 1, aggs
    assert "count(1)" in aggs[0] and "max_by(node" in aggs[0]
