"""The BPE merge rounds run executor-locally (one task over the
≤BPE_VOCAB_TOP-row vocabulary). These tests pin that trainer against a
distributed per-round reference kept here — one pair-count shuffle +
top-1 + broadcast-replace per round — on the real corpus vocabulary and
on a constructed tie-heavy vocabulary (merges AND final segmented
words), and that the empty-vocabulary edge emits zero rows rather than
erroring."""

from __future__ import annotations

from warcraider_spark.operators.text import (
    BPE_MERGES,
    _bpe_rounds_local,
    _bpe_train,
    _bpe_vocab,
)


def _pair_counts(words):
    """Adjacent-pair counts over the wrapped-word table: unwrap to the
    symbol array, zip-with-next, weight by word frequency."""
    from pyspark.sql import functions as F

    syms = F.split(F.regexp_replace("s", "^<|>$", ""), "><")
    return (
        words.select(syms.alias("syms"), "cnt")
        .filter(F.size("syms") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " k -> struct(syms[k - 1] AS l, syms[k] AS r))"
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("pc"))
    )


def _distributed_rounds_on(spark, words_rows):
    """Run the distributed per-round loop on an explicit vocabulary."""
    from pyspark.sql import functions as F

    from warcraider_spark.lineage import cut_lineage

    words = spark.createDataFrame(words_rows, "s string, cnt long").transform(
        cut_lineage
    )
    merges = []
    for i in range(1, BPE_MERGES + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("pc"), "l", "r")
            .limit(1)
            .transform(cut_lineage)
        )
        merges.append(best)
        words = (
            words.crossJoin(F.broadcast(best.select("l", "r")))
            .select(
                F.expr(
                    "replace(s, concat('<', l, '><', r, '>'),"
                    " concat('<', l, r, '>'))"
                ).alias("s"),
                "cnt",
            )
            .transform(cut_lineage)
        )
    rows = []
    for i, b in enumerate(merges, start=1):
        for r in b.collect():
            rows.append((i, r["l"], r["r"], r["l"] + r["r"], r["pc"]))
    final = sorted((r["s"], r["cnt"]) for r in words.collect())
    return final, rows


def test_local_equals_distributed_on_corpus(spark, sf_correct):
    vocab = [(r["s"], r["cnt"]) for r in _bpe_vocab(spark, sf_correct).collect()]
    dist_final, dist_merges = _distributed_rounds_on(spark, vocab)

    words_df, merges_df = _bpe_train(spark, sf_correct)
    local_merges = sorted(tuple(r) for r in merges_df.collect())
    local_final = sorted((r["s"], r["cnt"]) for r in words_df.collect())

    assert local_merges == dist_merges
    assert local_final == dist_final
    assert len(local_merges) == BPE_MERGES


def test_local_equals_distributed_on_tie_heavy_vocab(spark):
    # counts engineered so several pairs tie on pc and the (l, r)
    # lexicographic tie-break decides — the risk point of any rewrite
    rows = [
        ("<a><b>", 4),
        ("<a><c>", 4),
        ("<b><a>", 4),
        ("<a><b><a><b>", 2),
        ("<c>", 9),
        ("<z><z><z>", 3),
    ]
    dist_final, dist_merges = _distributed_rounds_on(spark, rows)
    final_local, merges_local = _bpe_rounds_local(rows)
    assert sorted(final_local) == dist_final
    assert [tuple(m) for m in merges_local] == dist_merges


def test_empty_vocabulary_emits_zero_rows(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf_empty"
    d.mkdir()
    # only doc_id/text are read by the trainer, so a minimal empty file
    # with those columns suffices
    pq.write_table(
        pa.table({"doc_id": pa.array([], "int64"),
                  "text": pa.array([], "string"),
                  "n_chars": pa.array([], "int32"),
                  "lang": pa.array([], "string")}),
        str(d / "documents.parquet"),
    )
    words_df, merges_df = _bpe_train(spark, str(d))
    assert merges_df.count() == 0
    assert words_df.count() == 0
