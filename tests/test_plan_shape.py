"""Physical-plan shape assertions — the 100 TB story, checked in CI.

Correctness tests prove the operators compute the right answer at small SF;
these tests prove the PLANS are the ones that survive a 1000-executor
scale-up: dimensions broadcast, filters and projections reach the parquet
scan, partition pruning fires on partitioned layouts, bucketed joins avoid
the shuffle, and aggregations are partial+final (map-side combine).

Each assertion reads `.explain("formatted")` / EXPLAIN EXTENDED output the
same way a human reviewer would, so a plan regression (e.g. a broadcast
silently degrading to sort-merge, or a filter stuck above the scan) fails
CI instead of surfacing as a 10× slowdown at scale.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE
from warcraider_spark.registry import all_specs
from warcraider_spark.tables import load_table


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def test_star_join_broadcasts_dims(spark):
    """q093: all dimension joins must be broadcast-hash — a sort-merge join
    against `region`/`nation` at 100 TB would shuffle the fact table once
    per dimension."""
    df = all_specs()["q093_star_join_revenue"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_and_projection_reach_scan(spark):
    """A 2-column projection with a selective filter must push both into
    the parquet scan: PushedFilters non-empty, ReadSchema only the needed
    columns (never the full 16-column lineitem schema)."""
    li = load_table(spark, SF_CORRECT, "lineitem")
    df = li.filter(F.col("l_shipdate") <= "1998-09-02").groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty")
    )
    plan = plan_of(df)
    scan = plan[plan.index("Scan parquet") :]
    pushed = next(l for l in scan.splitlines() if l.startswith("PushedFilters"))
    read = next(l for l in scan.splitlines() if l.startswith("ReadSchema"))
    assert "LessThanOrEqual(l_shipdate" in pushed
    assert "l_returnflag" in read and "l_quantity" in read and "l_shipdate" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_aggregate_is_partial_final(spark):
    """groupBy aggs must be two-phase (map-side combine): the shuffle
    carries one row per (partition, key), not one per input row."""
    df = all_specs()["q090_pricing_summary"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "partial_sum" in plan or "partial_count" in plan


def test_partition_pruning(spark, tmp_path):
    """Writing partitionBy(col) then filtering on col must prune at plan
    time: the scan's partition count drops and the filter is a
    PartitionFilter, not a post-scan Filter. This is the §2.1 BigQuery
    day-partitioning equivalent (reference load.bat:7)."""
    path = os.path.join(str(tmp_path), "events_by_type")
    ev = load_table(spark, SF_CORRECT, "events").withColumn(
        "day", F.to_date("ts")
    )
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    kinds = [r[0] for r in back.select("event_type").distinct().collect()]
    one = back.filter(F.col("event_type") == kinds[0]).select("event_id")
    plan = plan_of(one)
    assert "PartitionFilters: [isnotnull(event_type" in plan
    # the partition predicate must NOT degrade to a row-level pushed/post-scan
    # filter — pruning happens at file-listing time, before any IO
    scan = plan[plan.index("Scan parquet") :]
    pushed = next(
        (l for l in scan.splitlines() if l.strip().startswith("PushedFilters")), ""
    )
    assert "event_type" not in pushed
    # contrast: a predicate on a DATA column lands in PushedFilters instead
    data_filtered = back.filter(F.col("value") > 0.5).select("event_id")
    dplan = plan_of(data_filtered)
    dpushed = next(
        l for l in dplan.splitlines() if l.strip().startswith("PushedFilters")
    )
    assert "GreaterThan(value" in dpushed


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join with ZERO Exchange — the
    co-located join that makes repeated fact-to-fact joins affordable at
    100 TB (reference's BigQuery clustering, load.bat:5)."""
    orders = load_table(spark, SF_CORRECT, "orders")
    li = load_table(spark, SF_CORRECT, "lineitem")
    # at sf0.01 both sides fit under the broadcast threshold, which would
    # sidestep the bucketing entirely; disable it so the test exercises the
    # plan a 100 TB fact-to-fact join would get
    thresholds = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    for k, v in thresholds.items():
        spark.conf.set(k, v)
    try:
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
            "path", os.path.join(str(tmp_path), "b_orders")
        ).mode("overwrite").saveAsTable("b_orders")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
            "path", os.path.join(str(tmp_path), "b_lineitem")
        ).mode("overwrite").saveAsTable("b_lineitem")
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select("l_orderkey", "o_totalprice")
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert joined.count() == li.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_minhash_signature_single_tokenize(spark):
    """q189 regression: tokenization must stay in its own Project (evaluated
    once per row), not be inlined 6× into the shingle expression — see
    dedup._exploded_shingles."""
    from warcraider_spark.operators.dedup import _exploded_shingles, dup_corpus

    df = _exploded_shingles(dup_corpus(spark, SF_CORRECT))
    plan = plan_of(df)
    # the Generate (explode of shingles) must consume the materialized `toks`
    # attribute, never re-derive split(trim(text)) inside its slices — the
    # per-branch Projects below it each tokenize exactly once
    gen = next(
        l for l in plan.splitlines() if l.strip().startswith("Arguments: explode")
    )
    assert "split(trim(text" not in gen, (
        "tokenize expression duplicated into shingle slices:\n" + gen
    )
    assert "toks#" in gen


def test_topk_is_take_ordered(spark):
    """q193: global top-k must compile to TakeOrderedAndProject (per-
    partition heap + single merge), never a full Sort + Limit."""
    df = all_specs()["q193_global_topk"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_salted_join_no_single_hot_partition(spark):
    """q047: the salted skew join must key the shuffle on (key, salt) —
    plan shows the salt column in the join keys."""
    df = all_specs()["q047_salted_skew_join"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "salt" in plan


def test_salting_spreads_hot_key_across_partitions(spark):
    """The salting mechanism itself (VERDICT r5 #6): on a synthesized
    1000:1-skewed key, hash-partitioning on the bare key puts EVERY hot
    row in one partition, while q047's (key, salt-from-row-id) scheme
    splits the hot key across >= 4 of 32 partitions — the executable form
    of the 'no single hot partition' claim (deterministic: fixed values,
    fixed partitioning)."""
    from pyspark.sql import functions as F

    SALT = 8
    fact = spark.range(10_000).select(
        F.when(F.col("id") % 1000 != 0, F.lit(0)).otherwise(F.col("id")).alias("key"),
        F.col("id"),
    )
    hot = fact.filter(F.col("key") == 0)
    unsalted_pids = (
        hot.repartition(32, F.col("key"))
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    salted_pids = (
        hot.withColumn("salt", (F.col("id") % SALT).cast("int"))
        .repartition(32, F.col("key"), F.col("salt"))
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert unsalted_pids == 1
    assert salted_pids >= 4


def test_decile_no_global_sort(spark):
    """q102 (VERDICT r8 #3): exact NTILE semantics must come from the
    bucketed distributed prefix-sum, never a global single-partition
    window over the fact table — the heavy row_number window is
    partitioned by bucket, the tiny offsets table is broadcast, and no
    ntile() survives in the plan."""
    df = all_specs()["q102_decile_distribution"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "ntile" not in plan.lower()
    # the fact-table window carries the bucket partition spec
    assert "row_number() windowspecdefinition(bucket" in plan
    # offsets (tiny per-bucket summary) join back by broadcast
    assert "BroadcastExchange" in plan


def test_approx_quantile_error_bound(spark):
    """q156: the GK sketch at accuracy 10000 must stay within 1% of the
    exact percentile at this SF (rank error ≤ n/accuracy — tighter than
    the query's own in-plan rank-window verdicts, checked against the
    factored sketch pass), and the certified verdict booleans must all
    be TRUE."""
    from warcraider_spark.operators.relational import gk_price_quantiles

    rows = gk_price_quantiles(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert abs(r.ap[0] - r.exact[0]) / r.exact[0] < 0.01
        assert abs(r.ap[1] - r.exact[1]) / r.exact[1] < 0.01
    verdicts = all_specs()["q156_approx_quantiles"].builder(spark, SF_CORRECT).collect()
    assert verdicts and all(v.median_in_bound and v.p95_in_bound for v in verdicts)


def test_asof_join_single_shuffle(spark):
    """q129: the union+window as-of composition must shuffle ONCE on
    user_id before the final presentation sort — never the range-join
    explosion a non-equi formulation would plan."""
    df = all_specs()["q129_asof_join"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan, "as-of must compile to window+union, not a join"
    # exchanges: one hashpartitioning(user_id) for the window, one range
    # partitioning for the final orderBy — nothing else
    assert plan.count("+- Exchange") + plan.count(":- Exchange") <= 2


def test_ivf_search_broadcasts_centroids(spark):
    """q024: the vectors×centroids cross join must BUILD on a broadcast of
    the tiny centroid table (BNLJ BuildRight) — the vector stream never
    shuffles for assignment; a CartesianProduct (both sides shuffled)
    would be the 100 TB killer. Candidate generation joins on the bucket
    key (equi: SMJ here, AQE may demote to broadcast at runtime)."""
    df = all_specs()["q024_ivf_topk_search"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin Inner" in plan or "BroadcastHashJoin Inner" in plan


def test_pipeline_query_no_joins(spark):
    """q174 (the entry flagship): quality filter → dedup → accounting must
    stay a linear agg pipeline — two exchanges, no joins."""
    df = all_specs()["q174_training_data_pipeline"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 2


def test_two_stage_rerank_broadcasts_queries(spark):
    """q050: the coarse stage must be a BroadcastNestedLoopJoin with the
    (tiny) query set as build side — the corpus streams once; a cartesian
    product or a shuffle of the corpus against queries would be the 100 TB
    killer."""
    df = all_specs()["q050_two_stage_rerank"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_benchmark(spark):
    """q055: the benchmark shingle set must broadcast so the corpus-side
    shingles never shuffle for the join (the corpus is the 100 TB side)."""
    df = all_specs()["q055_benchmark_contamination"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sketch_aggs_are_partial_final(spark):
    """q049: sketch aggregates must plan as partial ObjectHashAggregate →
    Exchange → final — the sketches merge map-side, so the shuffle carries
    one bounded sketch per group, not raw values (the whole point of
    mergeable sketches)."""
    df = all_specs()["q049_sketch_distinct_rollup"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("ObjectHashAggregate") >= 4  # partial+final × two levels
    assert "Exchange" in plan


def test_mixture_weights_broadcast(spark):
    """q160: the weight recipe joins as a broadcast and the keep decision
    stays a map-side expression (no shuffle before the accounting agg)."""
    df = all_specs()["q160_weighted_mixture"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dim_profile_shuffle_is_bounded(spark):
    """q056: the per-dimension profile must partial-aggregate before its
    single exchange — the shuffle key domain is the embedding width, so
    the exchange moves ~dims rows per input partition no matter the
    corpus size."""
    df = all_specs()["q056_embedding_dim_profile"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "partial_sum" in plan or "partial_count" in plan
    # exactly one agg shuffle + the orderBy range exchange, nothing else
    assert plan.count("+- Exchange") + plan.count(":- Exchange") <= 2
    assert plan.count("hashpartitioning") == 1


def test_lm_score_vocab_is_broadcast(spark):
    """q057: the vocabulary-size scalar must ride a broadcast nested-loop
    cross join — a shuffled cross join against a 1-row side would
    repartition the full scored-bigram stream."""
    df = all_specs()["q057_lm_score"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_sequence_packing_single_window_shuffle(spark):
    """q125: packing is ONE hash exchange on the shard key feeding the
    running-sum window — no join, no second shuffle before the sort."""
    df = all_specs()["q125_sequence_packing"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Window" in plan
    assert plan.count("hashpartitioning") == 1


def test_kmeans_broadcasts_centroids(spark):
    """q046: a Lloyd assignment step must join the vector table against a
    BROADCAST of the (k x dims)-row centroid table — a shuffled centroid
    join would repartition the full corpus once per iteration. Asserted on
    the raw step subplan (the final q046 plan hides iterations behind
    localCheckpoint leaves)."""
    from warcraider_spark.operators.similarity import _km_assign

    ex = spark.createDataFrame(
        [(v, d, (v * 7 + d) % 100) for v in range(20) for d in range(1, 5)],
        "vec_id long, dim int, mv long",
    )
    cent = spark.createDataFrame(
        [(j, d, (j * 13 + d) % 100) for j in range(2) for d in range(1, 5)],
        "j int, dim int, cv long",
    )
    plan = plan_of(_km_assign(ex, cent))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_layers_reaggregate_partials(spark):
    """q162: the daily layer's input must be the hourly AGGREGATE, not raw
    events — three stacked partial+final agg pairs over ONE scan.
    (explain('formatted') prints each node twice: tree + details.)"""
    df = all_specs()["q162_rollup_layers"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 2  # one scan node
    assert plan.count("HashAggregate") >= 12  # >= 6 nodes: 3 layers x 2 phases


def test_duplicate_spans_single_shuffle_topk(spark):
    """q133: span discovery is pure aggregation — ONE hash exchange on the
    gram key (count-distinct expands to a two-phase agg on that same key),
    a TakeOrderedAndProject head, and NO self-join anywhere (the all-pairs
    product that makes naive substring dedup intractable)."""
    df = all_specs()["q133_duplicate_spans"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_token_budget_window_is_partitioned(spark):
    """q084: the corpus-side cumulative sum must run under a PARTITIONED
    window (bucketed prefix-sum) — the only orderBy-without-partitionBy
    windows allowed are over the ~21-row bucket summary. A global window
    over the document table is a single-partition non-starter at 100 TB."""
    df = all_specs()["q084_token_budget_select"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "windowspecdefinition(bucket" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_triangle_count_no_cartesian(spark):
    """q014: both triangle joins must be key-equi joins (shuffle or
    broadcast on the node key) and the total-count attach must ride a
    broadcast — any CartesianProduct means the orientation trick failed
    and the plan is all-pairs."""
    df = all_specs()["q014_triangle_count"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total attach


def test_interval_join_is_equi_not_nested_loop(spark):
    """q092: the interval join must be an EQUI hash join on the bin key —
    a pure range predicate plans as BroadcastNestedLoopJoin (O(n·m)
    compares), which is exactly what the binned rewrite exists to kill.
    Every join in the plan must be hash-based."""
    df = all_specs()["q092_interval_bin_join"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """Semi-join reduction via Catalyst's runtime bloom filter: when a
    selective dim filter can't broadcast (think a 50 GB filtered dim at
    100 TB), InjectRuntimeFilter must build a bloom_filter_agg over the
    dim keys and pre-filter the fact scan BEFORE its shuffle — otherwise
    the full fact table shuffles only to be thrown away by the join."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # force the non-broadcast regime the rule exists for
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_CORRECT, "lineitem")
        od = load_table(spark, SF_CORRECT, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = li.join(od, li.l_orderkey == od.o_orderkey).groupBy("o_orderpriority").agg(
            F.sum("l_quantity").alias("sum_qty")
        )
        plan = plan_of(df)
        assert "bloom_filter_agg" in plan, "runtime bloom filter was not injected"
        assert "might_contain" in plan or "BloomFilter" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_merge_upsert_base_never_shuffles(spark):
    """q045: the MERGE batch (deletes + updates) must ride broadcast joins
    — the base relation shuffling for a maintenance batch is the classic
    full-outer MERGE mistake at 100 TB."""
    df = all_specs()["q045_merge_upsert"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_corpus_shard_window_is_partitioned(spark):
    """q165: the position window must be PARTITIONED BY shard — a global
    row_number() OVER (ORDER BY hash) would funnel the whole corpus
    through one reducer."""
    df = all_specs()["q165_corpus_shard"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    # the Window operator spec must carry a partition spec on `shard`
    assert "windowspecdefinition(shard" in plan, "position window is not partitioned by shard"


def test_skyline_local_pass_is_bucket_partitioned(spark):
    """q167: the first (full-data) skyline pass must run per hash-bucket;
    only survivors may enter the unpartitioned global window."""
    df = all_specs()["q167_skyline_docs"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "bucket" in plan, "local skyline pass lost its bucket partitioning"


def test_concat_chunk_corpus_window_is_bucketed(spark):
    """q108: the corpus-side cumsum window must be PARTITIONED BY bucket —
    the only unpartitioned window allowed is the one over the ~|buckets|
    summary table."""
    df = all_specs()["q108_concat_chunk_blocks"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "windowspecdefinition(bucket" in plan, (
        "corpus cumsum window lost its bucket partitioning"
    )


def test_bloom_probe_filter_is_broadcast(spark):
    """q037: both the bloom word-table probe and the exact-membership
    audit must ride BROADCAST joins — the batch is never shuffled against
    the base, and nothing may fall back to SMJ or a cartesian."""
    df = all_specs()["q037_bloom_dedup_probe"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_countmin_probe_is_broadcast(spark):
    """q124: the d×w counter table is constant-size; the point-query
    probe must broadcast it, never shuffle the probe set by cell key."""
    df = all_specs()["q124_countmin_freq"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_simhash_radius_band_join_is_equi(spark):
    """q039: candidate generation must be the (band, value) EQUI
    self-join — a BroadcastNestedLoopJoin or CartesianProduct means the
    hamming predicate leaked into the join and the plan went all-pairs
    (that quadratic form exists only oracle-side)."""
    df = all_specs()["q039_simhash_radius"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    # exactly-once pair emission is a per-row bit test, never a
    # (doc_a, doc_b)-keyed distinct: a re-shuffle of the candidate set
    # is the quadratic-at-8x shape SCALE.md §10 measured at 80s
    assert "hashpartitioning(doc_a" not in plan, (
        "q039 candidate pairs re-shuffled for dedup — the first-matching-"
        "band filter regressed to a distinct()"
    )


def test_containment_join_broadcasts_query_terms(spark):
    """q180: the query-term list must ride a broadcast join onto the
    exploded postings — a shuffle of the corpus postings keyed by the tiny
    query set would serialize on a handful of term keys at scale. No
    cartesian anywhere."""
    df = all_specs()["q180_set_containment_join"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sparse_dot_query_weights_broadcast(spark):
    """q023: the query-side weight table broadcasts; the top-k window is
    partitioned by query (never a global sort); no nested-loop joins."""
    df = all_specs()["q023_sparse_dot_topk"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the corpus count resolves driver-side (q039 idiom), so there is no
    # 1-row cross-join subtree left to duplicate through the lineage
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition(qid" in plan.lower().replace(" ", "") or "qid" in plan


def test_sparse_dot_single_materialization(spark):
    """q023 (r10, VERDICT r9 #6): the shared TF-IDF weight table is
    materialized once (cut_lineage), so the static plan no longer
    duplicates the tok lineage 4x — the 10-exchange plan that needed a
    runtime AQE stage-reuse audit to trust is now <=4 shuffle exchanges
    statically: qw window, dots groupBy, rank window, final order."""
    df = all_specs()["q023_sparse_dot_topk"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    shuffles = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert shuffles <= 4, f"expected <=4 shuffle exchanges, plan has {shuffles}"
    # the weight-table build is behind the materialization barrier: its
    # signature duplicated subtree (the df-cap aggregate) appears at most
    # once in the static plan
    assert plan.count("ExistingRDD") >= 1 or "LogicalRDD" in plan or "Scan ExistingRDD" in plan


def test_connected_components_is_equi_join_per_round(spark, sf_smoke):
    """q134: the contraction's half-round plan is groupBy + equi-join on
    the node id — a cartesian or nested-loop would be quadratic in edges."""
    from warcraider_spark.operators.graph import chain_edges

    e = chain_edges(spark, sf_smoke)
    sym = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    m = sym.groupBy("u").agg(F.min("v").alias("mv")).select("u", F.least("u", "mv").alias("m"))
    half_round = sym.join(m, "u").filter(F.col("v") > F.col("u"))
    plan = plan_of(half_round)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_approx_distinct_error_bound(spark):
    """q109: HLL++ at rsd=0.01 must land within 3 standard deviations
    (3%) of the exact distinct count per group — tighter than the
    query's certified 5σ verdict, which must also be all-TRUE."""
    from warcraider_spark.tables import load_table

    raw = (
        load_table(spark, SF_CORRECT, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .collect()
    )
    assert raw
    for r in raw:
        assert abs(r.approx_parts - r.exact_parts) / r.exact_parts < 0.03, r
    verdicts = all_specs()["q109_approx_distinct"].builder(spark, SF_CORRECT).collect()
    assert verdicts and all(v.within_5pct for v in verdicts)


def test_kll_quantile_error_bound(spark):
    """q107: KLL (default k) guarantees additive RANK error ~1.65/sqrt(k)
    ≈ 1.2%; assert each reported quantile's TRUE rank among the exact
    values is within 2% of the requested rank — the sketch's actual
    contract, checked without fixing its randomized internals."""
    import bisect

    from warcraider_spark.operators.sketches import _keyed_events

    from warcraider_spark.operators.sketches import kll_event_estimates

    rows = {
        r["event_type"]: r
        for r in kll_event_estimates(spark, SF_CORRECT).collect()
    }
    vals = (
        _keyed_events(spark, SF_CORRECT)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("value")).alias("vs"))
        .collect()
    )
    by_type = {r["event_type"]: list(r["vs"]) for r in vals}
    checked = 0
    for et, vs in by_type.items():
        if et not in rows or not vs:
            continue
        n = len(vs)
        assert rows[et]["n"] == n
        for q, est in ((0.5, rows[et]["p50v"]), (0.95, rows[et]["p95v"])):
            true_rank = bisect.bisect_right(vs, est) / n
            assert abs(true_rank - q) < 0.02, (et, q, est, true_rank)
            checked += 1
    assert checked >= 4
    # the certified in-plan verdicts (10% slack) must also be all-TRUE
    verdicts = all_specs()["q107_sketch_kll_quantiles"].builder(spark, SF_CORRECT).collect()
    assert verdicts and all(
        v.p50_in_bound and v.p95_in_bound and v.rank50_in_bound for v in verdicts
    )


# --- side-effect-free plan construction (VERDICT r6 #8) --------------------

# Builders whose documented contract EXECUTES Spark work at plan-
# construction time. Additions require a justification here — everything
# else must build its DataFrame with ZERO Spark jobs, so explain()/
# plan-audit over the registry is free and a new build-time count()/
# first()/eager-checkpoint regression fails CI.
BUILD_TIME_EXECUTION_OK = {
    # iterative operators: the driver-side loop (per-round lineage cut /
    # convergence check) is the operator's documented contract
    "q159_pagerank": "fixed-round power iteration, per-round reliable lineage cut",
    "q134_connected_components": "r11 hybrid: eager node→root mapping materialization + residual large/small-star loop with data-dependent convergence check",
    "q040_bpe_merge_train": "cut_lineage materializes the bounded BPE vocabulary table at build, read by the executor-local merge rounds (q023 contract)",
    "q046_kmeans_codebook": "per-round assign/update with reliable lineage cuts",
    "q141_bpe_encode": "trains the q040 merges to segment the vocabulary: same build-time vocabulary cut (q023 contract)",
    "q142_pq_encode": "per-subspace k-means loops (q046 contract)",
    "q151_semantic_dedup": "k-means clustering loop (q046 contract)",
    "q099_dedup_clusters": "composes contracted_components on the LSH pair graph (q134 contract)",
    "q062_winnowing_dedup_keep": "composes contracted_components on the winnowing pair graph (q134 contract: eager contraction + convergence-checked residual rounds)",
    "q063_winnowing_soft_dedup_weights": "same contracted_components composition as q062 (q134 contract)",
    "q197_winnowing_family_manifest": "shared-selector composition: cut_lineage materializes the fingerprint pass once for all family branches (q023 contract) + contracted_components (q134 contract)",
    "q172_perceptron_train": "per-epoch gradient rounds with lineage cuts",
    # streaming: builders replay real micro-batches through a query
    "q030_watermark_semantics": "executes a micro-batch replay to surface watermark drops",
    "q052_stream_stream_join": "executes a stream-stream join replay",
    "q115_stream_static_enrich": "executes a stream-static micro-batch replay",
    # eager Spark APIs whose eagerness IS the documented surface
    "q146_ml_lsh_variants": "pyspark.ml estimator .fit() trains at build",
    "q170_crosstab": "df.stat.crosstab computes its pivot eagerly",
    # r10: the weight-table materialization (VERDICT r9 #6). Under AQE,
    # toRdd inside even a LAZY localCheckpoint executes the upstream
    # stages, so the shared TF-IDF lineage materializes while the
    # builder runs. That IS the documented contract (build once, both
    # consumers read blocks) and the cost stays inside the bench's
    # timed window — the builder call is timed, and no cross-invocation
    # cache survives to later reps (unlike cache()).
    "q023_sparse_dot_topk": "cut_lineage materializes the shared weight table at build",
    # r15: same q023 contract — an AQE lazy localCheckpoint executes the
    # upstream stages while the builder runs; the cost stays inside the
    # bench's timed window and nothing survives across reps.
    "q088_exact_substring_excision": "cut_lineage materializes the shared position-selector stream at build (q023 contract)",
    "q039_simhash_radius": "cut_lineage materializes the narrow (doc_id, sketch) stream at build (q023 contract)",
}


def test_plan_construction_launches_no_jobs(spark):
    """Building every registry DataFrame (the driver's first step, and
    what plan-audit explains) must launch zero Spark jobs outside the
    justified list above: a build-time count()/first() means every
    explain() pays a scan, and under AQE an eager-or-lazy checkpoint at
    build time executes the whole upstream DAG (q135's r6 shape). Table
    footer-read jobs are excluded by pre-warming the load_table cache —
    that cost is per-(session, table), not per-build."""
    from warcraider_spark.tables import load_tables

    load_tables(spark, SF_SMOKE)  # pre-warm footer reads
    sc = spark.sparkContext

    def njobs() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    offenders: dict[str, int] = {}
    for name, spec in sorted(all_specs().items()):
        before = njobs()
        spec.builder(spark, SF_SMOKE)
        ran = njobs() - before
        if ran:
            offenders[name] = ran
    unjustified = {n: c for n, c in offenders.items() if n not in BUILD_TIME_EXECUTION_OK}
    assert not unjustified, f"build-time Spark jobs without justification: {unjustified}"


def test_mixture_trio_plan_shapes(spark):
    """r10 training-mixture trio: q009's corpus pass is one partial-
    aggregated scan (its windows/broadcasts run on the ~|domains|-row
    rollup — the only SortMergeJoin-free shape that never re-reads the
    fact table); q010's top-k is TakeOrderedAndProject over the bounded
    hashed-ratio broadcast join; q011's ranking window is PARTITIONED
    by the domain key, never a global sort."""
    specs = all_specs()
    p9 = plan_of(specs["q009_domain_mixture_weights"].builder(spark, SF_CORRECT))
    assert "SortMergeJoin" not in p9
    assert "CartesianProduct" not in p9
    p10 = plan_of(specs["q010_dsir_select"].builder(spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in p10
    assert "BroadcastHashJoin" in p10
    assert "SortMergeJoin" not in p10
    p11 = plan_of(specs["q011_domain_quality_select"].builder(spark, SF_CORRECT))
    assert "windowspecdefinition(source" in p11.lower().replace(" ", "")
    assert "SortMergeJoin" not in p11 and "CartesianProduct" not in p11


def test_warc_pipeline_is_map_only_until_write(spark, tmp_path):
    """The e2e WARC pipeline spends nearly all executor time in the map
    stage because the transform graph is shuffle-FREE by construction:
    native pre-filters (the blacklist is one literal predicate, not a
    join against a driver-built table), four pandas-UDF crossings and all
    projections compose into one map stage, and the only exchange in the
    whole job is the repartition("source") the WRITE adds. The gunzip UDF
    is planned once: a pushed-down null filter must not re-evaluate it.
    Pin all of it."""
    from warcraider_spark.plans.pipeline import url_resource_from_warc_records
    from warcraider_spark.sources.warc import build_warc_bytes, read_warc_auto

    page = b"HTTP/1.1 200 OK\n\n\r\n<html><head><title>t</title></head><body><p>x</p></body></html>"
    warc = tmp_path / "one.warc"
    warc.write_bytes(
        build_warc_bytes(
            [
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "https://e.example/x",
                        "Uncompressed-Content-Length": str(len(page)),
                    },
                    page,
                )
            ]
        )
    )
    res = url_resource_from_warc_records(read_warc_auto(spark, str(tmp_path)))
    plan = plan_of(res)
    shuffles = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert shuffles == 0, f"transform graph must be map-only, found {shuffles} exchanges:\n{plan[:2000]}"
    # the blacklist runs in the scan's map stage: no broadcast anti-join
    # against a table built from driver-side Python lists
    for node in ("BroadcastExchange", "LeftAnti", "Scan ExistingRDD"):
        assert node not in plan, f"{node} in the ETL plan:\n{plan[:2000]}"
    # each record is decompressed once
    assert plan.count("_gunzip(") == 1, plan[:4000]
    written = res.repartition("source").sortWithinPartitions("domain_name")
    wplan = plan_of(written)
    wshuffles = wplan.count("+- Exchange") + wplan.count(":- Exchange")
    assert wshuffles == 1, f"write path must add exactly one exchange, found {wshuffles}"


def test_mixture_pipeline_runtime_stage_reuse(spark):
    """q187 (r11): the composed gate->water-fill->DSIR->pack plan
    statically duplicates the gated-corpus lineage (each consuming stage
    re-declares the scan + gate window), but AQE reuses the identical
    shuffle/broadcast stages at RUNTIME. The q082 lesson says the
    PRE-execution plan shows zero ReusedExchange under AQE — so audit
    the POST-execution final adaptive plan (isFinalPlan=true), where the
    reuse is explicit. Pin: >=4 ReusedExchange nodes (r11 measurement: 6
    reused over 14 shuffle + 13 broadcast stages; the UI REST view of
    the same run shows 21 skipped / 24 complete stages), and no
    cartesian anywhere."""
    df = all_specs()["q187_mixture_pipeline_e2e"].builder(spark, SF_CORRECT)
    assert "CartesianProduct" not in plan_of(df)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    reused = final.count("ReusedExchange")
    assert reused >= 4, f"expected >=4 AQE-reused exchanges, got {reused}"


def test_winnowing_selector_fused_and_pruned(spark):
    """q069_winnowing_dup_pairs: the winnowing selector must stay ONE
    vectorized Arrow kernel (MapInArrow) per scan — no row-at-a-time
    Python, no UDF — the parquet scan must read only doc_id+text with
    the length filter's null guard pushed, the kernel's selected k-grams
    must be hashed by the JVM's xxhash64 into the 8-byte key right above
    it (the string form never leaves the map side), the fingerprint
    stream must shuffle on f (hash partitioning), and there must be no
    cartesian product — the pair join is keyed on the fingerprint. The
    registry plan also carries exactly ONE round-robin spread of the
    narrow input rows (the spread is an explicit caller parameter, not
    an RDD probe — the registry query passes defaultParallelism because
    the testdata is a byte-dense single-split file; at-scale callers
    pass None and the exchange disappears, pinned in
    tests/test_winnowing_fold.py)."""
    df = all_specs()["q069_winnowing_dup_pairs"].builder(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one selector kernel per scan: the MapInArrow emitting the gram column
    selectors = [
        l for l in plan.splitlines() if l.startswith("Arguments: gen(") and "gram#" in l
    ]
    scans = [l for l in plan.splitlines() if l.startswith("(") and ") Scan parquet" in l]
    assert len(selectors) == len(scans) == 1
    # selection in the kernel, the fold in the JVM right above it
    assert "xxhash64(gram#" in plan
    # scan pruned to the two needed columns
    scan = plan[plan.index("Scan parquet") :]
    read = next(l for l in scan.splitlines() if l.startswith("ReadSchema"))
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "n_chars" not in read
    # the fingerprint stream is hash-partitioned on f for the pair kernel
    assert "hashpartitioning(f#" in plan
    # pair aggregation is two-phase (map-side combine)
    assert "partial_count" in plan
    # the explicit spread: one round-robin exchange of the input rows
    assert plan.count("RoundRobinPartitioning(") == 1
