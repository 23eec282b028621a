#!/usr/bin/env python
"""Automated physical-plan audit across the whole query registry.

For every registered query, builds the DataFrame at sf0.01 and reads its
`.explain("formatted")` output the way a scale reviewer would, counting:

- Exchange (shuffles) and BroadcastExchange (broadcasts)
- join strategies (BHJ / SMJ / SHJ / BNLJ / CartesianProduct)
- unpartitioned window specs (single-reducer risk)
- parquet scans with non-empty PushedFilters

and writes PLAN_AUDIT.md: a per-query table plus a flagged section for
the shapes that need justification at 100 TB (cartesians, nested-loop
joins, unpartitioned windows over non-shrunk inputs). tests/
test_plan_shape.py pins the load-bearing cases one by one; this report
is the fleet-wide sweep that catches a NEW query regressing a shape
nobody wrote a dedicated assertion for.

Usage: python tools/plan_audit.py [sf_dir] (writes PLAN_AUDIT.md in cwd)

The tool's own session has a fixed width (AUDIT_MASTER,
AUDIT_SHUFFLE_PARTITIONS) so the counts do not depend on the host: some
operators add a round-robin spread only when defaultParallelism > 1, and
shuffle partitioning follows the session's settings.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from warcraider_spark.registry import all_specs  # noqa: E402
from warcraider_spark.session import get_spark  # noqa: E402

# Queries whose "suspicious" shapes are deliberate and documented; the
# audit still counts them but doesn't flag. Justifications live in the
# query docstrings (1-row broadcast attaches, shrunken-input windows).
# (query, flag-type) exemption pairs — each query is exempt ONLY from the
# specific risky shape its docstring justifies (ADVICE r2 #2: a blanket
# per-name allowlist let an exempted query regress with a NEW risky shape
# silently). Regenerate candidates with the audit itself; keep only pairs
# whose justification still reads true in the query docstring.
#
# "BroadcastNestedLoopJoin" pairs: 1-row or bounded broadcast attaches
# (scalar aggregates, global bounds, centroid/probe blocks, verify blocks).
# "unpartitioned window" pairs: windows over shrunken inputs (bucket
# summaries, local-skyline survivors, merge frontiers, global deciles).
KNOWN_OK_PAIRS = {
    ("q097_embedding_neardup", "BroadcastNestedLoopJoin"),
    ("q019_cosine_topk_bruteforce", "BroadcastNestedLoopJoin"),
    ("q022_ivf_assign", "BroadcastNestedLoopJoin"),
    ("q024_ivf_topk_search", "BroadcastNestedLoopJoin"),
    ("q025_link_degrees", "BroadcastNestedLoopJoin"),
    ("q050_two_stage_rerank", "BroadcastNestedLoopJoin"),
    ("q104_having_avg_subquery", "BroadcastNestedLoopJoin"),
    # r9: q102's unpartitioned window is now over the TINY per-bucket
    # count table only (q084 prefix-sum shape — the fact-table window is
    # partitioned by bucket; pinned by test_decile_no_global_sort); its
    # broadcast side is the same bucket summary, bounded by the value-
    # bucketing policy (o_totalprice div 2000 — ~hundreds of rows).
    ("q102_decile_distribution", "unpartitioned window"),
    ("q102_decile_distribution", "broadcast of unbounded aggregate"),
    # q063's broadcast side is the (clustered-doc -> cluster-size)
    # dictionary — 16 bytes/row over duplicate-cluster MEMBERS only, a
    # small minority of a crawled corpus; the hint is an explicit
    # parameter (broadcast_dictionary) with a documented shuffle-join
    # degradation for the pathological all-duplicates regime, so the
    # broadcast is a declared regime choice, not an unbounded surprise
    # (operators/dedup.py _join_dictionary; plan-CI pins the default).
    ("q063_winnowing_soft_dedup_weights", "broadcast of unbounded aggregate"),
    # q088's broadcast side is the (excised-doc -> merged spans)
    # dictionary — only documents carrying non-owned shared fingerprints,
    # each row a doc id + a handful of int pairs; like q063 it is the
    # declared dictionary-fits regime (map-side surgery, zero corpus
    # shuffle), with the same documented degradation path if duplication
    # were pervasive (drop the hint -> doc_id-keyed shuffle join).
    ("q088_exact_substring_excision", "broadcast of unbounded aggregate"),
    # q197's broadcast side is the family dictionary — the full
    # outer join of the q063 cluster dictionary and the q088 spans
    # dictionary (one row per clustered-or-excised document, ids +
    # small ints only). Same declared regime as its two parents, same
    # explicit broadcast_dictionary parameter with the documented
    # doc_id-keyed shuffle degradation (operators/dedup.py
    # _join_dictionary; both plan shapes pinned in
    # tests/test_winnowing_family.py).
    ("q197_winnowing_family_manifest", "broadcast of unbounded aggregate"),
    ("q057_lm_score", "BroadcastNestedLoopJoin"),
    ("q058_gapfill_locf", "BroadcastNestedLoopJoin"),
    ("q084_token_budget_select", "BroadcastNestedLoopJoin"),
    ("q084_token_budget_select", "unpartitioned window"),
    ("q014_triangle_count", "BroadcastNestedLoopJoin"),
    ("q114_span_excision", "BroadcastNestedLoopJoin"),
    ("q126_zorder_layout", "BroadcastNestedLoopJoin"),
    ("q119_key_skew_profile", "BroadcastNestedLoopJoin"),
    ("q147_inverted_index", "BroadcastNestedLoopJoin"),
    ("q016_heavy_hitters", "BroadcastNestedLoopJoin"),
    ("q167_skyline_docs", "unpartitioned window"),
    ("q108_concat_chunk_blocks", "unpartitioned window"),
    ("q169_quantified_subqueries", "BroadcastNestedLoopJoin"),
    ("q172_perceptron_train", "BroadcastNestedLoopJoin"),
    ("q177_dormant_rich_customers", "BroadcastNestedLoopJoin"),
    ("q038_split_leakage", "BroadcastNestedLoopJoin"),
    # r7: PMI grand totals (nn, mx) — a no-grouping grand aggregate is
    # EXACTLY one row by construction; the 1-row broadcast cross join
    # replaced the r6 build-time .first() (VERDICT r6 #8)
    ("q135_pmi_collocations", "BroadcastNestedLoopJoin"),
    # r10 mixture/selection trio: every flagged shape runs on domain- or
    # top-k-sized aggregates, never the corpus. q009's windows and both
    # of its broadcast joins are over the per-SOURCE rollup (~|domains|
    # rows; the grand-total and water-fill-cut sides are 1 row by
    # construction); q010's final rank window orders the 50 rows that
    # survive TakeOrderedAndProject.
    ("q009_domain_mixture_weights", "unpartitioned window"),
    # q008 recomputes the q009 allocation inline (same aggregate-sized
    # shapes) and broadcasts the ~|domains|-row alloc table onto the
    # hash-ordered per-domain cumsum
    ("q008_mixture_apply_select", "unpartitioned window"),
    ("q008_mixture_apply_select", "BroadcastNestedLoopJoin"),
    ("q008_mixture_apply_select", "broadcast of unbounded aggregate"),
    ("q009_domain_mixture_weights", "BroadcastNestedLoopJoin"),
    ("q009_domain_mixture_weights", "broadcast of unbounded aggregate"),
    ("q010_dsir_select", "unpartitioned window"),
    # q010's broadcast side is the hashed-feature ratio table — bounded
    # at DSIR_BUCKETS rows BY CONSTRUCTION (the paper's hashed n-gram
    # space), independent of corpus vocabulary
    ("q010_dsir_select", "broadcast of unbounded aggregate"),
    # r11 composed pipeline (VERDICT r10 #6): the union of its four
    # certified siblings' shapes — q009's domain-aggregate water-fill
    # windows + 1-row cut/grand-total broadcasts, q010's 4096-bounded
    # ratio-table broadcast, q008's ~|domains|-row alloc broadcast onto
    # the per-source fill window; every flagged shape runs on a
    # domain-, bucket- or 1-row-sized aggregate, never the corpus
    ("q187_mixture_pipeline_e2e", "unpartitioned window"),
    ("q187_mixture_pipeline_e2e", "BroadcastNestedLoopJoin"),
    ("q187_mixture_pipeline_e2e", "broadcast of unbounded aggregate"),
    # "broadcast of unbounded aggregate" pairs: explicit broadcast hints
    # whose aggregate build side is bounded BY CONSTRUCTION, not by data:
    # fixed k centroids (q022/q024), fixed bloom word count m/64 (q037),
    # fixed d*w count-min table (q124), <=21 score buckets — score is
    # milli-scaled in [0,1e6] div 50000 (q084), ingest-batch-sized
    # increment tables — the delta is a bounded batch, never the corpus
    # (q085), 100-row interval dimension (q092), bucket-summary prefix
    # sums sized by bucketing policy (q108 — same justification as its
    # unpartitioned-window exemption), fixed probe/query set (q023),
    # 3-rows-by-construction KLL estimate table — groupBy over the two
    # filtered event types plus one merged row — broadcast back over the
    # events for the in-plan error-bound verification (q107, r8).
    # Data-coupled hints were FIXED instead, not exempted: q159 out-
    # degrees folded into the rank table, q135 marginals via shuffle
    # joins, q098 hot-shingle anti-join and q164 per-source bounds left
    # to AQE (broadcast while small, shuffle at scale).
    ("q022_ivf_assign", "broadcast of unbounded aggregate"),
    ("q024_ivf_topk_search", "broadcast of unbounded aggregate"),
    ("q037_bloom_dedup_probe", "broadcast of unbounded aggregate"),
    ("q124_countmin_freq", "broadcast of unbounded aggregate"),
    ("q084_token_budget_select", "broadcast of unbounded aggregate"),
    ("q085_incremental_dedup", "broadcast of unbounded aggregate"),
    ("q092_interval_bin_join", "broadcast of unbounded aggregate"),
    ("q108_concat_chunk_blocks", "broadcast of unbounded aggregate"),
    ("q023_sparse_dot_topk", "broadcast of unbounded aggregate"),
    ("q107_sketch_kll_quantiles", "broadcast of unbounded aggregate"),
    # q156: GK estimate table broadcast back over lineitem for the
    # in-plan rank-window verification — bounded at the l_returnflag
    # domain (3 values) by construction (r8, same shape as q107)
    ("q156_approx_quantiles", "broadcast of unbounded aggregate"),
    # r15 §C sweep documented negatives: these codec queries have inputs
    # BOUNDED BY CONSTRUCTION (a literal doc_id < N filter, N <= 400, at
    # every scale factor), so the double-evaluated kernel work is bounded
    # too — and the range_presort fix measured 40-110% SLOWER locally
    # (per-task overhead of spreading <=400 rows over defaultParallelism
    # dominates the saved bounded re-run; numbers in OPTIMIZATION_r15.md).
    ("q020_audio_dominant_freq", "double-eval global sort"),
    ("q021_video_frame_sample", "double-eval global sort"),
    ("q034_jpeg_codec_roundtrip", "double-eval global sort"),
    ("q044_image_pyramid_resize", "double-eval global sort"),
    ("q171_media_codec_roundtrip", "double-eval global sort"),
    # Same bounded-by-construction argument for the non-media cases: a
    # literal id filter (or a <=BPE_VOCAB_TOP / fixture-sized table)
    # bounds the re-evaluated subtree at EVERY scale factor, and the
    # multimodal A/Bs showed spreading a few hundred rows over
    # defaultParallelism costs more than the bounded re-run.
    ("q048_bigram_udtf", "double-eval global sort"),          # doc_id < 40
    ("q053_variant_nested_paths", "double-eval global sort"),  # event_id < 3000
    ("q070_ga_extract", "double-eval global sort"),            # doc_id < 300
    ("q071_http_header_parse", "double-eval global sort"),     # event_id < 2000
    ("q072_whitespace_quirks", "double-eval global sort"),     # doc_id < 300
    ("q073_link_hygiene", "double-eval global sort"),          # doc_id < 200
    ("q074_array_set_funcs", "double-eval global sort"),       # doc_id <= 200
    ("q075_unpivot_measures", "double-eval global sort"),      # l_orderkey < 100
    ("q086_embedding_quantize", "double-eval global sort"),    # vec_id < 300
    ("q097_embedding_neardup", "double-eval global sort"),     # vec_id < 250 block
    ("q100_document_chunking", "double-eval global sort"),     # doc_id < 100
    ("q141_bpe_encode", "double-eval global sort"),            # <=BPE_VOCAB_TOP vocab
    ("q150_warc_pipeline_e2e", "double-eval global sort"),     # 6-record fixture
    ("q183_posexplode", "double-eval global sort"),            # doc_id < 50
    ("q185_to_json", "double-eval global sort"),               # event_id < 2000
}


_ANALYZED_LINE = re.compile(r"^([ :+\-]*)([A-Za-z][\w]*)(.*)$")
_KEYED_AGG = re.compile(r"^ \[(.*?)\], \[")
_LIMIT_NODES = {"GlobalLimit", "LocalLimit", "Limit", "Sample"}


def _broadcast_unbounded_aggs(analyzed: str) -> int:
    """Count EXPLICIT `F.broadcast()` hints whose build side is an
    UNBOUNDED keyed aggregate — a per-key table (out-degrees, vocab
    marginals, per-doc fingerprints ...) whose cardinality grows with
    the data. A broadcast HINT forces the broadcast regardless of size,
    so at 100 TB it OOMs every executor; the fix is a shuffle join on
    the key the pipeline already partitions by. This rule would have
    caught both r4 scale-killers (q159's per-node out-degree broadcast,
    q135's per-token marginal broadcasts).

    Deliberately scoped to the ANALYZED plan's ResolvedHint nodes:
    stats-chosen auto-broadcasts in the physical plan are ADAPTIVE —
    Catalyst/AQE re-plans them as SMJ when the same aggregate is big at
    scale — and flagging those would drown the signal in false alarms.

    Bounded shapes are excused: global (key-less) aggregates print as
    `Aggregate [aggs]` (one bracket list → single row), and a Limit /
    Sample under the hint bounds the build side. `Aggregate [keys],
    [aggs]` (two lists, non-empty first) with no limit below it flags.
    """
    tree = []
    for ln in analyzed.splitlines():
        m = _ANALYZED_LINE.match(ln)
        if m:
            tree.append((len(m.group(1)), m.group(2), m.group(3)))
    flagged = 0
    for i, (depth, node, rest) in enumerate(tree):
        if node != "ResolvedHint" or "broadcast" not in rest:
            continue
        # walk the hint's subtree; a bounding node (Limit/Sample, or a
        # key-less Aggregate — single row) caps the cardinality of its
        # WHOLE subtree, so everything strictly below it is skipped.
        has_keyed_agg = False
        skip_below = None  # depth of the innermost active bounding node
        for d2, n2, rest2 in tree[i + 1 :]:
            if d2 <= depth:
                break
            if skip_below is not None:
                if d2 > skip_below:
                    continue
                skip_below = None
            if n2 in _LIMIT_NODES:
                skip_below = d2
                continue
            if n2 == "Aggregate":
                km = _KEYED_AGG.match(rest2)
                if km and km.group(1).strip():
                    has_keyed_agg = True
                else:  # global aggregate → 1 row, subtree bounded
                    skip_below = d2
        if has_keyed_agg:
            flagged += 1
    return flagged


_TREE_LINE = re.compile(r"^([ :+\-]*)\*?\(?\d*\)?\s*([A-Za-z][\w ]*?)\s*\((\d+)\)\s*$")


def _sort_double_eval(plan: str) -> int:
    """r15 (VERDICT r14 #6): count GLOBAL Sort nodes whose range Exchange
    sits directly on an exchange-free pipeline — the §C shape. The range
    boundary sampling (RangePartitioner reservoir-samples the child RDD to
    completion) then EXECUTES THE WHOLE CHILD A SECOND TIME per action:
    scan, higher-order projections, Python kernels, everything below,
    because there is no shuffle materialization to re-read. The fix is
    lineage.range_presort: range-partition the INPUT by the presentation
    keys and end with sortWithinPartitions. Sorts above an existing data
    Exchange are NOT flagged (the sampling re-reads shuffle files, cheap);
    sortWithinPartitions prints as a non-global Sort and is not flagged.
    """
    tree_sec = plan.split("\n\n", 1)[0]
    tree: list[tuple[int, str, str]] = []
    for ln in tree_sec.splitlines():
        m = _TREE_LINE.match(ln)
        if m:
            tree.append((len(m.group(1)), m.group(2), m.group(3)))

    def detail(node_id: str, name: str) -> str:
        m = re.search(
            rf"^\({node_id}\) {name}.*?(?=^\(\d+\) |\Z)", plan, re.M | re.S
        )
        return m.group(0) if m else ""

    tree = [(d, n.split()[0], n, i_) for d, n, i_ in tree]
    flagged = 0
    for i, (depth, name, full, nid) in enumerate(tree):
        if name != "Sort":
            continue
        if ", true, " not in detail(nid, "Sort").split("Arguments:")[-1]:
            continue  # partition-local sort
        # first structural child
        child = next((t for t in tree[i + 1 :] if t[0] > depth), None)
        if child is None or child[1] != "Exchange":
            continue
        cdet = detail(child[3], "Exchange")
        if "rangepartitioning" not in cdet:
            continue
        # any data Exchange below the range exchange bounds the re-run;
        # and a re-run only COSTS something when the subtree actually
        # recomputes (a parquet scan, a Python kernel, an explode) — a
        # LocalTableScan of driver-collected rows (the streaming
        # micro-batch replays) re-reads memory for free.
        sub_has_exchange = False
        sub_recomputes = False
        recompute_nodes = {
            "ArrowEvalPython",
            "BatchEvalPython",
            "MapInPandas",
            "MapInArrow",
            "Generate",
            "PythonUDTF",
            "BatchEvalPythonUDTF",
        }
        ci = tree.index(child, i + 1)
        for d, n, full2, _ in tree[ci + 1 :]:
            if d <= child[0]:
                break
            if n == "Exchange":
                sub_has_exchange = True
                break
            # a parquet scan re-reads storage; LocalTableScan /
            # Scan ExistingRDD re-iterate already-materialized rows
            if n in recompute_nodes or full2.startswith("Scan parquet"):
                sub_recomputes = True
        if not sub_has_exchange and sub_recomputes:
            flagged += 1
    return flagged


def _unpartitioned_windows(plan: str) -> int:
    n = 0
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        args = m.group(1)
        head = args.split(",")[0].strip()
        # partition columns precede ordering expressions; an ordering-first
        # spec (`col ASC NULLS FIRST, ...`) means there is NO partition spec
        if " ASC" in head or " DESC" in head:
            n += 1
    return n


def analyze_plan(name: str, plan: str) -> dict:
    """Count the scale-relevant shapes in one formatted explain string."""
    return {
        "query": name,
        # formatted mode puts the partitioning in a detail line:
        # "(n) Exchange\nArguments: hashpartitioning(...)"
        "exchange": len(re.findall(r"Arguments: hashpartitioning", plan))
        + len(re.findall(r"Arguments: rangepartitioning", plan)),
        "bcast": plan.count("BroadcastExchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "unpart_win": _unpartitioned_windows(plan),
        "sort2x": _sort_double_eval(plan),
        "pushed": int(bool(re.search(r"PushedFilters: \[[^\]]", plan))),
    }


def flags_for(row: dict) -> list[str]:
    """Scale-risk flags for one analyzed plan (empty for known-OK names)."""
    if "error" in row:
        return ["plan error"]
    out = []
    if row["cartesian"]:
        out.append("CartesianProduct")
    if row["bnlj"]:
        out.append("BroadcastNestedLoopJoin")
    if row["unpart_win"]:
        out.append("unpartitioned window")
    if row.get("bcast_agg"):
        out.append("broadcast of unbounded aggregate")
    if row.get("sort2x"):
        out.append("double-eval global sort")
    return [f for f in out if (row["query"], f) not in KNOWN_OK_PAIRS]


AUDIT_MASTER = "local[4]"
AUDIT_SHUFFLE_PARTITIONS = 4


def audit(sf_dir: str, spark=None) -> list[dict]:
    own_session = spark is None
    if own_session:
        spark = get_spark(
            app_name="plan_audit",
            master=AUDIT_MASTER,
            shuffle_partitions=AUDIT_SHUFFLE_PARTITIONS,
        )
        spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, spec in sorted(all_specs().items()):
        try:
            df = spec.builder(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            analyzed = df._jdf.queryExecution().analyzed().toString()
        except Exception as exc:  # plan-time failure is itself a finding
            rows.append({"query": name, "error": str(exc)[:120]})
            continue
        row = analyze_plan(name, plan)
        row["bcast_agg"] = _broadcast_unbounded_aggs(analyzed)
        rows.append(row)
    if own_session:
        spark.stop()
    return rows


def render(rows: list[dict], sf_dir: str) -> str:
    out = [
        "# PLAN_AUDIT — fleet-wide physical-plan sweep",
        "",
        f"Generated by tools/plan_audit.py over {len(rows)} registry queries "
        f"at `{sf_dir}`. Columns: shuffle Exchanges, BroadcastExchanges, join",
        "strategies, unpartitioned window specs, and whether any parquet scan",
        "carries pushed filters. Flags call out shapes that are scale risks",
        "UNLESS the query's docstring documents why the input is bounded",
        "(1-row totals, bucket summaries, local-skyline survivors …) — the",
        "known-OK list in the tool mirrors those docstrings.",
        "",
        "| query | xchg | bcast | BHJ | SMJ | SHJ | BNLJ | cart | unpart-win | bc-agg | sort2x | pushed |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    flagged = []
    for r in rows:
        if "error" in r:
            out.append(f"| {r['query']} | PLAN ERROR: {r['error']} |" + " |" * 10)
        else:
            out.append(
                "| {query} | {exchange} | {bcast} | {bhj} | {smj} | {shj} | {bnlj} "
                "| {cartesian} | {unpart_win} | {bcast_agg} | {sort2x} | {pushed} |".format(**r)
            )
        flagged.extend((r["query"], why) for why in flags_for(r))
    out.append("")
    if flagged:
        out.append("## Flagged (needs justification or a fix)")
        out.extend(f"- **{q}** — {why}" for q, why in flagged)
    else:
        out.append(
            "## Flagged\n\nNone — every cartesian/nested-loop/unpartitioned-"
            "window occurrence is on the documented known-OK list (bounded "
            "inputs)."
        )
    out.append("")
    return "\n".join(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rows = audit(sf_dir)
    md = render(rows, sf_dir)
    with open("PLAN_AUDIT.md", "w") as fh:
        fh.write(md)
    n_flag = md.count("\n- **")
    print(f"PLAN_AUDIT.md written: {len(rows)} queries, {n_flag} flagged")


if __name__ == "__main__":
    main()
