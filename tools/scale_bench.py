#!/usr/bin/env python
"""Scaling-curve harness: self-replicate the sf0.1 documents table with id
offsets to Kx copies and time the document-bound headline operators to
completion (noop sink, median of 3, codegen warmed). Prints one JSON line
mapping query → {K: seconds}. Evidence for SCALE.md §10: growth at or
below the data factor means no quadratic candidate blow-up is hiding in
the dedup family.

Usage: python tools/scale_bench.py [base_sf_dir] [factors…, default 1 4 8]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from warcraider_spark.registry import all_specs  # noqa: E402
from warcraider_spark.session import get_spark  # noqa: E402

QUERIES = [
    "q190_exact_dedup_groups",
    "q140_gopher_rules",
    "q139_gopher_repetition",
    "q189_minhash_lsh_pairs",
    "q016_heavy_hitters",
    "q168_line_dedup",
    "q174_training_data_pipeline",
    # r3 additions (VERDICT r2 #7): the iterative families where
    # constant-factor regressions hide
    "q040_bpe_merge_train",
    "q024_ivf_topk_search",
    # r3 round-3 families: bloom probe is the broadcast-filter shape,
    # simhash radius is the banded-candidate shape — both must stay
    # sub-linear in candidates as the corpus grows
    "q037_bloom_dedup_probe",
    "q039_simhash_radius",
    "q124_countmin_freq",
    # r4 additions (VERDICT r3 #7): the late-materialized rerank — corpus
    # side grows Kx while the probe set stays 1x (embeddings replicas drop
    # the vec_id%50==0 queries), exactly the asymmetric growth a real
    # retrieval corpus sees
    "q050_two_stage_rerank",
    # r4 text additions: PMI is the vocab-saturating shape, novelty the
    # linear-gram-join shape — both must hold their §10 curves
    "q135_pmi_collocations",
    "q041_ngram_novelty",
    # r6 addition: CDC chunking — map-only chunker + one groupBy on the
    # uniform chunk key; replication repeats the same chunks, so like PMI
    # the count table saturates while the map side grows Kx
    "q136_cdc_chunk_dedup",
    # r10 mixture trio: corpus-linear map passes over a constant domain
    # set (replicas share the 20 sources) — the rollup/ratio tables
    # saturate while the scan side grows Kx
    "q009_domain_mixture_weights",
    "q010_dsir_select",
    "q011_domain_quality_select",
    # r11: the composed gate->water-fill->DSIR->pack pipeline — the
    # union of the trio's shapes in ONE plan; its curve certifies stage
    # COUPLING stays corpus-linear (domain/bucket tables saturate)
    "q187_mixture_pipeline_e2e",
]


def _q030_mp4_scaled(spark, sf_dir):
    """Scale-harness variant of q035_mp4_demux_decode: the registry query
    pins its workload at doc_id < 60 (the oracle must enumerate frames),
    so replication leaves it constant. This variant muxes+demuxes 60
    videos PER REPLICA (doc_id % 1_000_000 < 60, the harness id offset),
    measuring exactly the per-row container+codec cost whose constancy
    VERDICT r3 #7 asks to certify; both stages stay map-only Arrow."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from warcraider_spark.dist import ensure_package_on_executors
    from warcraider_spark.tables import load_table

    ensure_package_on_executors()
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 1_000_000 < 60)
        .select("doc_id")
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from warcraider_spark.functions.jpeg import encode_jpeg_gray, jpeg_dims
        from warcraider_spark.functions.mp4 import mux_mjpeg_mp4

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                seed = d % 1_000_000
                w, h = jpeg_dims(seed)
                frames = [encode_jpeg_gray(seed + 12 * f) for f in range(seed % 4 + 2)]
                out.append(
                    {
                        "media_id": d,
                        "payload": mux_mjpeg_mp4(
                            frames, w, h, delta_ms=40, samples_per_chunk=2 if seed % 2 else 0
                        ),
                    }
                )
            yield pd.DataFrame(out)

    encoded = docs.mapInPandas(encode, "media_id long, payload binary")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from warcraider_spark.functions.mp4 import mp4_frame_stats

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                meta = mp4_frame_stats(bytes(row.payload))
                out.append({"media_id": row.media_id, "pixel_sum": meta["pixel_sum"]})
            yield pd.DataFrame(out)

    return encoded.mapInPandas(decode, "media_id long, pixel_sum long")


def _chain_edges_per_replica(spark, sf_dir):
    """Per-replica form of graph.chain_edges: the registry version gates
    edges on doc_id + 1 < count(*), so offset replicas (doc_id + i*1e6)
    contribute NO edges and the graph stays 1x under replication. Here the
    chain/bridge arithmetic runs on the replica-local id (doc_id % 1e6),
    making each replica an isomorphic copy of the 1x graph — nodes and
    edges genuinely grow Kx."""
    from pyspark.sql import functions as F

    from warcraider_spark.operators.graph import CHAIN_LEN
    from warcraider_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_local = docs.filter(F.col("doc_id") < 1_000_000).count()
    local = F.col("doc_id") % 1_000_000
    chain = docs.filter(
        (local % CHAIN_LEN != CHAIN_LEN - 1) & (local + 1 < n_local)
    ).select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
    bridge = docs.filter(
        (local % (4 * CHAIN_LEN) == 0) & (local + 4 * CHAIN_LEN < n_local)
    ).select(F.col("doc_id").alias("src"), (F.col("doc_id") + 4 * CHAIN_LEN).alias("dst"))
    return chain.unionAll(bridge)


def _q025_cc_scaled(spark, sf_dir):
    """Scale-harness variant of q134_connected_components over the
    per-replica chain graph (see _chain_edges_per_replica) — the curve
    VERDICT r5 #4 asks for: CC cost on a graph that actually grows Kx.
    r11: measures the production path (contracted_components — local
    union-find contraction + residual alternating rounds)."""
    from pyspark.sql import functions as F

    from warcraider_spark.operators.graph import contracted_components

    comp = contracted_components(_chain_edges_per_replica(spark, sf_dir))
    return (
        comp.groupBy(F.col("comp").alias("component_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
            F.sum("node").cast("bigint").alias("member_checksum"),
        )
        .orderBy("component_id")
    )


def _q015_sdot_scaled(spark, sf_dir):
    """Scale-harness variant of q023_sparse_dot_topk: the registry query's
    query side (doc_id % SCJ_QMOD == 0) replicates with the corpus, which
    would measure k-squared by construction; pinning queries to replica 0
    (doc_id < 1e6) keeps the workload fixed at 1x while the corpus —
    posting lists, df table, dot fan-in — grows Kx."""
    from pyspark.sql import functions as F

    from warcraider_spark.operators.text import sparse_dot_topk_plan
    from warcraider_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return sparse_dot_topk_plan(docs, docs.count(), F.col("doc_id") < 1_000_000)


def _q033_simhash_disjoint(spark, sf_dir):
    """Scale-harness variant of q039_simhash_radius with per-replica
    DISJOINT vocabularies: full-copy replication makes every
    cross-replica pair hamming-0 (identical text -> identical sketch),
    so TRUE pairs grow k^2 by construction and the registry query's raw
    16x step (~2.6x per 2x data, first seen in the r11 16x extension) is
    OUTPUT-bound — the same artifact q144's disjoint variant documents,
    just at radius 0. Suffixing every token with its replica id makes
    the replicas' token spaces disjoint; md5 then gives cross-replica
    sketches independent bits (expected hamming ~bits/2, radius-2
    collisions negligible), so near-dup density per replica matches the
    1x corpus and the curve measures the banded join + verify, not the
    synthetic duplicate explosion. Band layout follows the registry
    rule (simhash_band_plan on the true corpus count)."""
    from pyspark.sql import functions as F

    from warcraider_spark.functions.textfn import tokens
    from warcraider_spark.operators.dedup import (
        SIMHASH_RADIUS,
        _simhash_sketch,
        simhash_band_plan,
    )
    from warcraider_spark.tables import load_table, table_row_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rep = (F.col("doc_id") / 1_000_000).cast("int").cast("string")
    salted = F.array_join(
        F.transform(tokens("text"), lambda t: F.concat(t, F.lit("_"), rep)), " "
    )
    corpus = docs.select("doc_id", salted.alias("text"))
    n_docs = table_row_count(sf_dir, "documents")
    bits, band_layout = simhash_band_plan(n_docs)
    sketch = _simhash_sketch(corpus, bits)
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), lo).bitwiseAND((1 << width) - 1)
            for lo, width in band_layout
        ]
    )
    bands = sketch.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band", "val")
    ).repartition("band", "val")
    a = bands.alias("a")
    b = bands.alias("b")

    def _bandv(col, lo, width):
        return F.shiftright(col, lo).bitwiseAND((1 << width) - 1)

    sa, sb = F.col("a.simhash"), F.col("b.simhash")
    first_match = F.lit(False)
    for i, (_lo, _w) in enumerate(band_layout):
        cond = F.col("a.band") == i
        for lj, wj in band_layout[:i]:
            cond = cond & (_bandv(sa, lj, wj) != _bandv(sb, lj, wj))
        first_match = first_match | cond
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(sa.bitwiseXOR(sb)).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_RADIUS)
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum((F.col("doc_a") * 100003 + F.col("doc_b")) % 1000003)
            .cast("bigint")
            .alias("pair_checksum"),
        )
        .orderBy("hamming")
    )


def _winnowing_scale_docs(spark, sf_dir):
    """Replica-salted corpus shared by the winnowing scale variants:
    full-copy replication multiplies every fingerprint's document
    frequency by K — base-df-2 fingerprints form k² cross-replica pairs
    (output-bound, the q144/q039 artifact) while base-df>8 fingerprints
    cross the df cap and vanish. Salting each token with its replica id
    (every 20-char gram spans a salted token, tokens being far shorter
    than k) keeps per-replica corpora fingerprint-disjoint, so pair
    density and output grow LINEARLY and the curve measures the
    selector + fp-shuffle + pair-join path itself.

    The salt must preserve gram-comparison ISOMORPHISM across replicas
    (r14 lesson, first 64x attempt): the winnowing argmin selects the
    lexicographically-least gram per window, so any salt whose
    characters compare differently against the text — or against each
    other — in different replicas changes WHICH positions are selected,
    and per-replica cluster/span structure then legitimately diverges
    from the 1x corpus (observed with variable-width "r31_" salts:
    clusters 16 -> 5621 at 32x instead of 512; still ~0.2% span drift
    with fixed-width "r%02d_" because a comparison can land on the
    salt's first digit in one gram vs its second in the other, and
    those differ between replicas). The construction that is exact by
    design: ONE salt character per token, drawn from a 64-char block
    (U+00C0..U+00FF) strictly ABOVE every corpus character (the corpus
    is ASCII; verified max codepoint 121) in both codepoint and UTF-8
    byte order. Within a replica all salt chars are identical, so a
    first-difference position never compares two different salt chars;
    salt-vs-text comparisons always order salt > text regardless of
    which replica's char is substituted. Supports 64 replicas; extend
    the block (e.g. into U+0100+) for larger factors."""
    from pyspark.sql import functions as F

    from warcraider_spark.tables import load_table

    alpha = "".join(chr(0xC0 + i) for i in range(64))
    salt = F.expr(f"substring('{alpha}', cast(doc_id div 1000000 as int) + 1, 1)")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(F.split(F.trim("text"), r"\s+"), lambda t: F.concat(salt, t)),
        ).alias("text"),
    )


def _winnowing_disjoint_variant(spark, sf_dir):
    """Scale variant of q069_winnowing_dup_pairs over the replica-salted
    disjoint corpus, running the operator's xxhash64-folded 8-byte
    shuffle key — the 64× study measured the fold as the only
    mitigation holding the scaling step ≤2. spread_partitions is passed
    explicitly: the harness replicas are byte-dense single-split files,
    the same undersizing the registry query guards against."""
    from warcraider_spark.operators.dedup import winnowing_pairs

    return winnowing_pairs(
        _winnowing_scale_docs(spark, sf_dir),
        spread_partitions=spark.sparkContext.defaultParallelism,
    )


def _winnowing_weights_variant(spark, sf_dir):
    """Scale variant of q063_winnowing_soft_dedup_weights over the
    replica-salted disjoint corpus: cluster machinery identical to the
    keep variant, plus the broadcast-dictionary weight-assignment pass
    over the full corpus — rows, clustered docs and total sampling
    mass must all grow exactly ×K (mass conservation under
    replication)."""
    from warcraider_spark.operators.dedup import winnowing_soft_dedup_weights

    return winnowing_soft_dedup_weights(
        _winnowing_scale_docs(spark, sf_dir),
        spread_partitions=spark.sparkContext.defaultParallelism,
    )


def _excision_variant(spark, sf_dir):
    """Scale variant of q088_exact_substring_excision over the
    replica-salted disjoint corpus: per-replica fingerprint spaces are
    disjoint, so excised docs, spans and chars removed all grow exactly
    ×K while the selector/ownership/surgery path carries the corpus
    growth."""
    from warcraider_spark.operators.dedup import exact_substring_excision

    return exact_substring_excision(
        _winnowing_scale_docs(spark, sf_dir),
        spread_partitions=spark.sparkContext.defaultParallelism,
    )


def _winnowing_keep_variant(spark, sf_dir):
    """Scale variant of q062_winnowing_dedup_keep (NEW r13) over the
    replica-salted disjoint corpus: cluster structure replicates
    per-replica (disjoint fingerprint spaces → disjoint pair graphs →
    cluster count grows exactly ×K), so the curve measures the
    composition — pair join + pair-graph contraction + election — on a
    genuinely growing input, free of the k² cross-replica artifact."""
    from warcraider_spark.operators.dedup import winnowing_dedup_keep

    return winnowing_dedup_keep(
        _winnowing_scale_docs(spark, sf_dir),
        spread_partitions=spark.sparkContext.defaultParallelism,
    )


def _family_variant(spark, sf_dir):
    """Scale variant of q197_winnowing_family_manifest (NEW r14) over
    the replica-salted disjoint corpus: one shared selector pass
    feeding pairs/CC/election/excision — manifest rows, clustered
    docs, total sampling mass, and excised spans/chars must all grow
    exactly ×K while the wall tracks the single selector it shares
    with the whole family."""
    from warcraider_spark.operators.dedup import winnowing_family

    return winnowing_family(
        _winnowing_scale_docs(spark, sf_dir),
        spread_partitions=spark.sparkContext.defaultParallelism,
    )


def _containment_disjoint_variant(spark, sf_dir):
    """Scale-harness variant of q144_containment_dedup with per-replica
    DISJOINT shingle spaces: full-copy replication makes every
    cross-replica doc pair a true containment pair (output grows k^2 —
    120 -> 120,100 pairs at 8x, so the registry query's curve is
    output-bound, not a join defect); salting each token with its
    replica id keeps duplicate density constant so the curve measures
    the corpus-growth path of the shingle join itself."""
    from pyspark.sql import functions as F

    from warcraider_spark.operators.dedup import SHINGLE_DF_CAP, _exploded_shingles
    from warcraider_spark.tables import load_table

    # replica-aware dup_corpus: salt every token with the replica id
    # (disjoint shingle spaces), then inject the exact/near duplicates
    # PER REPLICA on the relative doc id — duplicate density and output
    # pairs grow linearly with the corpus, never k^2
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.trim("text"), r"\s+"),
                lambda t: F.concat(
                    F.lit("r"),
                    (F.col("doc_id") / 1_000_000).cast("int").cast("string"),
                    F.lit("_"),
                    t,
                ),
            ),
        ).alias("text"),
    )
    rel = F.col("doc_id") % 1_000_000
    exact = docs.filter(rel < 60).select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    tok = F.split(F.trim("text"), r"\s+")
    near = docs.filter((rel >= 60) & (rel < 120)).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.array_join(F.slice(tok, 2, F.size(tok) - 1), " ").alias("text"),
    )
    corpus = (
        docs.unionAll(exact)
        .unionAll(near)
        .filter((rel < 200) | (rel >= 10000))
    )
    sh0 = _exploded_shingles(corpus)
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= SHINGLE_DF_CAP)
        .select("shingle")
    )
    sh = sh0.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    n_min = F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(10 * F.col("i") >= 8 * n_min)
        .select("doc_a", "doc_b", "i")
    )


def _q031_decile_scaled(spark, sf_dir):
    """q102's prefix-sum decile over a K-replicated orders table. The
    scaled dirs symlink orders (only documents/embeddings replicate), so
    the variant replicates IN-PLAN: K shifted copies unioned, K inferred
    from the documents replica encoding (doc_id // 1e6). Linear curve =
    the bucket-partitioned window grows with rows while the offsets
    window stays ~bucket-count rows; the curve VERDICT r8 #3's rewrite
    should show (the plan this replaced was a single-partition sort,
    which would inherit the full Kx on one reducer)."""
    from pyspark.sql import functions as F

    from warcraider_spark.operators.relational import decile_distribution_table
    from warcraider_spark.tables import load_table

    k = (
        load_table(spark, sf_dir, "documents")
        .agg((F.max("doc_id") / 1_000_000).cast("int").alias("k"))
        .first()["k"]
        + 1
    )
    od = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    rep = od
    for i in range(1, k):
        rep = rep.unionAll(
            od.select(
                "o_totalprice",
                (F.col("o_orderkey") + i * 100_000_000).alias("o_orderkey"),
            )
        )
    return decile_distribution_table(rep)


# harness-only builders measured alongside the registry queries
VARIANTS = {
    "q102_decile_distribution[per-replica]": _q031_decile_scaled,
    "q069_winnowing_dup_pairs[disjoint-replicas]": _winnowing_disjoint_variant,
    "q062_winnowing_dedup_keep[disjoint-replicas]": _winnowing_keep_variant,
    "q063_winnowing_soft_dedup_weights[disjoint-replicas]": _winnowing_weights_variant,
    "q088_exact_substring_excision[disjoint-replicas]": _excision_variant,
    "q197_winnowing_family_manifest[disjoint-replicas]": _family_variant,
    "q144_containment_dedup[disjoint-replicas]": _containment_disjoint_variant,
    "q039_simhash_radius[disjoint-replicas]": _q033_simhash_disjoint,
    "q035_mp4_demux_decode[per-replica]": _q030_mp4_scaled,
    "q134_connected_components[per-replica]": _q025_cc_scaled,
    "q023_sparse_dot_topk[fixed-queries]": _q015_sdot_scaled,
}

OTHER_TABLES = "region nation customer supplier part orders lineitem events".split()


def build_scaled(base: str, k: int, root: str) -> str:
    d = os.path.join(root, f"x{k}")
    os.makedirs(d, exist_ok=True)
    con = duckdb.connect()
    sel = " UNION ALL ".join(
        f"SELECT doc_id + {i * 1000000} AS doc_id, text, lang, source, n_chars "
        f"FROM read_parquet('{base}/documents.parquet')"
        for i in range(k)
    )
    con.execute(f"COPY ({sel}) TO '{d}/documents.parquet' (FORMAT PARQUET)")
    # embeddings: scale the CORPUS side only — replicas drop vec_id%50==0
    # rows so q024's probe set stays the 1x query workload (scaling both
    # sides would measure k-squared by construction, not the corpus path)
    esel = " UNION ALL ".join(
        f"SELECT vec_id + {i * 1000000} AS vec_id, embedding, label "
        f"FROM read_parquet('{base}/embeddings.parquet')"
        + ("" if i == 0 else " WHERE vec_id % 50 <> 0")
        for i in range(k)
    )
    con.execute(f"COPY ({esel}) TO '{d}/embeddings.parquet' (FORMAT PARQUET)")
    for t in OTHER_TABLES:
        dst = os.path.join(d, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(base, f"{t}.parquet"), dst)
    return d


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factors = [int(a) for a in sys.argv[2:]] or [1, 4, 8]
    root = "/tmp/scalebench"
    dirs = {k: build_scaled(base, k, root) for k in factors}

    spark = get_spark(app_name="scale_bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    builders = {q: specs[q].builder for q in QUERIES}
    builders.update(VARIANTS)
    warm = os.path.join(os.path.dirname(base.rstrip("/")), "sf0.001")
    for q, b in builders.items():
        b(spark, warm if os.path.isdir(warm) else base).write.format(
            "noop"
        ).mode("overwrite").save()

    # Reps are INTERLEAVED across queries within each factor (late-r11,
    # the bench.py §11 lesson re-learned here: consecutive reps let one
    # ambient burst poison a single query's median — the 16× extension
    # run read gopher_rules at 24.3 s where a quiet re-time gave 12.5 s).
    # The per-rep start offset rotates so no query always pays the same
    # neighbor's tail.
    results: dict[str, dict[int, float]] = {}
    REPS = 3
    ordered = sorted(builders)
    for k in factors:
        raw: dict[str, list[float]] = {q: [] for q in ordered}
        for rep in range(REPS):
            offset = (rep * max(1, len(ordered) // REPS)) % max(1, len(ordered))
            for q in ordered[offset:] + ordered[:offset]:
                t0 = time.perf_counter()
                builders[q](spark, dirs[k]).write.format("noop").mode("overwrite").save()
                raw[q].append(time.perf_counter() - t0)
        for q in ordered:
            reps = sorted(raw[q])
            results.setdefault(q, {})[k] = round(reps[len(reps) // 2], 2)

    # q039 band-plan audit (VERDICT r3 #4): through the REAL Spark path,
    # measure max DISTINCT-sketch occupancy per (band, value) bucket at
    # each K. Distinct sketches isolate accidental hash collisions (the
    # width-controlled overhead) from true-duplicate clustering (the
    # workload, which full-copy replication grows by construction).
    # Sublinear = flat occupancy while n_docs grows Kx.
    from pyspark.sql import functions as F  # noqa: E402

    from warcraider_spark.operators.dedup import (  # noqa: E402
        _simhash_sketch,
        dup_corpus,
        simhash_band_plan,
    )

    band_audit: dict[int, dict[str, int]] = {}
    for k in factors:
        corpus = dup_corpus(spark, dirs[k])
        n = corpus.count()
        bits, bands = simhash_band_plan(n)
        band_vals = F.array(
            *[
                F.shiftright(F.col("simhash"), lo).bitwiseAND((1 << w) - 1)
                for lo, w in bands
            ]
        )
        max_occ = (
            _simhash_sketch(corpus, bits)
            .select("simhash")
            .distinct()
            .select(F.posexplode(band_vals).alias("band", "val"))
            .groupBy("band", "val")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        band_audit[k] = {"n_docs": n, "sketch_bits": bits, "max_bucket_occupancy": int(max_occ)}
    results["q036_band_plan_audit"] = band_audit  # type: ignore[assignment]

    # q134 rounds-to-convergence audit (VERDICT r5 #4): the O(log n) claim,
    # measured on the per-replica graph. Replication adds disjoint
    # isomorphic copies of the chain graph, so rounds should stay FLAT
    # while nodes grow Kx — rounds track log(component size), not corpus
    # size. r11: also records the HYBRID path's residual rounds and the
    # residual (seam) edge count the iterative rounds actually touch —
    # the contraction's whole value proposition at scale.
    from warcraider_spark.operators.graph import (  # noqa: E402
        alternating_components,
        contracted_components,
    )

    cc_audit: dict[int, dict[str, int]] = {}
    for k in factors:
        rounds_out: list = []  # one (count, checksum) signature per round
        comp = alternating_components(
            _chain_edges_per_replica(spark, dirs[k]), rounds_out=rounds_out
        )
        n_nodes = comp.count()
        res_rounds: list = []
        contracted_components(
            _chain_edges_per_replica(spark, dirs[k]), rounds_out=res_rounds
        ).write.format("noop").mode("overwrite").save()
        cc_audit[k] = {
            "n_nodes": int(n_nodes),
            "rounds": len(rounds_out),
            "hybrid_residual_rounds": len(res_rounds),
            "hybrid_residual_edges_r1": int(res_rounds[0][0]) if res_rounds else 0,
        }
    results["q025_rounds_audit"] = cc_audit  # type: ignore[assignment]

    # q047 skew-stress audit (VERDICT r5 #6): a synthesized 1000:1 hot key
    # at the LARGEST replication factor, joined salted vs unsalted with
    # broadcast and AQE skew-rescue disabled (salting is the MANUAL remedy
    # being certified — AQE skew-join is the automatic one, measured
    # separately by leaving it on in the normal bench). Reported: wall
    # time and max-rows-per-shuffle-partition (the direct cause of task-
    # time spread) for both variants, plus how many partitions the hot
    # key's rows land in after salting.
    from pyspark.sql import functions as F  # noqa: E402

    from warcraider_spark.tables import load_table  # noqa: E402

    kmax = max(factors)
    SALT = 8
    docs = load_table(spark, dirs[kmax], "documents")
    fact = (
        docs.select(
            F.when(F.col("doc_id") % 1000 != 0, F.lit(0))
            .otherwise(F.col("doc_id"))
            .alias("key"),
            "doc_id",
            F.col("n_chars"),
        )
        .withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(25))))
        .drop("rep")
    )
    dim = fact.select("key").distinct().withColumn("w", (F.col("key") % 7 + 1).cast("double"))
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def timed(df):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 2)

        unsalted = fact.join(dim, "key").groupBy("key").agg(
            F.sum(F.col("n_chars") * F.col("w")).alias("s")
        )
        dim_s = dim.withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)])))
        # salt from the high-cardinality row id (q047 uses l_orderkey % SALT);
        # n_chars would correlate with the data and could itself skew
        fact_s = fact.withColumn("salt", (F.col("doc_id") % SALT).cast("int"))
        salted = fact_s.join(dim_s, ["key", "salt"]).groupBy("key").agg(
            F.sum(F.col("n_chars") * F.col("w")).alias("s")
        )
        t_unsalted = timed(unsalted)
        t_salted = timed(salted)

        def max_part_rows(df, *cols):
            return (
                df.repartition(32, *[F.col(c) for c in cols])
                .groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .agg(F.max("count").alias("m"))
                .collect()[0]["m"]
            )

        hot_pids = (
            fact_s.filter(F.col("key") == 0)
            .repartition(32, F.col("key"), F.col("salt"))
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        results["q046_skew_audit"] = {  # type: ignore[assignment]
            "factor": kmax,
            "n_fact_rows": fact.count(),
            "unsalted_sec": t_unsalted,
            "salted_sec": t_salted,
            "unsalted_max_partition_rows": int(max_part_rows(fact, "key")),
            "salted_max_partition_rows": int(max_part_rows(fact_s, "key", "salt")),
            "hot_key_partitions_salted": int(hot_pids),
        }
    finally:
        for k_, v_ in saved.items():
            spark.conf.set(k_, v_)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
