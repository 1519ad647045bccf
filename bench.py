#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the ``noop`` sink so Catalyst can't
column-prune away the measured work.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

from fs2_kinesis_firehose_spark.session import get_spark
import fs2_kinesis_firehose_spark.queries as q

# Cross-tier headline set: relational core, windows, json, dedup (exact +
# MinHash scale path), similarity, text analysis, streaming, firehose sink.
HEADLINE = [
    "revenue_by_nation",
    "pricing_summary",
    "top_orders_per_customer",
    "monthly_revenue_running",
    "segment_count_distinct",
    "events_props_functions",
    "global_top10_orders",
    "dedup_exact",
    "minhash_lsh_pairs",
    "cosine_topk_bruteforce",
    "token_stats",
    "quality_scores",
    "streaming_tumbling_counts",
    "firehose_delivery_accounting",
    "asof_join_latest_order",
    "embedding_neardup_blocked",
    # round-2 additions: range join, 8-table TPC-H, sessionization, Gopher
    "interval_join_incident_counts",
    "tpch_q8_market_share",
    "user_session_stats",
    "gopher_quality_flags",
    # round-3 additions: the largest-shuffle TPC-H shape, the stateful
    # streaming path (state-store cost), the full sink→source roundtrip
    # (eager produce included in the timing — that IS the roundtrip), and the
    # portable-SimHash near-dup pipeline
    "tpch_q18_large_volume_customers",
    "streaming_stateful_user_stats",
    "kinesis_roundtrip_counts",
    "simhash_neardup_pairs",
    # round-3 additions: full Gopher repetition (widest explode in the repo),
    # SemDeDup (cell-blocked pair join + CC), sliding-window chunking (pure
    # narrow-map explode — the scan-speed baseline)
    "gopher_repetition_flags",
    "semantic_dedup_survivors",
    "doc_chunk_stats",
    # DSIR (two token scans + doc-key shuffle) and the normalization
    # distinct-hash aggregate — the remaining new Tier-C surface
    "dsir_importance_weights",
    "normalized_dedup_stats",
    # the composed quality->dedup->split pipeline (runs MinHash internally)
    "curation_funnel_counts",
    # incremental crawl-vs-corpus dedup through the real streaming engine
    "streaming_incremental_neardup",
    # round-4 additions: Z-order clustered write + footer-stats pruning (the
    # layout job IS the cost being measured), the replayed idempotent file
    # sink, and the distributed star-contraction CC path (what runs at
    # 100 TB instead of driver union-find)
    "zorder_pruning_stats",
    "exactly_once_replay_counts",
    "near_dedup_clusters_distributed",
    # round-4 addition: BM25 ranked retrieval (scan-side postings filter +
    # broadcast stats, TakeOrderedAndProject top-k)
    "bm25_topk",
    # round-5 additions: fixed-iteration PageRank over the near-dup source
    # graph (iterative join+agg supersteps), the materialized-postings BM25
    # path (index probe, corpus never re-scanned), and the winnowing
    # coverage audit (widest gram-position self-join in the repo)
    "pagerank_top_sources",
    "bm25_postings_topk",
    "winnow_coverage_check",
    # round-5 addition: distributed Lloyd k-means (GEMM assignment passes +
    # (cluster, dim) update aggregates; the full training loop is the cost)
    "kmeans_cluster_stats",
    # round-5 addition: two-pass Misra–Gries heavy hitters (per-partition
    # sketch pass + broadcast exact recount; ≤ k·P rows ever shuffled)
    "heavy_hitter_bigrams",
    # round-5 addition: degree-oriented triangle counting on the hub-skewed
    # part co-purchase graph (wedge self-join bounded by orientation)
    "part_copurchase_triangles",
    # round-5 addition: hybrid retrieval (BM25 + dense cosine fused by RRF;
    # two TakeOrderedAndProject rankers + candidate-only fusion windows)
    "hybrid_rrf_topk",
    # round-5 addition: synchronous label propagation over the near-dup doc
    # graph (3 rounds of join + count + struct-max argmax)
    "doc_community_labels",
    # round-5 addition: cluster-aware split (per-group window min + hash
    # assignment; oracle re-proves the 0-leakage contract)
    "leakage_safe_split_counts",
    # round-5 addition: CCNet bucket filter (LM train+score, exact-percentile
    # boundary broadcast, when-chain assignment — no ntile sort)
    "ccnet_perplexity_buckets",
    # round-5 addition: MERGE-shaped snapshot upsert (one full-outer join,
    # per-column coalesce, per-action accounting in exact cents)
    "snapshot_upsert_accounting",
    # round-5 addition: streaming CDC apply (3 foreachBatch MERGE batches
    # through chained snapshot versions, convergent under redelivery)
    "streaming_upsert_accounting",
    # round-5 addition: N-step funnel (filtered aggregate + join per step,
    # all keyed on user_id)
    "event_funnel_times",
    # round-5 addition: hourly zero-fill + gaps-and-islands report
    "hourly_gap_report",
    # round-5 addition: TF-IDF doc keywords (broadcast df, per-doc window)
    "tfidf_doc_keywords",
    # round-5 addition: Bloom runtime filter (distributed bitmap build +
    # Arrow membership prefilter + exact semi join)
    "bloom_semijoin_revenue",
    # round-5 addition: SCD2 history (two chained change batches, current-
    # slice-only outer join, no-op suppression)
    "scd2_version_accounting",
    # round-5 addition: distributed PCA (one Arrow stats pass + driver eigh
    # + GEMM projection + spectral-invariant checks)
    "pca_embedding_variance",
    # round-6 addition: DOULION sampled triangle estimate — the at-scale
    # companion to the exact path above; the wedge join runs on a p²
    # fraction of the wedges (p=0.5 → ~4x cheaper, same oracle exactness)
    "approx_triangle_estimate",
    # round-6 addition: KLL quantile sketch over doc lengths (per-partition
    # compactors + driver merge + ONE exact rank-interval validation scan)
    "kll_doclen_quantiles",
    # round-6 addition: multi-tick SCD2 (five change cohorts, ONE batch,
    # keyed window chain compression + interval assembly)
    "scd2_multi_tick_accounting",
    # round-6 addition: Count-Min point frequencies (posexplode + one
    # aggregate sketch build, broadcast probe lookup)
    "count_min_bigram_estimates",
    # round-6 addition: k-core peeling (adaptive rounds of degree agg +
    # fringe anti-joins; 143 of 2000 parts peel at k=80)
    "part_copurchase_kcore",
    # round-6 addition: cohort retention (two aggs + one key join)
    "cohort_retention_matrix",
    # round-6 addition: personalized PageRank (seeded teleport; same
    # superstep plan as pagerank_top_sources, which shares the edge build)
    "ppr_seed_sources",
    # round-6 addition: product-quantized ANN (m distributed subspace fits
    # + GEMM encode + literal-LUT ADC top-k)
    "pq_adc_topk",
    # round-6 addition: the rescored PQ path (ADC candidates + exact
    # re-rank — two TakeOrderedAndProject passes)
    "pq_rescored_topk",
    # round-7 addition: the full IVFADC recipe (nprobe cell probe → in-cell
    # ADC → exact rescore) — the billion-vector ANN query shape
    "ivf_pq_rescored_topk",
    # round-7 addition: end-to-end reference pipeline (spool source →
    # exact dedup of an at-least-once replay → Firehose sink accounting)
    "pipeline_dedup_delivery_accounting",
    # round-7 addition: HLL register tables over four key sets (one
    # codegen hash + one ≤4096-row aggregate per set)
    "hll_distinct_estimates",
    # round-7 additions: the TPC-H gap-fill (conditional-agg Q12; Q21's
    # double correlated EXISTS as two co-partitioned keyed aggregates)
    "tpch_q12_shipmode_priority",
    "tpch_q21_suppliers_kept_waiting",
    # round-7 addition: exact containment join (quote-inclusion dedup;
    # same inverted-index plan family as ngram_jaccard_pairs)
    "ngram_containment_pairs",
    # round-7 addition: 1-bit sign-code ANN (Hamming pre-rank via packed
    # xor+bit_count, candidate-confined exact rescore)
    "binary_quant_rescored_topk",
    # round-7 addition: sketch-only corpus overlap (two register builds +
    # merge + inclusion-exclusion; the corpora scan once each)
    "hll_overlap_estimates",
    # round-7 addition: quality-classifier training (hashed-feature build +
    # 12 full-batch quantized-gradient GD iterations + scoring; the entire
    # deterministic training loop is the measured cost)
    "quality_classifier_accounting",
    # round-7 addition: AMS tug-of-war F2 sketch (one narrow scan, 3 md5 +
    # 80 sign sums, vs the exact keyed-shuffle recount it replaces)
    "ams_f2_bigram_estimate",
    # round-7 addition: bucketed co-located join (both sides written
    # bucketBy(orderkey); timing includes the two bucketed writes + the
    # zero-exchange sort-merge join)
    "bucketed_colocated_join_revenue",
    # round-7 addition: residual IVFADC (the verbatim Jegou recipe — PQ on
    # coarse residuals, per-cell query LUTs + cross-cell constants; timing
    # includes cell assign, residual fit, encode, probe, rescore)
    "ivf_pq_residual_rescored_topk",
    # round-7 addition: source-format roundtrips (orders -> CSV + gzip
    # JSON-lines + ORC -> read back with explicit schemas; writes included
    # in the timing — that IS the roundtrip)
    "text_format_roundtrip_counts",
    # round-7 addition: edit-distance self-join (PassJoin segment pigeonhole
    # + threshold-Levenshtein verify over 15k serial names; candidate volume
    # is the measured cost — sum of segment-bucket f^2)
    "editdist_neardup_counts",
    # round-7 addition: PMI collocations (two count aggregates + two word
    # joins + TakeOrdered; exact-integer outputs)
    "pmi_collocations_topk",
    # round-7 addition: robust outlier accounting (two histogram-fed exact
    # median passes + broadcast join-backs, no raw-row window)
    "mad_event_outliers",
    # round-7 addition: streaming MG fold (copies=2 replay, <= k state rows
    # per batch, exact recount gate over the single-copy corpus)
    "streaming_heavy_hitter_bigrams",
    # round-7 addition: streaming KLL fold (per-batch Arrow summaries merged
    # driver-side; one exact rank-validation scan)
    "streaming_kll_doclen_quantiles",
    # round-7 addition: ANALYZE stats row (one multi-distinct aggregate over
    # orders: null counts, NDVs, min/max, string widths)
    "analyze_orders_stats",
    # round-7 addition: per-slice HLL registers (one grouped partial-agg
    # pass, per-group estimate rollup + checksum + exact comparison)
    "hll_grouped_distinct_estimates",
    # round-7 addition: Deequ-style constraint report (six independent
    # one-aggregate checks incl. a broadcast anti-join FK probe)
    "dq_check_report",
    # round-7 addition: additive-MV fold refresh (two slice aggregates +
    # one full-outer fold + the full recompute it is certified against)
    "incremental_mv_refresh_accounting",
    # round-7 addition: real WAV codec roundtrip (synthesize -> encode ->
    # container-walking decode -> integer features, two Arrow stages)
    "multimodal_wav_roundtrip_stats",
    # round-7 addition: real Y4M video codec roundtrip (same shape; adds
    # the temporal-activity sum over per-frame luma)
    "multimodal_y4m_roundtrip_stats",
    # round-9 additions: broadcast-LUT ADC scoring — the production-dims
    # ANN plan (LUT rides as a broadcast relation joined on the probed
    # cell / a constant key instead of m·k plan literals; compare against
    # pq_adc_topk / ivf_pq_residual_rescored_topk above, which share the
    # oracles)
    "pq_adc_bcast_topk",
    "ivf_pq_residual_bcast_topk",
    # round-10 additions: the persisted IVF+PQ index lifecycle (write +
    # reload + serve — the production ANN path) and the image
    # perceptual-hash near-dup (real PNG decode + banded Hamming join)
    "ivf_pq_persisted_topk",
    "image_dhash_neardup_pairs",
    # round-11 additions: exact-order sink accounting at parallelism=3
    # (the stamped mapAsync path), GPT-style concat-and-chunk packing,
    # token-budget sampling, the cross-source chunk-overlap matrix, and
    # the Zipf corpus-health fit
    "firehose_ordered_delivery_accounting",
    "seq_concat_pack_stats",
    "token_budget_sample_stats",
    "source_chunk_overlap_matrix",
    "zipf_fit_stats",
    # round-11 additions: the adapted partsupp-free TPC-H completions
    "tpch_q9_product_type_profit",
    "tpch_q11_important_parts",
    "tpch_q16_supplier_part_count",
    "tpch_q20_excess_suppliers",
    # round-11 addition: streaming serving loop over the persisted ANN index
    "streaming_ann_serving_topk",
    # round-11 addition: Hilbert-curve clustered write + footer pruning
    "hilbert_pruning_stats",
    # round-11 addition: graded ANN ranking eval (MRR/NDCG@10)
    "ann_ranking_metrics_at_k",
    # round-11 addition: HITS over the customer->part purchase bipartite
    "hits_copurchase_scores",
    # round-11 additions: rank-family window pass + as-of tolerance
    "order_rank_family_stats",
    "asof_tolerance_accounting",
    # round-11 addition: persisted Bloom index sidecar point-lookup skipping
    "bloom_index_pruning_stats",
    # round-11 addition: small-file compaction maintenance rewrite
    "compaction_accounting",
    # round-12 additions: persisted-index APPEND lifecycles (PQ + MinHash),
    # URL-canonical domain dedup, canonical-URL dedup accounting
    "ivf_pq_append_serve_topk",
    "minhash_index_append_neardup",
    "exact_substring_dedup_stats",
    "domain_dedup_stats",
    "canon_url_dedup_accounting",
    "domain_cap_sample_counts",
    # round-12 continuation additions: CDC snapshot diff, shuffle-key skew
    # diagnostic, quality-curriculum quartiles, Matryoshka truncated-dim
    # recall, leave-one-out kNN label eval
    "snapshot_diff_accounting",
    "join_key_skew_report",
    "curriculum_bucket_stats",
    "truncated_dim_recall_at_k",
    "knn_label_accuracy",
    "cluster_balanced_sample_counts",
    "source_score_calibration",
    "quality_flag_agreement_kappa",
    "range_layout_pruning_stats",
    "contrastive_pair_mining",
    "length_bucket_padding_stats",
    "scd2_point_in_time_revenue",
    "mv_retraction_refresh_accounting",
    "token_compression_stats",
    # round-12 split lifecycle lines (r11 verdict ask #8): the persisted
    # ANN index's STEADY-STATE serving cost, measured with the build done
    # once OUTSIDE the timer — `ivf_pq_persisted_topk` /
    # `streaming_ann_serving_topk` above price fit+write+reload+serve
    # together, which hides whether a serving regression is build noise
    "ivf_pq_persisted_serve_only",
    "streaming_ann_batch_serve_only",
    # round-13 additions: trained char-trigram language-ID (featurize +
    # 5 one-vs-rest quantized-GD trainings + argmax scoring — the whole
    # training loop is the measured cost) and watermark late-data drop
    # accounting (three-phase file replay through the real streaming
    # engine: stage writes + 3 micro-batches + append-mode finalization)
    "lang_id_trained_accuracy",
    "streaming_late_data_accounting",
    # round-14 addition: stream-stream LEFT OUTER join (state-timeout NULL
    # emission via the end-of-batch no-data finalization; two streaming
    # readers + the stateful symmetric hash join are the measured cost)
    "streaming_left_outer_attribution",
]

# ---------------------------------------------------------------------------
# Bench-only serve-path callables (NOT registry queries — no oracle of their
# own; their lifecycle twins in queries() carry the full-replay oracles).
# The index is built once per (session, sf_dir) before the timed passes.
_SERVE_STATE: dict[str, tuple] = {}


def _ensure_pq_index(spark, sf_dir: str):
    if sf_dir in _SERVE_STATE:
        return _SERVE_STATE[sf_dir]
    from fs2_kinesis_firehose_spark.queries.cluster_q import _PQ_K, ivf_pq_index
    from fs2_kinesis_firehose_spark.tables import load_table, scratch_dir

    root = scratch_dir("fs2spark-bench-serve", "{h}-{pid}", sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    head_rows = (
        emb.orderBy("vec_id").limit(_PQ_K).select("vec_id", "embedding").collect()
    )
    model2, codes2, cents2 = ivf_pq_index(
        spark, emb, [[float(x) for x in r["embedding"]] for r in head_rows], str(root)
    )
    qrows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in head_rows[:3]
    ]
    _SERVE_STATE[sf_dir] = (model2, codes2, cents2, qrows)
    return _SERVE_STATE[sf_dir]


def _ivf_pq_persisted_serve_only(spark, sf_dir: str):
    """Steady-state single-query IVFADC over the prebuilt reloaded index."""
    from fs2_kinesis_firehose_spark.operators import pq as PQ
    from fs2_kinesis_firehose_spark.queries.cluster_q import _IVF_NPROBE, _PQ_CAND

    model2, codes2, cents2, qrows = _ensure_pq_index(spark, sf_dir)
    return PQ.ivf_pq_rescored_topk(
        codes2, cents2, model2, qrows[0][1], 10,
        nprobe=_IVF_NPROBE, candidates=_PQ_CAND,
    )


def _streaming_ann_batch_serve_only(spark, sf_dir: str):
    """Steady-state batched serving: the 3-query micro-batch answered by
    one ivf_pq_rescored_topk_multi plan over the prebuilt index — the
    foreachBatch body of streaming_ann_serving_topk without build/reload/
    stream scaffolding."""
    from fs2_kinesis_firehose_spark.operators import pq as PQ
    from fs2_kinesis_firehose_spark.queries.cluster_q import _IVF_NPROBE, _PQ_CAND

    model2, codes2, cents2, qrows = _ensure_pq_index(spark, sf_dir)
    return PQ.ivf_pq_rescored_topk_multi(
        codes2, cents2, model2, qrows, 10,
        nprobe=_IVF_NPROBE, candidates=_PQ_CAND,
    )


EXTRA_BENCH = {
    "ivf_pq_persisted_serve_only": _ivf_pq_persisted_serve_only,
    "streaming_ann_batch_serve_only": _streaming_ann_batch_serve_only,
}

# exact same semantics/oracle as embedding_neardup_pairs (the O(n²)
# correctness baseline, kept in queries()); the bench measures the
# blocked-GEMM scale path


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    q.load_all()
    spark = get_spark("bench")
    # warmup: JIT + whole-stage-codegen compile + Python-worker spinup +
    # parquet footer caches, so timings reflect steady-state latency rather
    # than first-query JVM warmup.  Each headline PLAN runs once at sf0.001
    # (trivial data) — Janino caches the generated classes per plan shape, so
    # the sf0.1 timed pass measures execution, not compilation.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            fn = q.QUERIES.get(name) or EXTRA_BENCH[name]
            materialize(fn(spark, warm_dir))
        except Exception as exc:  # never let warmup sink the bench
            print(f"  warmup {name} failed: {exc}", file=sys.stderr)
    # pre-build the serve-only index at the TARGET sf OUTSIDE the timers
    # (the whole point of the split lifecycle lines)
    _ensure_pq_index(spark, sf_dir)

    # timed passes per query, keep the min: one-off JIT/GC/page-cache
    # stalls and noisy-neighbor windows otherwise add multi-second noise to a
    # single-shot measurement (observed: the SAME query measuring 0.6s and
    # 7.4s across runs on a shared box — min-of-2 loses when a noise window
    # covers both passes).  Three passes for every query; queries whose best
    # is under 2 s get two EXTRA passes (min-of-5): sub-2 s absolutes are
    # where scheduler jitter shows up as double-digit percentage "drift"
    # (r4→r5 adjudication — dsir/tpch_q8/cosine_topk moved ±27-55% with no
    # code change).  The DataFrame cache is cleared before every pass so the
    # min reflects cold-cache execution, not a populated persist.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = q.QUERIES.get(name) or EXTRA_BENCH[name]
        best = None

        def one_pass() -> float:
            spark.catalog.clearCache()
            # localCheckpoint blocks (simhash fingerprints, shingle/SemDeDup
            # edge materializations) are NOT covered by clearCache — they are
            # unpersisted by the ContextCleaner when the py4j refs die, which
            # needs a Python GC nudge or they accumulate across passes
            gc.collect()
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            return time.perf_counter() - t0

        for _ in range(3):
            dt = one_pass()
            best = dt if best is None or dt < best else best
        if best < 2.0:
            for _ in range(2):
                dt = one_pass()
                best = dt if dt < best else best
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    line = json.dumps(
        {
            "metric": "headline_query_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
    )
    print(line)
    # ALSO persist the line to a file next to this script (r14 verdict ask
    # #7: the r13 round comparison was nulled by a truncated stdout capture
    # on the driver side — rc=0 and the printed contract are unchanged;
    # this is an addition outside every timed region, never a replacement).
    try:
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_out.json")
        with open(out, "w") as fh:
            fh.write(line + "\n")
    except OSError as exc:  # a read-only checkout must never sink the bench
        print(f"  BENCH_out.json write skipped: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
