"""Query catalog for the driver harness (``__spark_entry__.py``).

Every implemented operator from SURVEY.md §2 registers here via the
``@query(name, oracle=...)`` decorator:

- ``QUERIES[name]``  — ``(spark, sf_dir) -> DataFrame`` (idiomatic DataFrame API).
- ``ORACLES[name]``  — equivalent ANSI SQL that DuckDB runs over the same
  parquet tables.  Column names are aliased identically on both sides because
  the driver sorts columns by name before value-hashing.

Queries whose semantics are not SQL-expressible (hash-seeded MinHash, streaming
state machines) register WITHOUT an oracle; the driver then records a weaker
rows-only check and pytest covers semantics against ground truth instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Driver-window priority.
#
# The grading driver verifies only the FIRST 50 registered queries per round.
# Round 2 registered 17 new queries ahead of everything else and silently
# evicted the entire sink/streaming/temporal/TPC-H surface from verification
# (round-2 verdict, top ask).  Registration order is therefore an explicit,
# reviewed artifact: ``_WINDOW_PRIORITY`` lists the window head-first —
# (1) every query that has never had a driver correctness row, (2) queries
# whose implementation changed this round, (3) flagship operators re-verified
# every round.  ``tests/test_driver_window.py`` pins the resulting first-50
# against the checked-in ``driver_window.txt`` and fails if any never-green
# query (not in ``verified_green.json``) falls outside the window — a module
# reorder can no longer silently drop verification coverage.  Queries rotated
# OUT of the window all have a green row in a prior round's CORRECTNESS file
# (see README rotation note).
# ---------------------------------------------------------------------------
# Queries deliberately kept OUTSIDE the driver window even though they have
# no green driver row: each name here must carry a justification.  The window
# test treats these as reviewed exceptions rather than silent evictions.
# EMPTY: the one historical entry, an xxhash64 SimHash twin of the
# oracle-checked simhash_neardup_pairs, was retired from the registry and
# its operator deleted; every registered query is window-eligible.
WINDOW_EXEMPT: dict[str, str] = {}

_WINDOW_PRIORITY: list[str] = [
    # --- r15 window (scripts/window_rotation.py, no --changed: this round
    # changes no query outputs).  r14 rows folded into verified_green.json
    # (r14 swept 50/50 green; streaming_left_outer_attribution earned its
    # first row).  Zero never-green and zero changed-output names, so all
    # 50 slots are oldest-evidence rotations: the 20 remaining r10-stale
    # names (the 17 listed in the PLANS.md handoff plus the 3 displaced by
    # the r14 self-review window fix), then 30 of the r11 block
    # (name-ascending).  After this window sweeps green every registered
    # query is r11+ fresh.
    "minhash_lsh_pairs",
    "quality_classifier_accounting",
    "streaming_upsert_accounting",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q19_discounted_revenue",
    "tpch_q22_global_sales_opportunity",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "trailing_7d_customer_revenue",
    "weighted_sample_docs",
    "winnow_coverage_check",
    "winnow_fingerprint_overlap",
    "ann_lsh_topk",
    "ann_ranking_metrics_at_k",
    "approx_triangle_estimate",
    "asof_join_latest_order",
    "asof_tolerance_accounting",
    "bloom_index_pruning_stats",
    "compaction_accounting",
    "editdist_neardup_counts",
    "firehose_ordered_delivery_accounting",
    "hilbert_pruning_stats",
    "hits_copurchase_scores",
    "image_dhash_neardup_pairs",
    "multimodal_png_roundtrip_stats",
    "nation_balance_unpivot",
    "near_dedup_clusters_distributed",
    "normalized_dedup_stats",
    "order_rank_family_stats",
    "part_copurchase_kcore",
    "part_copurchase_triangles",
    "pca_embedding_variance",
    "ppr_seed_sources",
    "pricing_summary",
    "repeated_chunk_stats",
    "salted_join_priority_revenue",
    "scalar_string_date_math",
    "scd2_multi_tick_accounting",
    "semantic_dedup_survivors",
    "seq_concat_pack_stats",
    "simhash_neardup_pairs",
]



def load_all() -> None:
    """Import every module that registers queries, then apply the explicit
    driver-window ordering (idempotent).  Past the window, the import order
    below is the registration order."""
    from fs2_kinesis_firehose_spark.queries import (  # noqa: F401
        cluster_q,
        curation_q,
        dq_q,
        format_q,
        llm,
        graph_q,
        layout_q,
        relational,
        retrieval_q,
        robust_q,
        sinkq,
        sketch_q,
        stats_q,
        streaming_q,
        stringsim_q,
        temporal_q,
        tpch_q,
        upsert_q,
        url_q,
    )

    ordered = {n: QUERIES[n] for n in _WINDOW_PRIORITY if n in QUERIES}
    ordered.update((n, f) for n, f in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)
    o_ordered = {n: ORACLES[n] for n in ordered if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o_ordered)
