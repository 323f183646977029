"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship customer-features query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the LLM-pipeline extensions, each with a DuckDB oracle
where the semantics are SQL-expressible.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pyspark_kmeans_spark.operators.relational import q_customer_features

    return q_customer_features(spark, SF0001)


# Every module with a QUERIES / ORACLES registry, in merge order.  They
# are imported directly: a module that fails to import must fail the
# registry, not silently shrink the oracle sweep.
_REGISTRY_MODULES = (
    "operators.relational",
    "operators.dedup",
    "operators.ingest",
    "operators.similarity",
    "operators.text",
    "operators.multimodal",
    "operators.analytics",
    "operators.temporal",
    "operators.curation",
    "operators.graph",
    "operators.tpch",
    "operators.checks",
    "operators.bpe",
    "streaming.events",
    "ml.queries",
    "ml.quality",
    "sources.bucketed",
    "sources.partitioned",
    "sources.sorted_layout",
    "sources.zorder",
)


# v1 headline set (rounds 4-8): the cross-round comparison basis.  The
# BASELINE.md operative tables and every BENCH_r{4..8}.json total sum
# over exactly these 29 — bench.py's compact line reports their subtotal as
# `value_v1` so the series stays comparable after v2 additions.
HEADLINE_V1 = [
    "customer_features",
    "pricing_summary",
    "top_orders",
    "region_volume",
    "customer_revenue_stats",
    "row_number",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_pairs",
    "ann_topk_cosine",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_quality",
    "text_lang_id",
    "multimodal_features",
    "event_hourly_rollup",
    "event_user_sessions",
    "asof_last_order",
    "range_join_recent_orders",
    "dedup_lsh_kept",
    "dedup_incremental_lsh",
    "bucketed_order_revenue",
    "kmeans_embedding_clusters",
    "curation_dup_ngrams",
    "curation_contamination",
    "event_segment_rollup",
    "dedup_semantic",
    "source_quota_sample",
    "training_order",
]

# v2 additions (round 9, VERDICT r8 stretch #8): the round-8 curation
# surface + the leakage-safe split, promoted from the extended section so
# the newest operators get median-of-3 round-over-round tracking.
# bench.py's headline `value` is the 35-query v2 total; `value_v1` preserves the
# 29-query basis — versioned in BASELINE.md, never silently rebased.
HEADLINE_V2_ADDITIONS = [
    "split_leakage_safe",
    "curation_token_budget",
    "curation_length_batching",
    "curation_fuzzy_contamination",
    "curation_score_percentiles",
    "curation_decontaminated",
    "curation_top_boilerplate",
]

HEADLINE = HEADLINE_V1 + HEADLINE_V2_ADDITIONS


def _registries() -> list:
    return [
        importlib.import_module(f"pyspark_kmeans_spark.{name}")
        for name in _REGISTRY_MODULES
    ]


# Sweep priority (the driver caps its sweep at 50 entries, so ordering
# decides what gets validated each round).  Rebuilt every round: lead with
# oracles the driver has NEVER hash-checked (new queries), then queries
# whose code changed this round, then the entries least-recently recorded.
# ONLY oracle-backed rows occupy slots (VERDICT r9 "What's wrong" #2 —
# rows-only entries can never be green; their hash twins carry their
# correctness and ARE listed).  Round 12 (slot math: 2 new + 3 changed +
# 25 + 20 = 50): the TWO new oracle rows (the IVFADC fold==rebuild gate
# and the span-REMOVAL transform), then the three rows whose code
# changed this round (residual encoding + multi-probe + raised 0.85
# floor → `ivfpq_recall_check`; trio index-delta mark →
# `daily_ingest_semantic_check`; ensure_pq_codebook refactored onto the
# shared _ensure_pq_books body → `pq_recall_check`), then ALL 25
# remaining round-8-stale rows (the union ledger's oldest tier,
# alphabetical — fully drained this round per VERDICT r11 next-round
# #2), then the first 20 round-9-stale rows alphabetically; round 13
# resumes the round-9 tier at `log_features`.
_SWEEP_FIRST = [
    # 0. added in round 12 — never driver-recorded
    "pq_index_update_check",
    "curation_span_removed",
    # 1. code changed in round 12 — re-record
    "ivfpq_recall_check",
    "daily_ingest_semantic_check",
    "pq_recall_check",
    # 2. stale: last recorded in round 8 (all 25 remaining, alphabetical)
    "part_supplier_counts",
    "partitioned_month_revenue",
    "returned_items",
    "revenue_deciles",
    "revenue_percentiles",
    "rolling_spend",
    "salted_join",
    "scd2_intervals",
    "sorted_shipdate_window",
    "split_leakage_safe",
    "streaming_ingest_check",
    "token_positions",
    "top_supplier",
    "tpch_q11",
    "tpch_q12",
    "tpch_q17",
    "tpch_q19",
    "tpch_q2",
    "tpch_q20",
    "tpch_q21",
    "tpch_q4",
    "tpch_q8",
    "tpch_q9",
    "training_split",
    "zorder_cust_window",
    # 3. stale: last recorded in round 9 (first 20, alphabetical;
    #    round 13 resumes here at log_features)
    "cdc_apply",
    "curation_token_budget",
    "curation_token_budget_per_lang",
    "customer_features",
    "customer_revenue_stats",
    "dedup_exact",
    "dedup_lsh_recall",
    "dedup_simhash_recall",
    "derived_age",
    "distinct_pairs",
    "distinct_priorities",
    "epoch_plan",
    "event_funnel",
    "event_hit_rate",
    "event_retention",
    "forecast_revenue",
    "full_outer_fill",
    "hybrid_search",
    "large_orders",
    "left_join_fill",
]


def _prioritized(full: dict) -> dict:
    head = {k: full[k] for k in _SWEEP_FIRST if k in full}
    head.update({k: v for k, v in full.items() if k not in head})
    return head


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _registries():
        out.update(getattr(mod, "QUERIES", {}))
    return _prioritized(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _registries():
        out.update(getattr(mod, "ORACLES", {}))
    return _prioritized(out)
