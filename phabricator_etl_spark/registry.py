"""Assembles the full query registry consumed by __spark_entry__.py.

Every query family is one ``(module, list name)`` row of ``QUERY_TABLE``;
the registry is those lists concatenated in table order. Imports are not
guarded: a module that fails to import raises here instead of silently
dropping its queries from the bench and the oracle sweep.
"""

from __future__ import annotations

import importlib

from .query import Q

QUERY_TABLE: tuple[tuple[str, str], ...] = (
    ("plans.relational", "RELATIONAL_QUERIES"),
    ("plans.tpch_extra", "TPCH_EXTRA_QUERIES"),
    ("plans.functions_battery", "FUNCTIONS_BATTERY_QUERIES"),
    ("plans.sampling_stats", "SAMPLING_STATS_QUERIES"),
    ("plans.sql_interface", "SQL_INTERFACE_QUERIES"),
    ("plans.phab_queries", "PHAB_QUERIES"),
    ("operators.dedup", "DEDUP_QUERIES"),
    ("operators.similarity", "SIMILARITY_QUERIES"),
    ("operators.spans", "SPAN_QUERIES"),
    ("operators.search", "SEARCH_QUERIES"),
    ("operators.features", "FEATURE_QUERIES"),
    ("sources.pydatasource", "PYDATASOURCE_QUERIES"),
    ("plans.association", "ASSOCIATION_QUERIES"),
    ("plans.export", "EXPORT_QUERIES"),
    ("operators.sketches", "SKETCH_QUERIES"),
    ("operators.quantization", "QUANTIZATION_QUERIES"),
    ("plans.event_analytics", "EVENT_ANALYTICS_QUERIES"),
    ("operators.triangles", "TRIANGLE_QUERIES"),
    ("plans.timeseries", "TIMESERIES_QUERIES"),
    ("plans.profiling", "PROFILING_QUERIES"),
    ("operators.pipeline_e2e", "PIPELINE_E2E_QUERIES"),
    ("streaming.hll", "STREAM_HLL_QUERIES"),
    ("plans.cdc", "CDC_QUERIES"),
    ("streaming.funnel", "STREAM_FUNNEL_QUERIES"),
    ("plans.maintenance", "MAINTENANCE_QUERIES"),
    ("functions.text", "TEXT_QUERIES"),
    ("functions.json_ops", "JSON_QUERIES"),
    ("operators.multimodal", "MULTIMODAL_QUERIES"),
    ("operators.iterative", "ITERATIVE_QUERIES"),
    ("operators.clustering", "CLUSTERING_QUERIES"),
    ("plans.extensions", "EXTENSION_QUERIES"),
    ("plans.scale_techniques", "SCALE_QUERIES"),
    ("plans.etl_e2e", "ETL_E2E_QUERIES"),
    ("plans.incremental", "INCREMENTAL_QUERIES"),
    ("streaming.events", "STREAMING_QUERIES"),
    ("streaming.sessions", "SESSION_QUERIES"),
    ("streaming.joins", "STREAM_JOIN_QUERIES"),
    ("sources.formats", "FORMAT_QUERIES"),
    ("sources.jdbc", "JDBC_QUERIES"),
    ("operators.corpus", "CORPUS_QUERIES"),
)


def all_queries() -> list[Q]:
    return [
        q
        for module, attr in QUERY_TABLE
        for q in getattr(importlib.import_module(f".{module}", __package__), attr)
    ]


# The driver's correctness gate records the FIRST 50 registry entries
# (CORRECTNESS_r01/r02 both contain exactly the first 50, in registry
# order). Order the gate window deliberately so the recorded set spans every
# operator family — reference parity (phab pipelines, JSON ops), the
# relational core, the LLM-corpus operators (dedup / similarity / text),
# the incremental protocol, and Structured Streaming — instead of 50
# variations of relational shapes. Everything else still runs in bench and
# remains available through queries().
#
# FROZEN as of round 3: keep these exact 50 names in this order so
# CORRECTNESS_r{N}.json stays comparable across rounds. Queries added after
# position 50 are verified only by tools/strict_check.py + pytest (the
# driver never records them) — that weaker evidence tier is deliberate and
# documented; re-curate only with a strong reason.
GATE_PRIORITY = [
    # relational core: P/J/A/W/setops/C/F + CC + 6 TPC-H shapes (20)
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "p_filters_compound", "p9_prefix_dispatch", "j_left_null_propagation",
    "j_semi_anti", "j6_or_join_decomposition", "a2_conditional_max",
    "a5_collect_sorted_distinct", "w1_top1_per_group", "w2_dedup_keep_latest",
    "w5_month_bucketing", "setops_key_algebra", "f1_json_extract",
    "c3_value_coercion", "a8_connected_components", "q4_order_priority_exists",
    "q13_customer_distribution", "q18_large_volume_having",
    # §2.8 JSON parity (5)
    "f2_json_map_key_order", "f3_dict_or_list", "p11_tolerant_int_filter",
    "a7_membership_delta", "f4_json_string_decode",
    # reference output-table parity: the 8 pipelines + validity audit (9)
    "phab_diffs", "phab_changesets", "phab_comments", "phab_transactions",
    "phab_review_requests", "phab_revisions", "phab_review_groups",
    "phab_project_transactions", "phab_validity_audit",
    # LLM-corpus dedup family (5)
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_embedding_cosine",
    # similarity search (2)
    "ann_topk_bruteforce", "ann_lsh_bucket",
    # text analysis (4)
    "text_token_stats", "text_lang_id", "text_quality_score",
    "text_fingerprint",
    # incremental/watermark protocol §2.9 (3)
    "incr_watermark_filter", "incr_merge_upsert", "incr_month_partitioned",
    # Structured Streaming (2)
    "stream_tumbling_daily", "stream_dedup_watermarked",
]


def _gate_ordered(queries: list[Q]) -> list[Q]:
    by_name = {q.name: q for q in queries}
    prio = [by_name[n] for n in GATE_PRIORITY]
    prio_set = set(GATE_PRIORITY)
    rest = [q for q in queries if q.name not in prio_set]
    return prio + rest


def queries_dict():
    return {q.name: q.build for q in _gate_ordered(all_queries())}


def oracles_dict():
    return {q.name: q.oracle.strip() for q in _gate_ordered(all_queries()) if q.oracle}
