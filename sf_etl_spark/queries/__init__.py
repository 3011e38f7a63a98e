"""Query registry: every operator from SURVEY.md §2 lands here as a
named (spark_fn, oracle_sql) pair, consumed by __spark_entry__.py.

`spark_fn(spark, sf_dir) -> DataFrame` is the engine-side plan;
`oracle_sql` is the ANSI-SQL equivalent DuckDB runs on the same
parquet files. `oracle_sql=None` marks genuinely non-SQL-expressible
ops (hash-seeded sketches, stateful streaming) — the driver then
records a rows-only check.

Column-name parity rule: every computed column is aliased identically
on both sides (the correctness gate sorts columns by name and hashes
values). Floating aggregates are rounded on both sides to absorb
summation-order differences between engines — see ROUND_* notes in
relational.py.

Output-type rule: registered queries return only scalar columns —
array/map results are serialized (``concat_ws`` / ``array_to_string``)
before the comparison boundary; the value-hash harness can't hash
nested numpy arrays and engines lay maps out differently.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One verifiable engine capability."""

    name: str
    fn: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""
    #: fn() runs real Spark jobs at DataFrame-CONSTRUCTION time
    #: (writes/merges, ML fits, eager collects, localCheckpoints)
    #: instead of deferring everything to the first action. Declared
    #: here, AT the lane, so the smoke gate's job-free "pure analysis"
    #: pass derives from the registry instead of a hand-maintained
    #: name list that silently drifts.
    executes_on_construct: bool = False


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    executes_on_construct: bool = False,
):
    """Decorator: add a query to the global registry."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        # Every entry path (driver fresh-process query run, pytest,
        # bench) gets the engine conf — notably the UTC timezone and
        # parquet nanosAsLong the events loader depends on — without
        # any loader mutating session state as a side effect.
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from sf_etl_spark.session import apply_engine_conf

            apply_engine_conf(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=wrapped,
            oracle=oracle,
            doc=doc,
            executes_on_construct=executes_on_construct,
        )
        return fn

    return deco


# The driver's correctness gate checks the registry in iteration order
# and truncates after the first ~50 entries. Registration order follows
# module import order (plus cross-module imports), which buried the
# similarity/SOQL/streaming/as-of surface past the cutoff in round 1.
# This list pins the iteration order explicitly: surfaces that most
# need a fresh driver CORRECTNESS row come first; the relational long
# tail (fully driver-verified in round 1) comes last. Names absent
# from the list keep their registration order after the listed ones;
# listed names that are not registered are ignored (so reordering
# never hides a query).
#
# Current window, 12+7+31 = 50: (1) the 12 lanes whose code the
# parameter-to-constant change touched most: ann_cosine_topk (NULL
# cosine on a zero vector), the graph-operator lanes (pagerank_topk,
# keyword_textrank, bfs_shortest_paths, linkage_survivorship and the
# two dedup_cluster_* lanes), salted_join_revenue, the two
# write_parquet lanes and the two asof_join lanes; (2) the 7 lanes the
# quantiser change touched — the four PQ lanes (ann_pq_adc_topk,
# ann_ivf_pq_topk, ann_pq_recall_metrics, ann_ivf_pq_trained_agreement:
# encode/ADC through the numpy PQ kernel), the two k-means IVF lanes
# (driver-ranked probe cells) and embedding_quantize_int8 (zero-scale
# division), still without a driver round; (3) 31 lanes of the stale
# block (the standing scheme, stalest evidence first: the 6 remaining
# r11-stale lanes, then 25 r12-stale lanes), filling to 50.
# Below the boundary, names keep their prior RELATIVE order (the
# rotation tool does not re-sort them); the remaining
# r12-evidence lanes are first in line for the next rotation. This
# comment and the matching one in tests/test_registry_order.py must
# agree on the counts (r12 ADVICE).
_PRIORITY_ORDER = [
    "ann_cosine_topk",
    "pagerank_topk",
    "keyword_textrank",
    "bfs_shortest_paths",
    "salted_join_revenue",
    "linkage_survivorship",
    "sink_roundtrip_partitioned",
    "source_schema_evolution",
    "asof_purchase_click",
    "attribution_channels",
    "dedup_cluster_components",
    "dedup_cluster_bigstar",
    "ann_pq_adc_topk",
    "ann_ivf_pq_topk",
    "ann_pq_recall_metrics",
    "ann_ivf_pq_trained_agreement",
    "ann_ivf_kmeans_topk",
    "ann_ivf_kmeans_agreement",
    "embedding_quantize_int8",
    "stream_stream_join_attribution",
    "target_encoding_smoothed",
    "time_weighted_average",
    "topk_per_group",
    "window_sliding_distinct",
    "zone_map_pruned_scan",
    "ab_test_lift",
    "ann_ivf_topk",
    "ann_srp_lsh_pairs",
    "bucketed_join_colocated",
    "clean_text_normalize",
    "corpus_prep_pipeline",
    "decontaminate_embedding_cosine",
    "decontaminate_ngram_overlap",
    "dedup_embedding_pipeline",
    "dedup_exact_substring",
    "dedup_minhash_lsh",
    "dedup_semdedup_prune",
    "dedup_simhash",
    "domain_mix_rebalance",
    "dq_validation_report",
    "gap_islands_activity",
    "geo_nearest_hub",
    "grouping_sets_flags",
    "mode_per_group",
    "null_semantics",
    "q6_forecast_revenue",
    "regression_by_group",
    "repetition_metrics",
    "snapshot_diff_cdc",
    "source_json_roundtrip",
    # --- below the driver window (auto-rotated) ---
    "source_orc_roundtrip",
    "split_train_test",
    "stream_session_window",
    "stream_stateful_user_agg",
    "stream_stream_left_join_unmatched",
    "stream_tumbling_1h",
    "unpivot_metrics",
    "vocab_top_terms",
    "ann_binary_hamming_topk",
    "ann_binary_recall_metrics",
    "triangle_count",
    "asof_pandas_merge",
    "source_sfetl_roundtrip",
    "sink_sfetl_ingest_roundtrip",
    "sink_sfetl_failed_results",
    "sink_sfetl_successful_results",
    "source_sfetl_stream_incremental",
    "sink_sfetl_delete_roundtrip",
    "sink_sfetl_resume_unprocessed",
    "stream_sink_sfetl_upsert",
    "stream_sink_sfetl_native",
    "stream_sink_sfetl_failed_rows",
    "ann_matryoshka_recall",
    "ann_recall_metrics",
    "asof_nearest_click",
    "countmin_point_estimates",
    "cusum_drift_detection",
    "decile_lift_table",
    "dedup_embedding_cosine",
    "exact_median_histogram",
    "forecast_feature_matrix",
    "funnel_time_to_convert",
    "fuzzy_name_match",
    "group_median_twophase",
    "ivm_join_deltas",
    "kmv_set_overlap",
    "multimodal_decode_stats",
    "multimodal_resize_stats",
    "pareto_frontier_parts",
    "phrase_search_positional",
    "q10_returned_items",
    "q12_late_priority",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_counts",
    "q17_small_qty_revenue",
    "q18_large_volume",
    "q19_or_of_ands",
    "q21_waiting_suppliers",
    "q22_dormant_balance",
    "rolling_median_7d",
    "seasonal_anomaly_slots",
    "stream_dedup_exactly_once",
    "quality_gopher_repetition",
    "window_suite",
    "agg_having",
    "agg_stats_by_status",
    "approx_distinct_custkeys",
    "array_functions",
    "arrow_batch_textstats",
    "conditional_predicates",
    "correlation_matrix",
    "cube_status_priority",
    "date_functions",
    "dispersion_stats",
    "distinct_flags",
    "doc_fingerprint",
    "embedding_stats",
    "equidepth_histogram",
    "feature_hashing",
    "filter_project",
    "join_anti",
    "join_left_outer",
    "join_semi",
    "json_extract",
    "lang_id",
    "map_functions",
    "math_functions",
    "min_per_group_joinback",
    "multimodal_frame_sample",
    "multimodal_meta_stats",
    "order_limit_offset",
    "pandas_udf_zscore",
    "pivot_returnflag",
    "q4_order_priority",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "rollup_flags",
    "session_paths",
    "set_ops",
    "set_ops_all",
    "string_functions",
    "text_quality",
    "token_counts",
    "udtf_bigrams",
    "user_behavior_profile",
    "variant_extract_orders",
    "window_frames",
    "window_session_dynamic_gap",
    "agms_join_size",
    "quality_gopher_published",
    "stream_stream_full_join_unmatched",
    "zorder_roundtrip",
    "bigram_novelty",
    "bloom_semi_join_revenue",
    "bm25_topk",
    "cohort_retention",
    "column_profile",
    "dedup_exact",
    "dedup_incremental_ingest",
    "distribution_drift",
    "dpp_partitioned_join",
    "event_transitions",
    "ewma_user_value",
    "exists_correlated",
    "fk_integrity",
    "grouped_agg_trimmed_mean",
    "heavy_hitters_twopass",
    "hll_rollup_merge",
    "interval_coverage",
    "json_schema_on_read",
    "kll_quantile_merge",
    "market_basket_lift",
    "merge_change_feed",
    "merge_time_travel",
    "ngram_jaccard_pairs",
    "null_skew_outer_join",
    "percentiles_by_flag",
    "q11_important_parts",
    "q14_promo_revenue",
    "q1_pricing_summary",
    "q20_promo_suppliers",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "robust_outliers",
    "scalar_subquery",
    "scd2_point_in_time_join",
    "sessionize_events",
    "soql_fields_all",
    "soql_typeof",
    "source_csv_roundtrip",
    "spark_sql_front",
    "table_checksum",
    "timezone_local_hours",
    "multimodal_features_checksum",
    "quality_gopher_filter",
    "benford_first_digit",
    "boolean_search_and",
    "chi_square_independence",
    "chunk_documents",
    "dq_observe_inflight",
    "event_pattern_regex",
    "events_hourly_ffill",
    "funnel_conversion",
    "group_p90_twophase",
    "histogram_totalprice",
    "pack_token_shards",
    "quality_percentile_filter",
    "range_join_followups",
    "ratio_to_parent_share",
    "redact_pii",
    "rollup_incremental_maintenance",
    "sample_per_label_cap",
    "scd2_dimension_history",
    "sink_merge_cdc",
    "soql_child_subquery",
    "soql_child_subquery_where",
    "soql_child_traversal",
    "soql_cube_grouping",
    "soql_date_functions",
    "soql_documents_filter",
    "soql_in_subquery_anti",
    "soql_in_subquery_semi",
    "soql_multihop_traversal",
    "soql_orders_rollup",
    "soql_parent_traversal",
    "soql_rollup_traversal",
    "source_jdbc_roundtrip",
    "stratified_sample_exact",
    "tfidf_top_terms",
    "weighted_sample_priority",
    "window_session",
    "window_sliding",
    "window_tumbling",
]


def all_queries() -> dict[str, QuerySpec]:
    """Import all query modules and return the full registry.

    Iteration order is _PRIORITY_ORDER first, then any remaining
    registrations in import order (see comment above).
    """
    # Imports are deferred so a syntax error in one module surfaces
    # at call time (driver-visible) instead of breaking package import.
    from sf_etl_spark.queries import (  # noqa: F401
        analytics,
        extensions,
        graph_analytics,
        llm,
        multimodal,
        profiling,
        relational,
        similarity,
        sink_roundtrip,
        sketches,
        soql_front,
        streaming_batch,
        streaming_live,
        tpch_suite,
        training_data,
    )

    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY_ORDER:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
