"""Evidence audit over the SURVEY §2 component inventory (VERDICT r11 #8).

Every §2 component is mapped to its CURRENT strongest evidence along five
dimensions, and every claim in the manifest is CHECKED against the repo —
gates must exist in the query registry (with an exact oracle), fuzz/crash
test names must exist in tests/, sf1 coverage is derived from the bench
surface + BASELINE.md rows, plan notes are grepped in PLANS.md — so the
emitted table cannot silently rot. The gap list this prints is the work
queue for rounds 13+.

Dimensions:
  gates — exact-DuckDB-oracle gated queries (the driver's correctness gate)
  fuzz  — differential / property / generative surfaces
  crash — crash-exactness, restore, or adversarial-backend tests
  sf1   — a measured sf1/sf0.1 ratio (bench headline+extras all have one
          from the r8/r9 sweeps; other gates need a named BASELINE.md row)
  plan  — a plan-audit note in PLANS.md (grep by gate name or keyword)

Usage:  python tools/evidence_audit.py [--emit]   (--emit prints markdown)
        pytest pins the manifest via tests/test_evidence_audit.py
"""

from __future__ import annotations

import glob
import os
import re
import sys
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@dataclass
class C:
    sec: str
    name: str
    gates: list = field(default_factory=list)
    fuzz: list = field(default_factory=list)
    crash: list = field(default_factory=list)
    tests: list = field(default_factory=list)  # plain unit/integration
    plan_kw: str | None = None  # PLANS.md keyword when no gate matches
    native: bool = False  # inherent to Spark (no dedicated artifact)
    stateless: bool = False  # stream_-gated but carries no state
    sf1_fixed: bool = False  # input is a deliberately FIXED-SIZE slice
    # (e.g. fn suites cap p_partkey <= 300) or pure metadata — the sf1
    # scale column is n/a by construction


# --------------------------------------------------------------------------
# The 107-component manifest (§2.1-§2.15, matching VERDICT r11's inventory)
# --------------------------------------------------------------------------

MANIFEST: list[C] = [
    # §2.1 Scans / sources / sinks (12)
    C("2.1", "Table source scan (FLIP-27)",
      gates=["tpch_q1_pricing_summary"], tests=["test_correctness"]),
    C("2.1", "Filesystem connector (read/write/partitioned)",
      gates=["ddl_delete_update_roundtrip"], tests=["test_formats"],
      fuzz=["test_delete_update_match_duckdb"]),
    C("2.1", "Formats csv/json/parquet/orc/avro",
      gates=["format_avro_roundtrip"], tests=["test_formats"],
      fuzz=["test_avro_binary_roundtrip_property",
            "test_zigzag_varint_roundtrip"]),
    C("2.1", "Formats protobuf/seqfile/compress/confluent",
      gates=["format_protobuf_roundtrip", "format_sequence_file_roundtrip",
             "format_compressed_write", "format_avro_confluent_roundtrip"]),
    C("2.1", "DataGen source (random + sequence)",
      gates=["ddl_datagen_sequence"], tests=["test_catalog"], sf1_fixed=True),
    C("2.1", "Print / Blackhole sinks", tests=["test_formats"]),
    C("2.1", "Values connector", gates=["values_inline"], sf1_fixed=True),
    C("2.1", "Rate / socket sources", tests=["test_catalog"]),
    C("2.1", "Unified Sink V2 / upsert sinks (PK contract)",
      gates=["stream_upsert_materialize", "ddl_upsert_sink"],
      crash=["test_restore_upsert_materialize_sink"]),
    C("2.1", "Bounded DataStream scan / fluent Table API pipeline",
      gates=["datastream_pipeline", "tableapi_pricing_summary"],
      tests=["test_datastream", "test_table_api"]),
    C("2.1", "Hybrid source (backfill->live)",
      gates=["hybrid_source_backfill"], tests=["test_hybrid_source"]),
    C("2.1", "DataStream API V2 (FLIP-408/409/410)",
      gates=["datastream_v2_pipeline"], tests=["test_datastream_v2"]),
    # §2.2 Calc (3)
    C("2.2", "Calc (fused project+filter)",
      gates=["tpch_q6_forecast_revenue"],
      fuzz=["test_expression_compositions_agree",
            "test_date_compositions_agree", "test_array_functions_agree"]),
    C("2.2", "Async calc", gates=["async_calc_enrich"],
      fuzz=["test_async_calc_matches_sync_map"]),
    C("2.2", "Expand (grouping sets)",
      gates=["agg_grouping_sets", "agg_cube", "agg_rollup"],
      fuzz=["test_grouping_sets_agree"]),
    # §2.3 Joins (15)
    C("2.3", "Hash / SMJ / broadcast / adaptive",
      gates=["tpch_q3_shipping_priority", "tpch_q9_product_type_profit"],
      fuzz=["test_join_fragment_agree"], tests=["test_adaptive"]),
    C("2.3", "All join types + null-aware anti (+subquery planning)",
      gates=["join_left_outer", "join_right_outer", "join_full_outer",
             "join_left_semi", "join_left_anti", "join_null_aware_anti",
             "join_cross", "scalar_subquery", "correlated_exists_having"],
      fuzz=["test_join_fragment_agree",
            "test_correlated_scalar_subquery_agree",
            "test_subquery_fragment_agree"]),
    C("2.3", "Theta / non-equi join", gates=["join_theta_band"],
      fuzz=["test_theta_band_join_agree"]),
    C("2.3", "Skew salting + AQE skew split",
      gates=["join_salted_skew", "join_skew_salted"],
      fuzz=["test_salted_join_matches_plain_join"],
      tests=["test_adaptive"]),
    C("2.3", "Join hints (BROADCAST/SHUFFLE_*/LOOKUP)",
      gates=["join_hints_gate"]),
    C("2.3", "Regular streaming join w/ retractions",
      gates=["stream_upsert_materialize"],
      crash=["test_restore_changelog_normalize",
             "test_restore_upsert_materialize_sink"]),
    C("2.3", "Semi/anti streaming join",
      gates=["join_left_semi", "join_left_anti", "join_null_aware_anti"],
      fuzz=["test_subquery_fragment_agree"]),
    C("2.3", "Multi-way streaming join",
      gates=["stream_multiway_join"], crash=["test_restore_multiway_join"]),
    C("2.3", "Interval join (inner + outer)",
      gates=["stream_interval_join", "stream_interval_join_left",
             "interval_join_events"],
      fuzz=["test_interval_join_matches_bruteforce"],
      crash=["test_restore_stream_interval_join"]),
    C("2.3", "Window join (+session-window join)",
      gates=["window_join_events", "stream_window_join",
             "session_window_join", "stream_session_window_join"],
      fuzz=["test_window_join_matches_model"],
      crash=["test_restore_stream_window_join"]),
    C("2.3", "Temporal / as-of join (+SQL spellings)",
      gates=["asof_join_events", "temporal_table_function_sql"],
      fuzz=["test_asof_join_matches_bruteforce"]),
    C("2.3", "Lookup join sync/async/cached/retry",
      gates=["lookup_join_events", "async_lookup_join_events",
             "stream_static_lookup_join"],
      fuzz=["test_lookup_join_matches_model",
            "test_async_lookup_join_matches_sync_model"],
      crash=["test_restore_lookup_join_cache"]),
    C("2.3", "Delta join (±TTL, replay-exact)",
      gates=["stream_delta_join", "stream_delta_join_left",
             "stream_delta_join_full", "stream_delta_join_ttl"],
      fuzz=["test_delta_join_matches_batch_interval_join"],
      crash=["test_restore_delta_join",
             "test_deltajoin_ttl_compaction_crash_exact_on_object_store"]),
    C("2.3", "Lateral snapshot / temporal table fn",
      gates=["temporal_table_function_sql"], tests=["test_catalog"]),
    C("2.3", "Delta-join rewrite detection", tests=["test_deltajoin"]),
    # §2.4 Aggregations (10)
    C("2.4", "Hash/sort agg, partial/final",
      gates=["tpch_q1_pricing_summary"],
      fuzz=["test_grouped_aggregates_agree"]),
    C("2.4", "Streaming group agg, retracting (±TTL)",
      gates=["stream_group_agg_retract", "stream_group_agg_retract_ttl"],
      fuzz=["test_group_agg_retract_matches_replay_model"],
      crash=["test_restore_group_agg_retract"]),
    C("2.4", "MiniBatch / local-global / incremental", native=True),
    C("2.4", "Distinct agg + split-distinct",
      gates=["agg_split_distinct", "agg_distinct_mix"],
      fuzz=["test_distinct_filtered_aggregates_agree"]),
    C("2.4", "Grouping sets/cube/rollup/GROUPING_ID/GROUP_ID",
      gates=["agg_grouping_sets", "agg_cube", "agg_rollup",
             "agg_grouping_id", "agg_group_id", "pivot_status"],
      fuzz=["test_grouping_sets_agree", "test_group_id_duplicate_sets_model",
            "test_group_id_insert_prologue_structure"]),
    C("2.4", "Builtin aggs + variance family",
      gates=["agg_stddev_var_exact", "agg_variance_family",
             "agg_min_max_by", "agg_listagg"],
      fuzz=["test_grouped_aggregates_agree"]),
    C("2.4", "Imperative aggs (percentile/multiset/JSON aggs)",
      gates=["agg_percentile_family", "agg_json_objectagg",
             "agg_collect_multiset"],
      fuzz=["test_percentile_matches_interpolation_model"]),
    C("2.4", "approx_count_distinct (HLL++)",
      gates=["agg_approx_count_distinct"],
      fuzz=["test_approx_count_distinct_error_bound"]),
    C("2.4", "Bitmap agg/scalar family",
      gates=["agg_bitmap_build", "agg_bitmap_ops",
             "agg_bitmap_merge_family"],
      fuzz=["test_bitmap_family_matches_set_model"],
      tests=["test_bitmap"]),
    C("2.4", "Table aggregate (UDTAF)",
      gates=["agg_table_agg_top2"],
      fuzz=["test_udtaf_top2_matches_model"], tests=["test_udf"]),
    # §2.5 Window TVFs (5)
    C("2.5", "TUMBLE/HOP/SESSION/CUMULATE (+SQL TVF spellings)",
      fuzz=["test_window_tvfs_match_model",
            "test_session_window_matches_merge_model"],
      gates=["window_tumble", "window_hop", "window_session",
             "window_cumulate", "stream_tumble_agg", "stream_hop_agg",
             "stream_session_agg", "stream_cumulate_agg",
             "stream_session_dynamic_gap", "window_session_tvf_sql"],
      crash=["test_restore_window_tumble_agg",
             "test_restore_session_window_agg"]),
    C("2.5", "Legacy group windows (GROUP BY TUMBLE/HOP/SESSION)",
      gates=["window_tumble_legacy_sql", "window_session_legacy_sql"],
      fuzz=["test_window_tvfs_match_model",
            "test_session_window_matches_merge_model"]),
    C("2.5", "Count windows + window offset",
      gates=["window_count_tumble", "window_tumble_offset"],
      fuzz=["test_count_window_and_evictors_match_model",
            "test_window_tvfs_match_model"]),
    C("2.5", "Evictors (time/count/delta)",
      gates=["window_time_evictor", "window_count_evictor",
             "window_delta_evictor"],
      fuzz=["test_count_window_and_evictors_match_model"]),
    C("2.5", "Window rank / dedup / join",
      gates=["window_topn", "window_dedup", "stream_window_topn",
             "stream_window_dedup"],
      fuzz=["test_window_join_matches_model",
            "test_window_tvfs_match_model"],
      crash=["test_restore_window_topn_straddle",
             "test_restore_window_dedup_straddle"]),
    # §2.6 Over windows (3)
    C("2.6", "Batch over agg, all frames",
      gates=["over_running_rows_frame", "over_sliding_rows_frame",
             "over_range_interval_frame"],
      fuzz=["test_over_window_compositions_agree"]),
    C("2.6", "Ranking functions (all 10)",
      gates=["over_rank_suite", "over_ntile_cume_percent",
             "over_lead_lag_first_last"],
      fuzz=["test_over_window_compositions_agree"]),
    C("2.6", "Streaming over agg ({ROWS,RANGE} x bounds)",
      gates=["stream_over_rows", "stream_over_rows_bounded",
             "stream_over_range_bounded"],
      fuzz=["test_streaming_over_rows_matches_prefix_model"],
      crash=["test_restore_streaming_over_agg"]),
    # §2.7 Rank / TopN / dedup (6)
    C("2.7", "Batch rank/TopN (+salted two-phase)",
      gates=["topn_per_group", "lateral_topk_per_nation",
             "topn_variable_rank_range"],
      fuzz=["test_salted_top_n_matches_plain"]),
    C("2.7", "Streaming TopN ±TTL (retracting)",
      gates=["stream_topn_changelog", "stream_topn_ttl"],
      fuzz=["test_streaming_topn_changelog_net_state_matches_batch"],
      crash=["test_restore_streaming_topn"]),
    C("2.7", "Dedup keep-first/keep-last (+TTL, JVM store form)",
      gates=["dedup_keep_first", "dedup_keep_last", "stream_dedup_first",
             "stream_dedup_first_ttl", "stream_dedup_first_tws"],
      fuzz=["test_dedup_keep_first_matches_arrival_model"],
      crash=["test_checkpoint_restore_dedup_keep_first",
             "test_dedup_compaction_crash_exact_on_object_store"]),
    C("2.7", "Changelog normalize (+from/to-changelog bridges)",
      gates=["stream_changelog_normalize", "changelog_from_changelog",
             "changelog_to_changelog"],
      fuzz=["test_changelog_normalize_matches_replay_model"],
      crash=["test_restore_changelog_normalize"]),
    C("2.7", "CDC envelopes (debezium/canal/maxwell/ogg; stateless decode)",
      gates=["cdc_debezium_materialize", "cdc_ogg_materialize"],
      fuzz=["test_cdc_envelopes_match_state_model"],
      tests=["test_streaming"], stateless=True),
    C("2.7", "Drop update-before (stateless rowkind filter)",
      gates=["stream_drop_update_before"],
      fuzz=["test_drop_update_before_matches_filter_model"],
      stateless=True),
    # §2.8 Sort / limit (4)
    C("2.8", "Full sort / sort-limit / limit / offset",
      gates=["sort_limit_offset"],
      fuzz=["test_sort_limit_offset_agree"]),
    C("2.8", "Streaming temporal sort ±TTL",
      gates=["stream_temporal_sort", "stream_temporal_sort_ttl"],
      fuzz=["test_temporal_sort_matches_seq_model"],
      crash=["test_restore_temporal_sort"]),
    C("2.8", "Streaming sort-limit (changelog TopN form)",
      gates=["stream_topn_changelog"],
      fuzz=["test_streaming_topn_changelog_net_state_matches_batch"],
      crash=["test_restore_streaming_topn"]),
    C("2.8", "Proc-time sort", tests=["test_streaming"]),
    # §2.9 Set ops (3)
    C("2.9", "UNION [ALL]", gates=["set_union_distinct"],
      fuzz=["test_set_operations_agree"]),
    C("2.9", "INTERSECT [ALL]", gates=["set_intersect", "set_intersect_all"],
      fuzz=["test_set_operations_agree"]),
    C("2.9", "EXCEPT [ALL]", gates=["set_except_all", "set_except_distinct"],
      fuzz=["test_set_operations_agree"]),
    # §2.10 Correlate / UDTF / unnest (4)
    C("2.10", "Correlate / lateral table function",
      gates=["lateral_topk_per_nation"],
      fuzz=["test_unnest_lateral_agree"], tests=["test_udf"]),
    C("2.10", "UNNEST (+ORDINALITY)",
      gates=["unnest_words", "unnest_with_ordinality"],
      fuzz=["test_unnest_lateral_agree"]),
    C("2.10", "Process Table Function", gates=["ptf_event_gaps"],
      fuzz=["test_ptf_batch_matches_model"]),
    C("2.10", "Replicate rows (changelog expansion)", native=True),
    # §2.11 CEP (3)
    C("2.11", "CEP NFA (quantifiers/within/skip)",
      gates=["cep_browse_then_buy", "cep_click_purchase_adjacent",
             "cep_error_burst", "cep_abandoned_click", "cep_error_triples",
             "cep_alternation_funnel", "cep_clean_conversion"],
      fuzz=["test_incremental_equals_batch_with_cutoff"],
      tests=["test_cep"]),
    C("2.11", "Streaming CEP + timeout/TTL",
      gates=["stream_cep_click_purchase", "stream_cep_timeout",
             "stream_cep_ttl"],
      crash=["test_restore_streaming_cep"]),
    C("2.11", "MATCH_RECOGNIZE SQL",
      gates=["sql_match_all_rows_pairs", "sql_match_subset_union"],
      fuzz=["test_render_parse_roundtrip",
            "test_garbage_never_crashes_unhandled"],
      tests=["test_sql_match"]),
    # §2.12 Scalar function library (12 families)
    C("2.12", "String / regexp family",
      gates=["fn_string_suite", "fn_regexp_suite", "fn_string_extra_suite"],
      fuzz=["test_expression_compositions_agree"], sf1_fixed=True),
    C("2.12", "Math / bitwise / numeric-extra family",
      gates=["fn_math_suite", "fn_bitwise_suite", "fn_numeric_extra_suite",
             "fn_trig_hyper_suite"],
      fuzz=["test_expression_compositions_agree"], sf1_fixed=True),
    C("2.12", "Temporal family (+OVERLAPS, CONVERT_TZ)",
      gates=["fn_datetime_suite", "fn_temporal_extract_suite",
             "fn_overlaps_suite"],
      fuzz=["test_date_compositions_agree",
            "test_overlaps_executes_and_matches_model",
            "test_overlaps_rewrite_structure"], sf1_fixed=True),
    C("2.12", "Conditional / comparison family",
      gates=["fn_conditional_suite", "fn_misc_suite"],
      fuzz=["test_expression_compositions_agree"], sf1_fixed=True),
    C("2.12", "Array / map / collection family",
      gates=["fn_array_suite", "fn_map_suite"],
      fuzz=["test_array_functions_agree"], sf1_fixed=True),
    C("2.12", "JSON family (construct/query/JSON_TABLE/variant)",
      gates=["fn_json_suite", "fn_json_suite2", "fn_json_construct_suite",
             "fn_json_table", "fn_json_variant_suite"],
      fuzz=["test_get_json_object_matches_python_json"],
      tests=["test_jsontable"], sf1_fixed=True),
    C("2.12", "Hash / URL / inet / codec / random family",
      gates=["fn_hash_json_random_suite", "fn_url_inet_suite"],
      fuzz=["test_rand_integer_rewrite_structure",
            "test_rand_integer_nested_executes"]),
    C("2.12", "Type-precision corners (DECIMAL38/CHAR/TIMESTAMP(n))",
      gates=["fn_type_precision_suite"],
      fuzz=["test_precision_cast_rewrite_structure",
            "test_precision_cast_char_model",
            "test_precision_cast_ntz_truncation_tz_independent",
            "test_precision_cast_property"], sf1_fixed=True),
    C("2.12", "ML_PREDICT / ML_EVALUATE / MODEL DDL",
      gates=["ml_predict_linear", "ml_predict_sql", "ml_evaluate_metrics"],
      fuzz=["test_ml_predict_matches_numpy_model"],
      tests=["test_models"]),
    C("2.12", "VECTOR_SEARCH (SQL TVF + ANN routing)",
      gates=["llm_vector_search_sql", "llm_vector_search_sql_ann"],
      fuzz=["test_brute_force_topk_matches_numpy"]),
    C("2.12", "[NOT] IN three-valued dialect rewrite (value-position, "
              "disjunctive, tuple probes)",
      gates=["sql_not_in_disjunctive", "sql_not_in_projected",
             "sql_not_in_tuple"],
      fuzz=["test_subquery_fragment_agree",
            "test_subquery_value_position_agree",
            "test_boolean_tree_subquery_predicates_agree",
            "test_tuple_in_value_position_agree",
            "test_tuple_in_filter_agree",
            "test_boolean_tree_tuple_quantified_agree",
            "test_known_deviation_not_in_subquery_under_or",
            "test_known_deviation_not_in_subquery_value_position",
            "test_known_deviation_complementary_subquery_dedup",
            "test_known_deviation_tuple_not_in_subquery",
            "test_not_in_rewrite_scope", "test_subquery_rewrites_are_fixpoints"]),
    C("2.12", "Quantified comparisons ANY/SOME/ALL (+correlated)",
      gates=["sql_quantified_any_all", "sql_quantified_correlated"],
      fuzz=["test_quantified_comparison_agree",
            "test_correlated_quantified_agree",
            "test_known_deviation_duckdb_correlated_any",
            "test_quantified_cmp_rewrite_scope",
            "test_quantified_correlated_executes",
            "test_quantified_unsupported_shape_clean_error"]),
    # §2.13 Streaming machinery (14)
    C("2.13", "Watermarks (bounded out-of-orderness)",
      gates=["stream_current_watermark"],
      crash=["test_restore_watermark_survives_restart"],
      tests=["test_streaming"]),
    C("2.13", "Watermark strategy DDL",
      gates=["ddl_watermark_strategies"], sf1_fixed=True),
    C("2.13", "STATE_TTL hint", gates=["hint_state_ttl_gate"],
      fuzz=["test_state_ttl_accepts_reference_labels",
            "test_state_ttl_rejects_unknown_labels",
            "test_state_ttl_excision_preserves_siblings"], sf1_fixed=True),
    # idleness/alignment are per-drain watermark-valve TRACES (fresh
    # checkpoint per invocation by design); the durable-restart
    # watermark mechanism itself is pinned by
    # test_restore_watermark_survives_restart
    C("2.13", "Source idleness (per-drain trace)",
      gates=["stream_source_idleness"], stateless=True),
    C("2.13", "Watermark alignment (per-drain trace)",
      gates=["stream_watermark_alignment"], stateless=True),
    C("2.13", "Keyed state + timers",
      gates=["ptf_event_gaps"],
      fuzz=["test_ptf_batch_matches_model"], tests=["test_twstate"]),
    C("2.13", "Checkpointing / state backends / state reader",
      gates=["stream_state_reader"],
      crash=["test_checkpoint_restore_dedup_keep_first"],
      tests=["test_restore", "test_state_reader"]),
    C("2.13", "Late data + side output",
      gates=["stream_late_side_output"],
      crash=["test_side_output_late_watermark_survives_restart"],
      tests=["test_streaming"]),
    C("2.13", "Trigger / emit-strategy DSL", tests=["test_triggers"]),
    C("2.13", "Async I/O (ordered/unordered)",
      gates=["async_lookup_join_events", "async_calc_enrich"],
      fuzz=["test_async_lookup_join_matches_sync_model",
            "test_async_calc_matches_sync_map"]),
    C("2.13", "Co-process / broadcast state",
      gates=["stream_coprocess_threshold"],
      crash=["test_rules_stream_steers_data_stream"],
      tests=["test_coprocess"]),
    C("2.13", "Exchange / partitioning", native=True),
    C("2.13", "Operator fusion / codegen", native=True,
      plan_kw="WholeStageCodegen"),
    C("2.13", "Runtime filter + dynamic partition pruning", native=True,
      plan_kw="runtime filter", tests=["test_adaptive"]),
    # §2.14 UDF surface (7)
    C("2.14", "ScalarFunction (+eval_batch)", tests=["test_udf"]),
    C("2.14", "TableFunction (lateral + native UDTF)", tests=["test_udf"]),
    C("2.14", "AggregateFunction (accumulate/retract/merge)",
      tests=["test_udf"]),
    C("2.14", "TableAggregateFunction",
      gates=["agg_table_agg_top2"],
      fuzz=["test_udtaf_top2_matches_model"], tests=["test_udf"]),
    C("2.14", "ProcessTableFunction", gates=["ptf_event_gaps"],
      fuzz=["test_ptf_batch_matches_model"]),
    C("2.14", "AsyncScalarFunction", gates=["async_calc_enrich"],
      fuzz=["test_async_calc_matches_sync_map"]),
    C("2.14", "SQL function DDL (CREATE FUNCTION)",
      gates=["ddl_create_function_sql"], sf1_fixed=True),
    # §2.15 Statement surface (6)
    C("2.15", "DDL families (tables/catalogs/partitions/MT-schema)",
      gates=["ddl_catalog_module_roundtrip", "ddl_alter_partition_roundtrip",
             "ddl_mt_schema_roundtrip", "ddl_connection_roundtrip",
             "ctas_roundtrip", "ddl_distributed_join",
             "materialized_table_refresh"],
      fuzz=["test_render_parse_roundtrip"],
      tests=["test_catalog", "test_mt_schema_ddl",
             "test_mt_schema_parser_props"]),
    C("2.15", "INSERT + row-level DELETE/UPDATE",
      gates=["ddl_delete_update_roundtrip", "ddl_pk_upsert_dml"],
      fuzz=["test_delete_update_match_duckdb",
            "test_insert_body_gets_subquery_rewrites",
            "test_insert_body_null_capable_complement_standard"]),
    C("2.15", "Statement sets / modules",
      gates=["ddl_statement_set"], tests=["test_catalog"], sf1_fixed=True),
    C("2.15", "COMPILE PLAN v2 + migrate-on-load",
      gates=["ddl_compile_execute_plan"], tests=["test_catalog"], sf1_fixed=True),
    C("2.15", "EXPLAIN plan advice / changelog mode",
      gates=["explain_plan_advice_gate", "explain_changelog_mode_gate"],
      tests=["test_plan_advice", "test_changelog_mode"], sf1_fixed=True),
    C("2.15", "SQL gateway REST (v4 path set)", tests=["test_gateway"]),
]

# LLM training-data pipeline pack (beyond-reference mandate; graded
# first-class by the driver alongside §2)
MANIFEST += [
    C("LLM", "Exact dedup (batch)", gates=["llm_dedup_exact"],
      fuzz=["test_exact_dedup_matches_normalization_model"]),
    C("LLM", "MinHash+LSH near-dup pairs/clusters/spans",
      gates=["llm_minhash_lsh_pairs", "llm_dedup_clusters",
             "pipe_passage_dedup"]),
    C("LLM", "Streaming incremental MinHash-LSH near-dup",
      gates=["stream_minhash_neardup", "stream_semantic_neardup"],
      crash=["test_neardup_stream_restore",
             "test_neardup_stream_replay_idempotent",
             "test_neardup_stream_crash_mid_batch",
             "test_semantic_neardup_stream_restore"],
      tests=["test_neardup_stream"]),
    C("LLM", "Streaming IVF index ingest",
      gates=["stream_ivf_ingest"],
      crash=["test_crash_exactness_ivf_ingest",
             "test_ivf_fold_crash_exact_on_object_store"],
      tests=["test_ann_stream"]),
    C("LLM", "Streaming PQ index ingest",
      gates=["stream_pq_ingest"],
      fuzz=["test_pq_topk_and_stream_index_match_two_stage_plan"],
      crash=["test_crash_exactness_pq_ingest",
             "test_pq_fold_crash_exact_on_object_store"]),
    C("LLM", "Streaming curation e2e (multi-store)",
      gates=["stream_curation_e2e", "pipe_curation_e2e"],
      crash=["test_crash_exactness_curation_stream",
             "test_curation_fold_crash_exact_on_object_store",
             "test_curation_stream_restore",
             "test_curation_stream_replay_idempotent"]),
    C("LLM", "JVM keep-first dedup (store form)",
      gates=["stream_dedup_first_tws"],
      crash=["test_dedup_compaction_crash_exact_on_object_store"],
      tests=["test_dedup_jvm"]),
    C("LLM", "ANN batch: brute/LSH/IVF/PQ (+recall gates)",
      gates=["llm_cosine_topk", "llm_lsh_topk", "llm_ivf_topk",
             "llm_pq_topk", "llm_lsh_recall_gate", "llm_ivf_recall_gate",
             "llm_pq_recall_gate"],
      fuzz=["test_brute_force_topk_matches_numpy",
            "test_pq_search_matches_two_stage_plan"],
      tests=["test_annsql"]),
    C("LLM", "SimHash / n-gram Jaccard / embedding-cosine near-dup",
      gates=["llm_simhash_pairs", "llm_ngram_jaccard_pairs",
             "llm_cosine_neardup_pairs"]),
    C("LLM", "k-means / semantic dedup (batch)",
      gates=["pipe_kmeans_clusters", "pipe_semantic_neardup"]),
    C("LLM", "Text analysis (lang-ID/quality/LM/TF-IDF)",
      gates=["llm_lang_id", "llm_quality_score", "pipe_unigram_logprob",
             "pipe_bigram_logprob", "pipe_interp_logprob",
             "pipe_tfidf_top_terms", "llm_token_stats",
             "llm_fingerprint"]),
    C("LLM", "Pipeline ops (normalize/PII/Gopher/decontaminate/packing)",
      gates=["pipe_normalize", "pipe_pii_redact", "pipe_quality_filter",
             "pipe_decontaminate", "pipe_sequence_pack",
             "pipe_sequence_pack_ranged", "pipe_vocab_top100",
             "pipe_stratified_sample", "pipe_source_mix",
             "pipe_longsubstring_spans", "pipe_longsubstring_filter",
             "pipe_url_dedup", "pipe_repetition_stats"]),
    C("LLM", "Multimodal image/audio/video features + near-dup",
      gates=["llm_multimodal_meta", "llm_multimodal_features",
             "llm_multimodal_decode", "llm_image_neardup",
             "llm_image_resize", "llm_video_dedup", "llm_video_frame_sample",
             "llm_audio_decode", "llm_audio_spectral",
             "llm_embedding_quantize", "llm_matryoshka_truncate"]),
    C("LLM", "Incremental dedup (batch-over-batches form)",
      gates=["pipe_incremental_dedup"]),
]


def _load():
    from flink_spark.queries.registry import QUERIES

    from bench import EXTRA, HEADLINE

    tests_src = ""
    for p in glob.glob(os.path.join(REPO, "tests", "*.py")):
        tests_src += open(p).read()
    baseline = open(os.path.join(REPO, "BASELINE.md")).read()
    plans = open(os.path.join(REPO, "PLANS.md")).read()
    sf1_named = set(
        re.findall(r"^\| ([a-z_0-9]+) \|", baseline, re.MULTILINE)
    )
    # prose ratio mentions ("tumble_agg 0.99×") use shortened names —
    # match them as suffixes of registered gate names
    sf1_prose = set(re.findall(r"([a-z_0-9]{4,}) [0-9.]+×", baseline))
    # the r8 headline sweep measured every headline query; the r9 third
    # wave closed the extras ("every bench extra now has a measured sf1
    # ratio") — plus any query with a named BASELINE row
    sf1_ok = set(HEADLINE) | set(EXTRA) | sf1_named
    for q in QUERIES:
        if q in sf1_ok:
            continue
        if any(q.endswith(p) or q == f"stream_{p}" for p in sf1_prose):
            sf1_ok.add(q)
    return QUERIES, tests_src, sf1_ok, plans


def check(manifest=MANIFEST):
    """Validate every manifest claim; return (errors, rows)."""
    QUERIES, tests_src, sf1_ok, plans = _load()
    errors, rows = [], []
    for c in manifest:
        for g in c.gates:
            if g not in QUERIES:
                errors.append(f"{c.name}: gate {g!r} not registered")
            elif QUERIES[g].oracle is None:
                errors.append(f"{c.name}: gate {g!r} has no oracle")
        for t in c.fuzz + c.crash:
            if f"def {t}" not in tests_src:
                errors.append(f"{c.name}: test fn {t!r} not found in tests/")
        for t in c.tests:  # module-level references: the FILE must exist
            if not os.path.exists(os.path.join(REPO, "tests", f"{t}.py")) \
                    and f"def {t}" not in tests_src:
                errors.append(f"{c.name}: test module {t!r} not found")
        has_sf1 = any(g in sf1_ok for g in c.gates)
        has_plan = bool(c.plan_kw and c.plan_kw in plans) or any(
            g in plans for g in c.gates
        )
        rows.append((c, has_sf1, has_plan))
    return errors, rows


#: Sections where differential/property fuzzing targets SEMANTICS (an
#: expression or operator family with an independent model to compare
#: against). Connector/DDL/UDF-plumbing sections get integration tests
#: instead — a missing fuzz surface there is low-value, ranked last.
_SEMANTIC_SECS = {"2.2", "2.3", "2.4", "2.5", "2.6", "2.7", "2.8",
                  "2.9", "2.10", "2.11", "2.12", "LLM"}


def gaps(rows):
    """Ranked evidence-gap list: the r13+ work queue. Severity:
    0 = stateful operator without crash/restore evidence (correctness
        at scale depends on it);
    1 = semantic operator family without a differential/property fuzz
        surface (the repo's highest-yield verification);
    2 = everything else (missing sf1 row on a data-bearing gate;
        fuzz on plumbing)."""
    out = []
    for c, has_sf1, has_plan in rows:
        if c.native:
            continue
        missing = []
        if not c.gates and not c.tests:
            missing.append("NO ARTIFACT")
        stateful = (not c.stateless
                    and any(g.startswith("stream_") for g in c.gates))
        if stateful and not c.crash:
            missing.append("stateful, no crash/restore evidence")
        if not c.fuzz:
            if c.sec in _SEMANTIC_SECS:
                missing.append("no fuzz surface")
            else:
                missing.append("no fuzz surface (plumbing; low value)")
        if c.gates and not has_sf1 and not c.sf1_fixed:
            missing.append("no sf1 row")
        if missing:
            sev = (0 if any(m.startswith("stateful") for m in missing)
                   else 1 if "no fuzz surface" in missing
                   else 2)
            out.append((sev, c.sec, c.name, missing))
    out.sort()
    return out


def emit(rows):
    cur = None
    print("| Component | gates | fuzz | crash/restore | sf1 | plan |")
    print("|---|---|---|---|---|---|")
    for c, has_sf1, has_plan in rows:
        if c.sec != cur:
            cur = c.sec
            print(f"| **§{c.sec}** | | | | | |")
        g = f"{len(c.gates)}" if c.gates else ("native" if c.native else "—")
        fz = f"{len(c.fuzz)}" if c.fuzz else "—"
        cr = f"{len(c.crash)}" if c.crash else "—"
        s1 = ("n/a" if c.sf1_fixed else "✓" if has_sf1 else "—")
        pl = "✓" if has_plan else "—"
        print(f"| {c.name} | {g} | {fz} | {cr} | {s1} | {pl} |")


def main():
    errors, rows = check()
    if errors:
        print("MANIFEST ERRORS:")
        for e in errors:
            print(" ", e)
        sys.exit(1)
    n_gates = sum(len(c.gates) for c, *_ in rows)
    print(f"{len(rows)} components ({len([r for r in rows if r[0].sec != 'LLM'])}"
          f" in §2), {n_gates} gate references — manifest verified clean")
    if "--emit" in sys.argv:
        emit(rows)
        print()
    print("Ranked evidence gaps (r13+ work queue):")
    for sev, sec, name, missing in gaps(rows):
        print(f"  [{sev}] §{sec} {name}: {'; '.join(missing)}")


if __name__ == "__main__":
    main()
