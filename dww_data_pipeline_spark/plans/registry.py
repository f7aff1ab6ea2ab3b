"""Query registry — the engine's declared correctness surface.

Every operator family from SURVEY §2 (plus the north-star LLM-pipeline
operators) registers one named query here: a Spark builder
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, the
equivalent DuckDB oracle SQL over the same parquet tables. The driver
hash-compares the two at sf0.01 (CORRECTNESS_r{N}.json).

Conventions that make the hash-compare deterministic:

* every computed column is aliased identically on both sides;
* money aggregates go through DECIMAL (exact, associative) and are
  cast to DOUBLE only at the end — float summation order can differ
  between engines, decimal summation cannot;
* temporal outputs are rendered as strings (``yyyy-MM-dd`` /
  ``yyyy-MM-dd HH:mm:ss``) on both sides;
* nested/array outputs are rendered as deterministic sorted strings
  (``concat_ws`` ↔ ``string_agg(... ORDER BY ...)``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: SparkBuilder
    oracle: str | None  # DuckDB SQL; None → non-SQL-expressible (rows-only check)
    description: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, description: str = ""):
    """Decorator: add a query to the registry."""

    def deco(fn: SparkBuilder) -> SparkBuilder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, description=description)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Emission order.
#
# The driver's correctness gate samples a PREFIX (~50) of the query dict
# per round, so emission order decides which queries get a differential
# CORRECTNESS row this round.  The list below is GENERATED: stalest
# driver proof first, so each round's sample refreshes the oldest
# regression evidence instead of re-verifying last round's sample.
# ---------------------------------------------------------------------------

# <!-- priority:begin (generated by tools/proof_ledger.py --rotate) -->
# Emission order = stalest driver proof first (never-proven, then
# oldest latest-proof round; ties in registry order). The ~50-query
# prefix below is what the next driver sample re-verifies. Regenerate
# with `python tools/proof_ledger.py --rotate` after each round's
# CORRECTNESS_r{N}.json lands (latest seen: r14); `--check` fails when stale.
_PRIORITY: list[str] = [
    "d25_span_scrub",  # proof: r8
    "f1_parse_credit_notes",  # proof: r8
    "f9_normalize_release_dates",  # proof: r8
    "f2_fuzzy_ratio",  # proof: r8
    "f4_blacklist_clean",  # proof: r8
    "f_string_suite",  # proof: r8
    "f_date_suite",  # proof: r8
    "f16_haversine",  # proof: r8
    "t1_token_stats",  # proof: r8
    "t2_quality_scores",  # proof: r8
    "t3_lang_id",  # proof: r8
    "t5_pii_scrub",  # proof: r8
    "t6_normalize",  # proof: r8
    "t7_chunking",  # proof: r8
    "t8_repetition_ratio",  # proof: r8
    "t9_hash_sample",  # proof: r8
    "t4_fingerprints",  # proof: r8
    "t35_bpe_encode",  # proof: r8
    "st1_tumbling_window",  # proof: r8
    "st2_sliding_window",  # proof: r8
    "st3_session_windows",  # proof: r8
    "st4_stream_dedup",  # proof: r8
    "st5_stateful_jumps",  # proof: r8
    "st7_hierarchical_rollup",  # proof: r8
    "st6_interval_join",  # proof: r8
    "d24_semantic_dedup_kmeans",  # proof: r8
    "p7_case_insensitive_match",  # proof: r8
    "j2_broadcast_dim_join",  # proof: r8
    "j4_chained_enrichment",  # proof: r8
    "j6_semi_join",  # proof: r8
    "j7_anti_join",  # proof: r8
    "j9_reverse_map",  # proof: r8
    "a4_earliest_date",  # proof: r8
    "a9_blacklist_hits",  # proof: r8
    "a10_distinct",  # proof: r8
    "o2_topk_count_desc",  # proof: r8
    "o5_first_per_group",  # proof: r8
    "u1_union_all",  # proof: r8
    "u2_union_distinct",  # proof: r8
    "u3_verified_split",  # proof: r8
    "s16_mmr_rerank",  # proof: r8
    "e11_kcenter_coreset",  # proof: r8
    "ev18_holt_linear",  # proof: r8
    "dq21_chi2_independence",  # proof: r8
    "s17_hard_negative_mining",  # proof: r8
    "ev19_cusum_changepoint",  # proof: r8
    "st16_stream_cusum",  # proof: r8
    "ev20_seasonal_indices",  # proof: r8
    "s18_rocchio_prf",  # proof: r8
    "pr9_harmonic_centrality",  # proof: r8
    "t11_token_rarity_score",  # proof: r9
    "e5_embedding_gram",  # proof: r9
    "d14_chunk_dedup",  # proof: r9
    "t18_bm25_retrieval",  # proof: r9
    "j11_range_join_binned",  # proof: r9
    "j13_interval_overlap_join",  # proof: r9
    "ext_scd2_history",  # proof: r9
    "dq6_numeric_profile",  # proof: r9
    "dq7_approx_distinct",  # proof: r9
    "m4_audio_features",  # proof: r9
    "t19_bigram_lm_score",  # proof: r9
    "ext_merge_upsert",  # proof: r9
    "dq8_fd_profile",  # proof: r9
    "j12_pit_join",  # proof: r9
    "pr1_supplier_pagerank",  # proof: r9
    "ext_json_props",  # proof: r9
    "d16_containment",  # proof: r9
    "d11_incremental_dedup",  # proof: r9
    "s5_ann_multiprobe_topk",  # proof: r9
    "e4_embedding_random_projection",  # proof: r9
    "s6_knn_graph",  # proof: r9
    "d12_dedup_report",  # proof: r9
    "d13_snapshot_diff",  # proof: r9
    "d15_semantic_dedup",  # proof: r9
    "t20_contamination_share",  # proof: r9
    "s7_ann_multitable_topk",  # proof: r9
    "d26_suffix_array_spans",  # proof: r9
    "d27_exactsubstr_scrub",  # proof: r9
    "t10_stratified_sample",  # proof: r9
    "dq1_null_profile",  # proof: r9
    "dq2_rule_violations",  # proof: r9
    "dq3_referential_orphans",  # proof: r9
    "s19_index_staleness_gate",  # proof: r9
    "w4_directional_in",  # proof: r9
    "w4_directional_out",  # proof: r9
    "w8_nested_documents",  # proof: r9
    "a6_density_report",  # proof: r9
    "q2_min_cost_supplier",  # proof: r9
    "q4_order_priority",  # proof: r9
    "q5_local_supplier_volume",  # proof: r9
    "q6_forecast_revenue",  # proof: r9
    "q8_market_share",  # proof: r9
    "q9_product_type_profit",  # proof: r9
    "q10_returned_items",  # proof: r9
    "q12_priority_counts",  # proof: r9
    "q14_promo_revenue",  # proof: r9
    "q15_top_supplier",  # proof: r9
    "q18_large_volume_customer",  # proof: r9
    "q19_discounted_revenue",  # proof: r9
    "q20_potential_promotion",  # proof: r9
    "st17_stream_contamination_gate",  # proof: r10
    "s21_graph_ann_walk",  # proof: r10
    "d28_ppjoin_exact",  # proof: r10
    "ev7_market_basket",  # proof: r10
    "dq13_k_anonymity",  # proof: r10
    "ev8_ewma_daily",  # proof: r10
    "t26_inverted_index",  # proof: r10
    "ext_salted_join",  # proof: r10
    "s10_pq_ann_topk",  # proof: r10
    "pr5_local_clustering",  # proof: r10
    "ext_bloom_prune_join",  # proof: r10
    "v5_heavy_hitters",  # proof: r10
    "t24_weighted_sample",  # proof: r10
    "pr4_triangle_count",  # proof: r10
    "ext_delete_propagate",  # proof: r10
    "t38_temperature_mixture",  # proof: r10
    "st18_stream_mixture_admission",  # proof: r10
    "m7_shot_boundaries",  # proof: r10
    "ev9_rfm_segments",  # proof: r10
    "ev10_gap_filled_daily",  # proof: r10
    "t12_winnowing_fingerprints",  # proof: r10
    "t13_corpus_filter_decision",  # proof: r10
    "t14_sequence_packing",  # proof: r10
    "t15_topic_buckets",  # proof: r10
    "t16_mixture_sample",  # proof: r10
    "t17_curriculum_deciles",  # proof: r10
    "t22_ngram_novelty",  # proof: r10
    "t21_corpus_shard",  # proof: r10
    "t37_gopher_repetition",  # proof: r10
    "c4_curation_exactsubstr",  # proof: r10
    "c5_curation_quality_stack",  # proof: r10
    "t36_tokenizer_artifact_parity",  # proof: r10
    "s20_tokenizer_staleness_gate",  # proof: r10
    "e7_kmeans_clusters",  # proof: r10
    "s8_reciprocal_nn",  # proof: r10
    "ev3_markov_transitions",  # proof: r10
    "dq9_entropy_profile",  # proof: r10
    "t23_dsir_importance",  # proof: r10
    "ev4_top_paths",  # proof: r10
    "v4_heaps_curve",  # proof: r10
    "dq10_numeric_corr",  # proof: r10
    "m3_video_frame_features",  # proof: r10
    "st8_stream_static_enrich",  # proof: r10
    "j10_full_outer",  # proof: r10
    "ext_grouping_sets",  # proof: r10
    "dq4_distribution_drift",  # proof: r10
    "dq5_skew_profile",  # proof: r10
    "ev21_holt_winters",  # proof: r10
    "q21_waiting_suppliers",  # proof: r10
    "q22_sales_opportunity",  # proof: r10
    "dq20_hll_merge_gate",  # proof: r11
    "d1_exact_dedup_groups",  # proof: r11
    "d2_minhash_lsh_pairs",  # proof: r11
    "d6_dup_components",  # proof: r11
    "d7b_embedding_lsh_oracle",  # proof: r11
    "s4_ann_lsh_topk",  # proof: r11
    "s22_hnsw_descent",  # proof: r11
    "s23_nn_descent",  # proof: r11
    "s24_graph_ann_refined",  # proof: r11
    "c1_curation_pipeline",  # proof: r11
    "t39_c4_line_rules",  # proof: r11
    "s11_ivfpq_topk",  # proof: r11
    "t28_langid_confusion",  # proof: r11
    "j14_spatial_grid_join",  # proof: r11
    "e9_power_iteration_pc1",  # proof: r11
    "dq14_reconciliation",  # proof: r11
    "pr6_kcore",  # proof: r11
    "ev11_cohort_ltv",  # proof: r11
    "dq15_benford",  # proof: r11
    "j15_edit_distance_join",  # proof: r11
    "d18_lsh_recall_gate",  # proof: r11
    "s12_hybrid_rrf",  # proof: r11
    "m8_keyframes",  # proof: r11
    "dq16_schema_inventory",  # proof: r11
    "t30_bpe_merge_step",  # proof: r11
    "t35b_encode_top_from_store",  # proof: r11
    "c6_tokenizer_lifecycle",  # proof: r11
    "st19_stream_tokenizer_oov",  # proof: r11
    "ev12_ab_test",  # proof: r11
    "dq17_pk_uniqueness",  # proof: r11
    "c2_data_card",  # proof: r11
    "dq11_approx_percentile_gate",  # proof: r11
    "pr2_supplier_hits",  # proof: r11
    "st9_stream_cms_hitters",  # proof: r11
    "st10_session_paths",  # proof: r11
    "st11_stream_ab_moments",  # proof: r11
    "m5_image_ahash_dedup",  # proof: r11
    "u4_bag_ops",  # proof: r11
    "d17_softdedup_weights",  # proof: r11
    "t25_tokenizer_fertility",  # proof: r11
    "t25b_fertility_from_store",  # proof: r11
    "ev5_anomaly_days",  # proof: r11
    "ext_zorder_key",  # proof: r11
    "e8_feature_hashing",  # proof: r11
    "dq12_bootstrap_ci",  # proof: r11
    "ev6_last_touch_attribution",  # proof: r11
    "pr3_supplier_communities",  # proof: r11
    "s9_ann_recall_gate",  # proof: r11
    "m6_audio_vad",  # proof: r11
    "c8_ann_index_lifecycle",  # proof: r11
    "ext_window_suite",  # proof: r12
    "ext_cube_counts",  # proof: r12
    "dq17_embedding_psi",  # proof: r12
    "st22_stream_embedding_psi",  # proof: r12
    "d10_decontamination",  # proof: r12
    "st13_stream_incremental_dedup",  # proof: r12
    "d20_substring_spans",  # proof: r12
    "s25_clustered_recall_gate",  # proof: r12
    "t40_sequence_packing",  # proof: r12
    "st21_stream_packing",  # proof: r12
    "d6b_components_star",  # proof: r12
    "s15_ann_probe_curve",  # proof: r12
    "s2_ann_ivf_topk",  # proof: r12
    "m1_multimodal_features",  # proof: r12
    "m2_video_frame_dedup",  # proof: r12
    "a1_pricing_summary",  # proof: r12
    "p1_projection_filter",  # proof: r12
    "j1_star_join",  # proof: r12
    "st20_stream_ann_drift",  # proof: r12
    "w1_jumps",  # proof: r12
    "w5_dummy_departures",  # proof: r12
    "a5_density",  # proof: r12
    "d19_url_dedup",  # proof: r12
    "ext_compaction_plan",  # proof: r12
    "m9_audio_fingerprint",  # proof: r12
    "s13_bitext_margin",  # proof: r12
    "ev13_funnel_steps",  # proof: r12
    "ev14_retention_matrix",  # proof: r12
    "ext_skipping_report",  # proof: r12
    "t31_classifier_filter",  # proof: r12
    "st12_stream_funnel",  # proof: r12
    "dq18_completeness_blocks",  # proof: r12
    "v6_zipf_slope",  # proof: r12
    "e10_jl_distortion_gate",  # proof: r12
    "s14_filtered_ann",  # proof: r12
    "ext_wap_audit",  # proof: r12
    "ext_scd2_asof",  # proof: r12
    "j16_nearest_event_join",  # proof: r12
    "ev16_stickiness",  # proof: r12
    "m10_decode_audit",  # proof: r12
    "d21_pair_similarity_hist",  # proof: r12
    "pr7_khop_reachability",  # proof: r12
    "dq19_l_diversity",  # proof: r12
    "t32_token_budget_plan",  # proof: r12
    "ext_ivm_merge",  # proof: r12
    "d22_minhash_calibration",  # proof: r12
    "ext_unpivot_roundtrip",  # proof: r12
    "v7_simpson_diversity",  # proof: r12
    "pr8_degree_assortativity",  # proof: r12
    "ev17_pattern_match",  # proof: r12
    "ext_percentiles",  # proof: r14
    "q13_customer_distribution",  # proof: r14
    "q16_supplier_part_counts",  # proof: r14
    "q7_volume_shipping",  # proof: r14
    "q11_important_parts",  # proof: r14
    "ext_asof_join",  # proof: r14
    "a6b_density_pivot",  # proof: r14
    "q17_small_quantity_revenue",  # proof: r14
    "ext_range_frame",  # proof: r14
    "ext_unpivot",  # proof: r14
    "ev1_funnel",  # proof: r14
    "ev2_retention",  # proof: r14
    "v1_vocabulary_topk",  # proof: r14
    "v2_bigram_topk",  # proof: r14
    "e1_embedding_dim_stats",  # proof: r14
    "e2_embedding_quantize_int8",  # proof: r14
    "v3_tfidf_topk",  # proof: r14
    "e3_embedding_normalize",  # proof: r14
    "e6_pca_project",  # proof: r14
    "dq22_embedding_psi",  # proof: r14
    "t34_kneser_ney_score",  # proof: r14
    "d23_cdc_chunking",  # proof: r14
    "st15_stream_lm_score",  # proof: r14
    "c3_perplexity_mixture",  # proof: r14
    "d3_ngram_jaccard",  # proof: r14
    "d8_dedup_pipeline",  # proof: r14
    "d4_simhash",  # proof: r14
    "d5_embedding_near_dups",  # proof: r14
    "s1_ann_brute_force_topk",  # proof: r14
    "s3_ann_range_search",  # proof: r14
    "d9_dedup_keep_best",  # proof: r14
    "s26_serving_clustered_recall",  # proof: r14
    "t33_bpe_train",  # proof: r14
    "d7_embedding_lsh_near_dups",  # proof: r14
    "a3_search_mappings",  # proof: r14
    "p3_compound_filter",  # proof: r14
    "p4_having_filter",  # proof: r14
    "o6_depth_limit",  # proof: r14
    "p5_sentinel_filter",  # proof: r14
    "w7_empty_group_removal",  # proof: r14
    "a7_merge_sum_by_cleaned_key",  # proof: r14
    "set_intersect_except",  # proof: r14
    "f_geo_interp_suite",  # proof: r14
    "q3_shipping_priority",  # proof: r14
    "ext_rollup_counts",  # proof: r14
    "ext_approx_distinct",  # proof: r14
    "w2_run_lengths",  # proof: r14
    "w3_consecutive_pairs",  # proof: r14
    "st14_stream_pattern_match",  # proof: r14
    "ext_orc_roundtrip",  # proof: r14
]
# <!-- priority:end -->


def _ordered_names() -> list[str]:
    pri = [n for n in _PRIORITY if n in REGISTRY]
    pset = set(pri)
    return pri + [n for n in REGISTRY if n not in pset]


def all_queries() -> dict[str, SparkBuilder]:
    _load_all()
    return {name: REGISTRY[name].spark for name in _ordered_names()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import all plan modules (they self-register)."""
    global _LOADED
    if _LOADED:
        return
    from dww_data_pipeline_spark.plans import (  # noqa: F401
        analytics_ext,
        corpus_plans,
        curation_plans,
        dedup_plans,
        mining_plans,
        pipeline_ext,
        pipeline_ext2,
        relational,
        relational2,
        selection_plans,
        sequence_plans,
        streaming_plans,
        text_plans,
        tpch2,
        web_plans,
    )

    _LOADED = True
