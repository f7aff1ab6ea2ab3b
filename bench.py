"""Benchmark harness — runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": <sf>}

followed by one COMPACT line (headline value only, no per-query dict)
so harnesses that keep only the tail of stdout still capture a
parseable headline.

Each query executes fully via the noop sink (no driver collect cost,
no result materialization skew) after a warm-up of the session.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.abspath(__file__))


def _current_round() -> int:
    """Round number for the durable per-query artifact.

    The driver's stdout capture keeps only a ~2000-char tail, which the
    full per-query dict outgrew in round 4 — so each bench run also
    writes BENCH_LOCAL_r{N}.json into the repo.  N is the round being
    built: one past the newest driver-recorded BENCH_r{N}.json
    (overridable via SPARK_GRAFT_ROUND).
    """
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    # per-query side files (BENCH_r13_c8.json) share the glob but
    # carry no round of their own
    matches = (
        re.search(r"_r(\d+)\.json$", p)
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
    )
    rounds = [int(m.group(1)) for m in matches if m]
    return (max(rounds) + 1) if rounds else 1

# Headline set: one per operator family, weighted toward the
# shuffle/window/join paths that dominate at scale.
HEADLINE = [
    "a1_pricing_summary",      # scan + filter + decimal agg
    "j1_star_join",            # fact⋈fact⋈3 dims
    "w1_jumps",                # window change-point
    "a5_density",              # window + explode(sequence) + agg
    "w8_nested_documents",     # collect_list document assembly
    "o5_first_per_group",      # row_number top-1
    "d1_exact_dedup_groups",   # fingerprint dedup
    "d2_minhash_lsh_pairs",    # minhash LSH self-join
    "d4_simhash",              # explode + 32-way vote agg
    "t2_quality_scores",       # text-analysis expressions
    "s1_ann_brute_force_topk", # vector math + per-query topk (baseline)
    "st1_tumbling_window",     # event-time window agg
    "st3_session_windows",     # session windows
    "q3_shipping_priority",    # selective dim filter + 2 fact joins + topk
    "t7_chunking",             # token-window chunking explode
    "d6_dup_components",       # iterative label propagation
    "st5_stateful_jumps",      # applyInPandasWithState path
]

# Newer queries benched alongside but EXCLUDED from the headline total:
# the 17-query set above is frozen for round-over-round comparability
# (rounds 1-2 recorded totals over exactly that set). These land in the
# per-query dict so the scale paths still have recorded numbers.
EXTRA = [
    "s4_ann_lsh_topk",          # bucket-pruned ANN (the verified scale path)
    "s5_ann_multiprobe_topk",   # multi-probe variant
    "d7b_embedding_lsh_oracle", # bucket-pruned embedding near-dup
    "d10_decontamination",      # eval-set n-gram overlap
    "d11_incremental_dedup",    # snapshot-vs-corpus dedup
    "t11_token_rarity_score",   # corpus-model quality scoring
    "e4_embedding_random_projection",  # 64->16 JL projection (no shuffle)
    "s6_knn_graph",             # bucketed all-vectors top-k edges
    "t12_winnowing_fingerprints",  # rolling-hash winnowing
    "t13_corpus_filter_decision",  # composite filter gate
    "t14_sequence_packing",     # two-phase prefix-sum packing
    "d12_dedup_report",         # dup-group audit over CC labels
    "m3_video_frame_features",  # one-pass video frame features
    "t15_topic_buckets",        # taxonomy bucketing for data mixing
    "t16_mixture_sample",       # deterministic per-topic admission
    "t17_curriculum_deciles",   # per-source quality deciles
    "d13_snapshot_diff",        # cross-snapshot corpus delta
    "e5_embedding_gram",        # fixed-point 64x64 second-moment matrix
    "dq5_skew_profile",         # heavy-hitter join-key diagnosis
    "e6_pca_project",           # Gram -> eigh -> PCA quality contract + Bessel scan
    # round 4
    "d14_chunk_dedup",          # span-level first-occurrence dedup
    "t18_bm25_retrieval",       # BM25 topical mining
    "j11_range_join_binned",    # keyless range join via time-binning
    "ext_scd2_history",         # SCD type-2 CDC compaction
    "ext_merge_upsert",         # MERGE INTO with broadcast changeset
    "dq6_numeric_profile",      # fixed-point numeric column profile
    "dq7_approx_distinct",      # HLL accuracy gate
    "dq8_fd_profile",           # functional-dependency profiling
    "t19_bigram_lm_score",      # bigram-LM perplexity quality filter
    "m4_audio_features",        # A16 audio decode + window features
    "d15_semantic_dedup",       # SemDeDup: LSH pairs -> components -> keep-one
    "t20_contamination_share",  # graded eval-overlap report
    "st8_stream_static_enrich", # broadcast dim enrich + windowed agg
    "j12_pit_join",             # point-in-time feature join (asof carry)
    "pr1_supplier_pagerank",    # iterative weighted PageRank (5 rounds)
    "ext_json_props",           # schema-on-read JSON profiling
    "s7_ann_multitable_topk",   # L=2 hash-table LSH recall union
    "t21_corpus_shard",         # deterministic training-shard manifest
    "t22_ngram_novelty",        # intra-corpus boilerplate pressure
    "d16_containment",          # asymmetric near-superset detection
    "j13_interval_overlap_join",  # interval-x-interval binned join
    # round-4b mining tier
    "e7_kmeans_clusters",       # exact-integer Lloyd k-means
    "s8_reciprocal_nn",         # mutual-kNN pairs over s6
    "ev3_markov_transitions",   # journey transition matrix
    "ev4_top_paths",            # top-10 3-event journey prefixes
    "dq9_entropy_profile",      # histogram-derived column entropy
    "dq10_numeric_corr",        # exact-moment Pearson correlations
    "dq11_approx_percentile_gate",  # quantile-sketch contract gate
    "t23_dsir_importance",      # DSIR target/raw log-likelihood ratio
    "pr2_supplier_hits",        # fixed-point HITS hubs/authorities
    "m5_image_ahash_dedup",     # perceptual-hash image dedup
    "u4_bag_ops",               # INTERSECT ALL / EXCEPT ALL
    "d17_softdedup_weights",    # dedup by down-weighting
    "t25_tokenizer_fertility",  # chars-per-token report
    "ev5_anomaly_days",         # exact-moment daily z-scores
    "ext_zorder_key",           # Morton data-skipping key
    "e8_feature_hashing",       # hashing-trick BoW embedding
    "dq12_bootstrap_ci",        # deterministic Poisson bootstrap
    "ev6_last_touch_attribution",  # as-of funnel credit
    "pr3_supplier_communities", # deterministic LPA communities
    "s9_ann_recall_gate",       # recall@5 as a verified quantity
    "m6_audio_vad",             # integer-energy silence trimming
    "v4_heaps_curve",           # vocabulary growth deciles
    # round-4c pipeline extensions
    "ext_bloom_prune_join",     # Bloom runtime-filter join pruning
    "v5_heavy_hitters",         # CMS frequency estimation + contract gate
    "t24_weighted_sample",      # length-weighted deterministic Bernoulli
    "pr4_triangle_count",       # degree-ordered triangle counting
    "ext_delete_propagate",     # GDPR cascade delete accounting
    # round-4d pipeline extensions
    "ev7_market_basket",        # in-place pair-gen association rules
    "dq13_k_anonymity",         # QI group-size privacy audit
    "ev8_ewma_daily",           # exact-integer EWMA trend
    "t26_inverted_index",       # bounded posting-list construction
    "ext_salted_join",          # skew salting == plain join
    "s10_pq_ann_topk",          # product-quantization ADC top-k
    "pr5_local_clustering",     # per-node clustering coefficient
    "m7_shot_boundaries",       # perceptual-hash shot cuts
    "st9_stream_cms_hitters",   # windowed streaming CMS sketch
    "ev9_rfm_segments",         # fixed-band RFM segmentation
    "ev10_gap_filled_daily",    # calendar densification
    "c1_curation_pipeline",     # one-call gate->dedup->shard flow
    "s11_ivfpq_topk",           # IVF+PQ (IVFADC) pruned+compressed ANN
    "t28_langid_confusion",     # lang-id prediction vs label matrix
    "j14_spatial_grid_join",    # grid-bucketed <=200km distance join
    "e9_power_iteration_pc1",   # oracle-checked top PC (power iter)
    "dq14_reconciliation",      # header-vs-detail integer-cent audit
    "st10_session_paths",       # streaming-capable session journeys
    "pr6_kcore",                # k-core peeling cohesion screen
    "ev11_cohort_ltv",          # cohort revenue matrix (integer cents)
    "dq15_benford",             # first-digit forensic screen
    "j15_edit_distance_join",   # FastSS deletion-neighborhood join
    "d18_lsh_recall_gate",      # LSH recall/precision vs exact truth
    "s12_hybrid_rrf",           # BM25 + vector reciprocal-rank fusion
    "m8_keyframes",             # per-shot representative frames
    "dq16_schema_inventory",    # schema-contract snapshot
    "d6b_components_star",      # O(log n) star CC, d6's oracle verbatim
    "t30_bpe_merge_step",       # tokenizer-training pair counts
    "ev12_ab_test",             # exact-moment Welch A/B gate
    "st11_stream_ab_moments",   # streaming windowed experiment moments
    "dq17_pk_uniqueness",       # catalog-wide PK integrity audit
    "c2_data_card",             # one-row corpus release summary
    # round 5
    "s2_ann_ivf_topk",          # IVF-Flat: pruned cells, exact scoring
    "m2_video_frame_dedup",     # video split -> decode -> aHash dedup
    "d19_url_dedup",            # URL canonicalization + canonical dedup
    "ext_compaction_plan",      # small-file compaction bin-packing
    "m9_audio_fingerprint",     # peak-pair audio fingerprint matching
    "s13_bitext_margin",        # ratio-margin bitext mining
    "ev13_funnel_steps",        # ordered funnel conversion
    "ev14_retention_matrix",    # day-N retention cohorts
    "ext_skipping_report",      # zone-map skipping effectiveness
    "t31_classifier_filter",    # trained linear quality classifier
    "st12_stream_funnel",       # stateful streaming funnel advances
    "dq18_completeness_blocks", # CDC gap detection by block
    "v6_zipf_slope",            # rank-frequency corpus diagnostic
    "e10_jl_distortion_gate",   # JL projection accuracy contract
    "s14_filtered_ann",         # metadata-filtered vector search
    "ext_wap_audit",            # write-audit-publish gate battery
    "ext_scd2_asof",            # point-in-time read over SCD2 history
    "j16_nearest_event_join",   # bidirectional as-of within tolerance
    "ev16_stickiness",          # DAU/MAU engagement ratio
    "m10_decode_audit",         # decode fallback contract audit
    "d21_pair_similarity_hist", # dedup threshold-tuning curve
    "pr7_khop_reachability",    # frontier BFS watchlist expansion
    "dq19_l_diversity",         # homogeneity-attack privacy gate
    "t32_token_budget_plan",    # mixture epochs / budget planning
    "ext_ivm_merge",            # incremental view maintenance merge
    "d22_minhash_calibration",  # minhash estimator calibration matrix
    "ext_unpivot_roundtrip",    # melt proven by pivot round-trip
    "v7_simpson_diversity",     # mixture diversity index
    "pr8_degree_assortativity", # hub-mixing graph diagnostic
    # round 6
    "st13_stream_incremental_dedup",  # dedup-at-ingest batch core
    "d20_substring_spans",      # maximal duplicated-span dedup
    "dq20_hll_merge_gate",      # mergeable-sketch rollup contract
    "ev17_pattern_match",       # regex journey pattern matching
    "s15_ann_probe_curve",      # IVF recall-vs-nprobe tuning curve
    # round 7
    "st14_stream_pattern_match",  # streaming MATCH_RECOGNIZE twin
    "d7_embedding_lsh_near_dups",  # Gaussian-plane LSH recall gate
    "t33_bpe_train",            # full 16-merge BPE training loop
    "t34_kneser_ney_score",     # interpolated-KN perplexity filter
    "d23_cdc_chunking",         # content-defined chunking contract
    "st15_stream_lm_score",     # LM perplexity gate at ingest
    "ext_orc_roundtrip",        # columnar-format interchange gate
    "c3_perplexity_mixture",    # composed CCNet perplexity sampling
    # round 8
    "t35_bpe_encode",           # BPE encode pass (train -> apply)
    "d24_semantic_dedup_kmeans",  # SemDeDup, published k-means form
    "d25_span_scrub",           # duplicated-span removal rewrite
    "s16_mmr_rerank",           # MMR diversified top-k (exact-integer)
    "e11_kcenter_coreset",      # greedy k-center coreset selection
    "ev18_holt_linear",         # Holt linear-trend smoothing + forecast
    "dq21_chi2_independence",   # categorical chi-squared dependence
    "s17_hard_negative_mining", # contrastive hard-negative mining
    "ev19_cusum_changepoint",   # exact-integer CUSUM drift detector
    "ev20_seasonal_indices",    # day-of-week seasonal indices
    "s18_rocchio_prf",          # pseudo-relevance-feedback expansion
    "pr9_harmonic_centrality",  # bounded-radius harmonic centrality
    "st16_stream_cusum",        # CUSUM drift detection at ingest
    # round 9
    "d26_suffix_array_spans",   # prefix-doubling exact-substring dedup
    "s19_index_staleness_gate", # ANN index recall-decay/drift rebuild gate
    "d27_exactsubstr_scrub",    # ExactSubstr keep-one-occurrence rewrite
    # round 10
    "t36_tokenizer_artifact_parity",   # persisted-tokenizer parity gate
    "s20_tokenizer_staleness_gate",    # tokenizer OOV/fertility retrain gate
    "c4_curation_exactsubstr",         # curation flow w/ published ExactSubstr
    "st17_stream_contamination_gate",  # exact-substring contamination at ingest
    "t37_gopher_repetition",           # Gopher nine-signal repetition gate
    "t38_temperature_mixture",         # alpha-smoothed language mixture rates
    "s21_graph_ann_walk",              # NSW beam-search graph ANN
    "c5_curation_quality_stack",       # stacked gate funnel (t13 -> t37 -> dedup)
    "st18_stream_mixture_admission",   # frozen-mixture admission at ingest
    "d28_ppjoin_exact",                # prefix-filtered EXACT similarity join
    "ev21_holt_winters",               # additive Holt-Winters weekly forecast
    # round 11
    "c6_tokenizer_lifecycle",          # tokenizer gate -> rebuild -> swap
    "c8_ann_index_lifecycle",          # quantizer gate -> rebuild -> swap
    "t25b_fertility_from_store",       # artifact-served fertility (production path)
    "t35b_encode_top_from_store",      # artifact-served encoded vocabulary
    "st19_stream_tokenizer_oov",       # tokenizer-drift monitor at ingest
    "t39_c4_line_rules",               # C4 line-level quality rules
    "s22_hnsw_descent",                # hierarchical entry-point descent
    "s23_nn_descent",                  # NN-Descent kNN-graph construction
    "s24_graph_ann_refined",           # walk served from the refined graph
    "st20_stream_ann_drift",           # ANN-staleness monitor at ingest
    "s25_clustered_recall_gate",       # clustered-corpus recall proof
    "s26_serving_clustered_recall",    # serving-scale clustered recall gate (r13)
    "t40_sequence_packing",            # greedy context-window packing
    "st21_stream_packing",             # stateful packing at ingest
    "dq22_embedding_psi",              # embedding-distribution drift gate (r12: dq17_embedding_psi)
    "dq17_embedding_psi",              # r12-declared alias of dq22 (kept: bench names are never removed)
    "st22_stream_embedding_psi",       # per-batch PSI monitor
]

# The bench-set rule (round-8 verdict ask #7), stated once and enforced
# by tests/test_repo_hygiene.py::test_bench_set_partitions_registry:
# every registered query is EITHER benched (HEADLINE + EXTRA) OR listed
# below with the reason it is excluded.  Excluded queries are the
# sub-100ms expression/scan shapes whose physical plans are strict
# sub-shapes of benched composites — timing them at sf0.1 measures JVM
# job-submission overhead, not the engine (measured: the whole excluded
# set sums to under 10% of one headline query).  Categories:
#   tpch      - TPC-H q2..q22 relational suite: scan/filter/join/agg
#               shapes already dominated by the benched a1/j1/q3;
#   fsuite    - scalar-function parity contracts (f*/ext_* suites):
#               expression-only, zero or one exchange;
#   subshape  - single-operator relational/set/window shapes (p/j/a/o/
#               u/w families) that appear inside benched composites;
#   profile   - one-pass column profiles / tiny diagnostics (dq1-dq4,
#               v1-v3, e1-e3, t1-t10 singles) whose heavier siblings
#               (dq5+, v4+, e4+, t11+) are benched;
#   streaming - streaming twins whose batch core is benched (st2/st4/
#               st6/st7 vs st1/st3/st5 + the benched st8-st16).
BENCH_EXCLUDED = frozenset([
    # tpch
    "q2_min_cost_supplier", "q4_order_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_type_profit", "q10_returned_items", "q11_important_parts",
    "q12_priority_counts", "q13_customer_distribution", "q14_promo_revenue",
    "q15_top_supplier", "q16_supplier_part_counts",
    "q17_small_quantity_revenue", "q18_large_volume_customer",
    "q19_discounted_revenue", "q20_potential_promotion",
    "q21_waiting_suppliers", "q22_sales_opportunity",
    # fsuite
    "f_string_suite", "f_date_suite", "f_geo_interp_suite",
    "f1_parse_credit_notes", "f2_fuzzy_ratio", "f4_blacklist_clean",
    "f9_normalize_release_dates", "f16_haversine",
    "ext_grouping_sets", "ext_cube_counts", "ext_rollup_counts",
    "ext_percentiles", "ext_approx_distinct", "ext_window_suite",
    "ext_range_frame", "ext_unpivot", "ext_asof_join",
    # subshape
    "p1_projection_filter", "p3_compound_filter", "p4_having_filter",
    "p5_sentinel_filter", "p7_case_insensitive_match",
    "j2_broadcast_dim_join", "j4_chained_enrichment", "j6_semi_join",
    "j7_anti_join", "j9_reverse_map", "j10_full_outer",
    "a3_search_mappings", "a4_earliest_date", "a6_density_report",
    "a6b_density_pivot", "a7_merge_sum_by_cleaned_key",
    "a9_blacklist_hits", "a10_distinct",
    "o2_topk_count_desc", "o6_depth_limit",
    "u1_union_all", "u2_union_distinct", "u3_verified_split",
    "set_intersect_except",
    "w2_run_lengths", "w3_consecutive_pairs", "w4_directional_in",
    "w4_directional_out", "w5_dummy_departures", "w7_empty_group_removal",
    # profile
    "dq1_null_profile", "dq2_rule_violations", "dq3_referential_orphans",
    "dq4_distribution_drift",
    "v1_vocabulary_topk", "v2_bigram_topk", "v3_tfidf_topk",
    "e1_embedding_dim_stats", "e2_embedding_quantize_int8",
    "e3_embedding_normalize",
    "t1_token_stats", "t3_lang_id", "t4_fingerprints", "t5_pii_scrub",
    "t6_normalize", "t8_repetition_ratio", "t9_hash_sample",
    "t10_stratified_sample",
    "d3_ngram_jaccard", "d5_embedding_near_dups", "d8_dedup_pipeline",
    "d9_dedup_keep_best", "s3_ann_range_search",
    "m1_multimodal_features",
    "ev1_funnel", "ev2_retention",
    # streaming
    "st2_sliding_window", "st4_stream_dedup", "st6_interval_join",
    "st7_hierarchical_rollup",
])

# Second frozen tier (round-11 verdict ask #9): the heavy artifact /
# lifecycle queries that now dominate where the time actually goes but
# sit outside the frozen 17 — summed separately as
# ``value_headline_b`` so they get round-over-round comparability.
# All seven are already in the benched set above; this list only sums.
HEADLINE_B = [
    "c6_tokenizer_lifecycle",
    "c8_ann_index_lifecycle",
    "t36_tokenizer_artifact_parity",
    "st19_stream_tokenizer_oov",
    "s20_tokenizer_staleness_gate",
    "t25b_fertility_from_store",
    "d28_ppjoin_exact",
]

# ---------------------------------------------------------------------
# Drift calibration, v2 (round-11 verdict ask #1).
#
# History: rounds 6-11 estimated box drift from TWO queries (a1
# scan-agg + d2 shuffle-agg, pinned to BENCH_LOCAL_r06).  Round 11
# proved that blind: at near-identical 2-point drift (r07 1.115 vs r11
# 1.092) the median of 159 common queries ran 1.51x slower raw, with
# the slowdown concentrated in compute-heavy / Arrow / iterative
# shapes the scan/shuffle pair never touches.  The round-12 bisect
# (`git show eb998ef:tools/r12_slowdown_bisect.py`, results in
# SCALE.md "r12 slowdown root-cause") showed the 16g-heap change was
# NOT the cause — fresh 8g and 16g sessions time identically — the box
# itself drifted shape-dependently.  CONSEQUENCE FOR HISTORY: the r07-r11
# ``value_drift_normalized`` numbers (r10's 12.101 "best ever", r11's
# 14.759 "+22%") are 2-point-calibration artifacts and are NOT
# comparable to the v2 numbers below; see BENCHNOTES.md for the
# reconciliation.
#
# v2: an 8-query panel spanning the plan shapes that drift
# independently, pinned to BENCH_LOCAL_r07 (the last round before the
# measured shape-dependent shift; min-of-3, this box family, sf0.1).
# Every panel query runs min-of-5.  Per-shape drift = geometric mean
# of the shape's member ratios; the scalar ``drift`` recorded in the
# artifact = MEDIAN of the shape drifts; each benched query normalizes
# by ITS shape's drift (shape_of below), defaulting to the median for
# unclassified scan/join shapes.  Re-pin when the box family or a
# panel query's plan changes.
_CALIBRATION_PANEL: dict[str, list[tuple[str, float]]] = {
    "scan_agg": [("a1_pricing_summary", 1.461)],
    "shuffle_join": [("j1_star_join", 1.897), ("d2_minhash_lsh_pairs", 1.791)],
    "window": [("w1_jumps", 0.526)],
    "arrow_python": [("m4_audio_features", 0.478)],
    "iterative": [("d6_dup_components", 1.027)],
    # compute_fold re-pinned r14 (r13 verdict ask #3): t33's PLAN
    # changed in r13 (one-job-per-merge) and again in r14 (driver-side
    # recurrence), so its ratio vs the r07 recording conflates engine
    # improvement with box state (r13 recorded drift 0.527 while every
    # other shape sat at 0.7-0.8).  t34_kneser_ney_score is the same
    # shape family (corpus fold + per-key recurrence), benched since
    # r07 (1.417), and its plan is untouched by both rounds — its
    # r13/r07 ratio (1.449/1.417 = 1.02) matches the healthy-box
    # median, confirming plan stability.  t33 stays a compute_fold
    # MEMBER (normalized by the shape's drift); it just no longer
    # defines it.
    "compute_fold": [("t34_kneser_ney_score", 1.417)],
    "streaming_sim": [("st1_tumbling_window", 0.308)],
}

_PANEL_QUERIES = frozenset(
    name for members in _CALIBRATION_PANEL.values() for name, _ in members
)

# Explicit shape membership for the families whose drift measurably
# decouples from the scan/join median (the r11 >2x cluster is entirely
# inside these).  Everything unlisted normalizes by the median shape
# drift — the honest default for scan/filter/join/agg shapes.
_SHAPE_MEMBERS: dict[str, frozenset[str]] = {
    "iterative": frozenset([
        "d6_dup_components", "d6b_components_star",
        "pr1_supplier_pagerank", "pr2_supplier_hits",
        "pr3_supplier_communities", "pr4_triangle_count",
        "pr5_local_clustering", "pr6_kcore", "pr7_khop_reachability",
        "pr8_degree_assortativity", "pr9_harmonic_centrality",
        "e7_kmeans_clusters", "e9_power_iteration_pc1",
        "s23_nn_descent", "s24_graph_ann_refined",
        "d24_semantic_dedup_kmeans",
    ]),
    "compute_fold": frozenset([
        "t19_bigram_lm_score", "t20_contamination_share",
        "t22_ngram_novelty", "t23_dsir_importance",
        "t25_tokenizer_fertility", "t33_bpe_train",
        "t34_kneser_ney_score", "t35_bpe_encode",
        "t36_tokenizer_artifact_parity",
        "c6_tokenizer_lifecycle",
    ]),
    "window": frozenset([
        "w1_jumps", "w8_nested_documents", "o5_first_per_group",
        "a5_density",
    ]),
    # r12 verdict #1: s4 (bucketed LSH join) was "unclassified" and
    # normalized by the median drift while sitting in a family whose
    # drift decouples (shuffle_join has its own panel pair).
    "shuffle_join": frozenset([
        "s4_ann_lsh_topk", "s5_ann_multiprobe_topk",
    ]),
    # r12 advice: st22 is a batch-registered posexplode+partial-agg
    # (scan shape), not streaming-sim — the explicit "default" entry
    # overrides the st-prefix rule in shape_of.
    "default": frozenset([
        "st22_stream_embedding_psi", "dq22_embedding_psi",
        "dq17_embedding_psi",
    ]),
}

# r12 advice + verdict #1: merge late classifications into the
# existing family sets (a dict literal with duplicate keys would
# silently drop the earlier members — hence this explicit union):
#  * st20 builds a k-means quantizer store per micro-batch → iterative
#  * st21 is an Arrow-grouped stateful packing stage → arrow_python
#  * ev21 is a per-key Holt-Winters recurrence fold → compute_fold
_SHAPE_MEMBERS["iterative"] = _SHAPE_MEMBERS["iterative"] | {
    "st20_stream_ann_drift",
}
_SHAPE_MEMBERS["arrow_python"] = frozenset({"st21_stream_packing"})
_SHAPE_MEMBERS["compute_fold"] = _SHAPE_MEMBERS["compute_fold"] | {
    "ev21_holt_winters",
}


def shape_of(name: str) -> str:
    """Shape class used to pick a query's drift divisor.

    Prefix rules cover the two unambiguous families (m<digit> Arrow
    codec stages, st* streaming twins); explicit sets cover iterative /
    compute-fold / window; everything else is "default" (median shape
    drift).  Unit-tested in tests/test_bench_math.py."""
    for shape, members in _SHAPE_MEMBERS.items():
        if name in members:
            return shape
    if name.startswith("st") and name[2:3].isdigit():
        return "streaming_sim"
    if name.startswith("m") and name[1:2].isdigit():
        return "arrow_python"
    return "default"


def shape_drifts(timings: dict[str, float]) -> dict[str, float]:
    """Per-shape drift from the panel queries' measured mins; shapes
    whose panel query is missing from ``timings`` are dropped."""
    out: dict[str, float] = {}
    for shape, members in _CALIBRATION_PANEL.items():
        ratios = [
            timings[name] / ref
            for name, ref in members
            if timings.get(name, 0) > 0
        ]
        if ratios:
            g = 1.0
            for r in ratios:
                g *= r
            out[shape] = round(g ** (1.0 / len(ratios)), 3)
    return out


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    if n == 0:
        return 1.0
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def query_drifts(
    names: list[str] | set[str], drifts: dict[str, float]
) -> dict[str, float]:
    """Drift divisor per query: its shape's drift, else the median
    shape drift.  The returned dict is recorded in the artifact as
    ``query_drift`` so future rounds normalize BOTH sides per-query."""
    med = round(_median(list(drifts.values())), 3)
    return {n: drifts.get(shape_of(n), med) for n in names}


def runs_for(name: str, prev: dict | None, base: int = 3, extra: int = 5) -> int:
    """Min-of-N run count per query (round-10 verdict ask #8): the
    sub-second tail (s9/ext_bloom/ev10/ev18...) swung 1.3-1.8×
    normalized between rounds purely from scheduler variance — a
    0.5 s query is mostly JVM job-submission jitter, and min-of-3
    doesn't damp it.  Queries whose PREVIOUS round's recorded raw
    time was under 3 s run min-of-``extra`` instead of
    min-of-``base``.  The threshold was 1 s through r12; the r12
    verdict's two unexplained >2x swings (ev21 0.89→3.04 s, s4
    0.76→2.51 s, zero code change, on a box with measured
    multi-second kcompactd stalls) both sat in the 1–3 s tier the
    sub-second rule didn't protect — so r13 extends it to <3 s
    (marginal cost ~2 extra runs x ≤3 s x ~80 queries ≈ +8 min,
    paid once per round).  Unit-tested in tests/test_bench_math.py."""
    if name in _PANEL_QUERIES:
        # calibration panel members always run min-of-5: the whole
        # round's normalization hangs off these eight measurements
        return extra
    if prev is None:
        return base
    t = prev.get("queries", {}).get(name)
    if t is not None and 0 < t < 3.0:
        return extra
    return base


def normalized_ratios(
    timings: dict[str, float],
    drift: float | dict[str, float],
    prev: dict,
) -> dict[str, float]:
    """Per-query drift-normalized ratios vs a previous BENCH_LOCAL
    artifact.  The previous artifact's per-query timings are stored
    RAW; dividing only this round's side by drift left a constant
    bias equal to the previous box's drift (round-8 advice) — so BOTH
    sides normalize by their own recorded calibration.  v2: each side
    divides per-query — ``drift`` may be the ``query_drift`` dict (a
    scalar still works for old callers), and the previous side prefers
    its recorded ``query_drift`` entry, falling back to its scalar
    calibration drift for pre-v2 artifacts.  Unit-tested in
    tests/test_bench_math.py (round-9 verdict #7, round-11 ask #1)."""
    prev_scalar = prev.get("calibration", {}).get("drift", 1.0) or 1.0
    prev_qd = prev.get("query_drift", {})

    def cur_d(n: str) -> float:
        if isinstance(drift, dict):
            return drift.get(n, 1.0) or 1.0
        return drift or 1.0

    return {
        n: round(
            (timings[n] / cur_d(n))
            / (prev["queries"][n] / (prev_qd.get(n, prev_scalar) or 1.0)),
            3,
        )
        for n in timings
        if n in prev.get("queries", {}) and prev["queries"][n] > 0
    }


def box_probe(passes: int = 3) -> dict:
    """Box-health preflight (r12 verdict #8): time a fixed ~100 ms
    CPU+memory workload ``passes`` times and report the spread.

    BENCHNOTES.md documents sporadic multi-second kcompactd/khugepaged
    stalls on this VM (one e9 pass hit 35.1 s on an idle box); a
    stalled window shows up here as ``spread`` >> 1, so contaminated
    measurements are flagged AT MEASUREMENT TIME instead of at
    judging.  Called by main() (recorded under ``box_probe`` in the
    artifact) and standalone by tools/measure_chain.sh, which
    retries the chain when the pre-flight spread exceeds its
    threshold."""
    import numpy as np

    # single-threaded, memory-bandwidth-bound (copy + reduce): BLAS
    # matmul was tried first but multithreaded scheduling made the
    # probe itself noisy (spreads up to 17x on an idle box); a copy
    # loop is deterministic AND is exactly the access pattern that a
    # kcompactd/khugepaged compaction stall degrades.
    a = np.arange(12_000_000, dtype=np.float64)
    float(a.copy().sum())  # untimed page-fault/allocator warmup
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        s = 0.0
        for _ in range(4):
            s += float(a.copy().sum())
        times.append(round(time.perf_counter() - t0, 4))
    return {
        "passes": times,
        "spread": round(max(times) / max(min(times), 1e-9), 3),
    }


def _prev_bench_local() -> dict | None:
    """Newest BENCH_LOCAL_r{N}.json with N below the current round —
    the reference for per-query drift-normalized ratios."""
    cur = _current_round()
    best_n, best_p = -1, None
    for p in glob.glob(os.path.join(REPO, "BENCH_LOCAL_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m and best_n < int(m.group(1)) < cur:
            best_n, best_p = int(m.group(1)), p
    if not best_p:
        return None
    with open(best_p) as f:
        d = json.load(f)
    d["_path"] = os.path.basename(best_p)
    return d


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from dww_data_pipeline_spark.plans.registry import all_queries
    from dww_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    queries = all_queries()

    # warm up the JVM + parquet footers once (not timed)
    queries["a10_distinct"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    # three runs per query, report the min: the first run pays one-time
    # whole-stage-codegen compilation (1-2s for the widest expression
    # trees), which is amortized away in any real deployment, and the
    # min-of-3 damps hypervisor/noisy-neighbor variance that hits
    # many-small-job queries (iterative components, streaming twins)
    # hardest — observed ±40% between otherwise-identical runs.
    # Sub-second queries (per LAST round's artifact) get min-of-5:
    # their wall is mostly job-submission jitter (see runs_for).
    prev_for_runs = _prev_bench_local()
    # Smoke/debug subset: SPARK_GRAFT_BENCH_ONLY="a1_...,j1_..." runs
    # only those queries (artifact still written; totals sum over the
    # intersection).  Not used by the driver — full runs only.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    run_list = [q for q in HEADLINE + EXTRA if not only or q in only.split(",")]
    probe_pre = box_probe()
    timings: dict[str, float] = {}
    for name in run_list:
        q = queries[name]
        best = float("inf")
        for _ in range(runs_for(name, prev_for_runs)):
            t0 = time.perf_counter()
            q(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        # total over the FROZEN 17-query headline set (comparable to the
        # recorded round-1/2 totals); the queries dict additionally
        # carries the newer scale-path queries (EXTRA), not summed here
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings[n] for n in HEADLINE if n in timings), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # box-health probes bracketing the run (r12 verdict #8): a
        # spread >> 1 on either side marks the window stall-contaminated
        "box_probe": {"pre": probe_pre, "post": box_probe()},
    }
    if only:
        # r12 advice: a filtered smoke run writes a PARTIAL headline sum
        # — mark the artifact so it can never pass as a full recording
        out["bench_only"] = only
    out["value_headline_b"] = round(
        sum(timings[n] for n in HEADLINE_B if n in timings), 3
    )
    if sf_val == 0.1:  # reference values are sf0.1-specific
        drifts = shape_drifts(timings)
        qd = query_drifts(set(timings), drifts)
        drift = round(_median(list(drifts.values())), 3)
        out["calibration"] = {
            "ref": "BENCH_LOCAL_r07 min-of-3 (panel re-pinned r12)",
            "method": "per-shape-panel-v2",
            "shape_drifts": drifts,
            "ratios": {
                name: round(timings[name] / ref, 3)
                for members in _CALIBRATION_PANEL.values()
                for name, ref in members
                if timings.get(name, 0) > 0
            },
            "drift": drift,
        }
        out["query_drift"] = qd
        # Normalized totals divide each query by ITS shape's drift —
        # NOT comparable to the pre-v2 (r07-r11) normalized history;
        # see BENCHNOTES.md for the reconciliation.
        out["value_drift_normalized"] = round(
            sum(timings[n] / qd[n] for n in HEADLINE if n in timings), 3
        )
        out["value_headline_b_normalized"] = round(
            sum(timings[n] / qd[n] for n in HEADLINE_B if n in timings), 3
        )
        # Per-query drift-normalized ratios vs the previous round's
        # local artifact (round-7 verdict ask #7): "which queries
        # really regressed" becomes a zero-effort read — anything
        # near 1.0 after dividing out the box drift is noise.
        if prev_for_runs:
            out["ratios_normalized"] = normalized_ratios(
                timings, qd, prev_for_runs
            )
            out["ratios_normalized_ref"] = prev_for_runs["_path"]
    print(json.dumps(out))
    # Durable copy of the full min-of-3 per-query dict (the stdout tail
    # truncates it) — committed each round for round-over-round diffs.
    local_path = os.path.join(REPO, f"BENCH_LOCAL_r{_current_round():02d}.json")
    with open(local_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    # The driver records only the LAST ~2000 chars of bench output, and
    # the full per-query line above has outgrown that window (117+
    # entries) — BENCH_r04.json captured a mid-dict tail and parsed as
    # null.  Emit a compact, self-contained headline line LAST so the
    # tail capture always contains one parseable JSON object.
    compact = {
        "metric": "headline_queries_total_sec",
        "value": out["value"],
        "unit": "sec",
        "sf": sf_val,
        "n_headline": len(HEADLINE),
        "n_benched": len(timings),
    }
    compact["value_headline_b"] = out["value_headline_b"]
    # r13 verdict ask #4: the driver's per-query round-over-round
    # comparison parses the tail-captured FINAL line, and the full
    # per-query dict outgrew the ~2000-char tail rounds ago (PERF_r13
    # per_query = {}).  Carry per-query seconds for the two frozen
    # tiers only (17 + 7 names ≈ 800 chars — fits the tail with room
    # for the calibration block).  Additions-only: the full line above
    # still carries every benched query.
    compact["queries"] = {
        n: timings[n] for n in HEADLINE + HEADLINE_B if n in timings
    }
    if "calibration" in out:
        compact["drift"] = out["calibration"]["drift"]
        compact["shape_drifts"] = out["calibration"]["shape_drifts"]
        compact["value_drift_normalized"] = out["value_drift_normalized"]
        compact["value_headline_b_normalized"] = out[
            "value_headline_b_normalized"
        ]
    sys.stdout.flush()
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
