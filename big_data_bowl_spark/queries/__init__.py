"""Driver-facing query registry.

Each named query is a (Spark callable, DuckDB oracle SQL) pair proving
one operator row from SURVEY.md §2 (or a north-star extension) on the
driver's star-schema testdata. `__spark_entry__.py` re-exports this
registry.

Import order populates REGISTRY via the @register decorator.
"""

from .base import REGISTRY, Q, register  # noqa: F401
from . import core  # noqa: F401,E402
from . import nlp  # noqa: F401,E402
from . import vectors  # noqa: F401,E402
from . import temporal  # noqa: F401,E402
from . import pipelines  # noqa: F401,E402
from . import ml  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import extras  # noqa: F401,E402
from . import graph  # noqa: F401,E402


# Driver-visible ordering. The driver's correctness gate verifies a
# bounded prefix of the registry (~50 entries), so emit queries in
# verification-priority order:
#   1. _FIRST — queries whose CODE or ORACLE changed this round
#      (their prior green was earned by different code);
#   2. anything NEW and not yet ranked below — always first among the
#      rest (so a new addition lands in the verified prefix
#      automatically);
#   3. the explicit list below, in LEAST-RECENTLY-DRIVER-GREEN order
#      (VERDICT r7 item 1; regenerated for round 12 from
#      CORRECTNESS_r02..r11): for each name take the max round whose
#      CORRECTNESS_rNN.json has rows+schema+hash all true (rows+err
#      for the rows-only entries), sort ascending, alphabetical
#      within a round.
#
# Round-17 layout, explicit (VERDICT r16 item 3 — rotate the r11
# staleness cohort, the oldest remaining block): _PRIORITY was
# regenerated from CORRECTNESS_r02..r16 (max green round per name,
# ascending, alphabetical within round; histogram at regeneration
# r11:31 r12:42 r13:43 r14:45 r15:46 r16:50). _FIRST holds the
# queries whose CODE changed in round 17 (see its comment). The full
# 31-query r11 cohort fills the slots right after _FIRST
# (4 + 31 = 35 <= 50), so the whole cohort verifies this round and
# no query's last driver-green predates r12 afterwards.
_PRIORITY = [
    # last driver-green in r11
    "a09b_grouped_quantiles_approx",
    "a10_approx_count_distinct",
    "a15_kmv_distinct_sketch",
    "a16_cube_agg",
    "a17_count_min_sketch",
    "a18_bloom_filter_audit",
    "a19_tdigest_quantiles",
    "d07_cdc_compaction",
    "d08_scd2_history",
    "d10_incremental_agg_maintenance",
    "dq04_key_skew_profile",
    "f13_winsorize",
    "g05_kcore",
    "j10_anti_join",
    "m01_rf_train_confusion",
    "m02_rf_predict_counts",
    "mm05_audio_roundtrip_features",
    "mm08_audio_spectral_features",
    "mm14_gif_roundtrip_features",
    "o10_weighted_sample",
    "r03_unpivot_long",
    "s08_shuffled_shards",
    "s10_salted_skew_join",
    "t03_session_window",
    "t04_interevent_gap",
    "t06_asof_join",
    "t13_asof_join_forward",
    "t14_time_weighted_avg",
    "t17_ewma_smoothing",
    "v01_cosine_topk",
    "v07_int8_quantize",
    # last driver-green in r12
    "a02_grouped_count_mean",
    "a03_grouped_mode",
    "a04_global_minmax",
    "a05_count_distinct",
    "a06_row_count",
    "a07_contingency_table",
    "a20_grouping_sets",
    "d09_merge_upsert",
    "d12_incremental_lsh_maintenance",
    "dq01_column_profile",
    "dq05_constraint_suite",
    "j01_inner_join_1key",
    "j02_inner_join_2keys",
    "j03_selfjoin_anchor_attach",
    "j04_left_outer_join",
    "j05_crossjoin_grid",
    "j07_inner_join_merge",
    "m04_rf_feature_importances",
    "m05_random_split_counts",
    "m07_rf_tree_stats",
    "m08_roc_auc",
    "m09_feature_hashing",
    "m11_bagged_ensemble",
    "m13_bagged_ensemble_approx",
    "mm07_jpeg_roundtrip_features",
    "mm09_mp4_container_metadata",
    "mm10_mp4_sample_index",
    "n03_lang_id",
    "n17_segment_dedup",
    "n18_lm_perplexity",
    "n19_benchmark_decontamination",
    "s11_orc_sink_roundtrip",
    "s12_schema_evolution_scan",
    "t15_funnel_analysis",
    "t19_cohort_retention",
    "t20_gapfill_resample",
    "t23_cusum_changepoint",
    "u04_python_udtf",
    "v09_product_quantization",
    "v12_mmr_diversified_topk",
    "v14_hybrid_rrf_search",
    "w09_rolling_mean",
    # last driver-green in r13
    "a14_bool_aggs",
    "e01_distance_at_anchor",
    "f01_substring_cast",
    "f02_regex_replace_trim",
    "f03_regex_match",
    "f04_string_concat",
    "f05_euclidean_distance",
    "f06_velocity_decomposition",
    "f07_sigmoid",
    "f08_radius_cubic_clamp",
    "f09_clamp_least",
    "j08_semijoin_scalar_subquery",
    "mm11_mp4_sample_ranges",
    "mm12_fmp4_sample_ranges",
    "mm13_exif_metadata",
    "n20_bpe_train",
    "n21_bpe_tokenize",
    "n22_rag_chunking",
    "o01_sort_desc_topk",
    "o02_offset_limit",
    "p01_project",
    "p02_drop_columns",
    "p03_rename",
    "p04_computed_projection",
    "p05_filter_conjunctive",
    "p06_filter_inlist",
    "p07_filter_or_chain",
    "p08_filter_between",
    "p09_filter_regex",
    "p10_null_nan_filters",
    "p11_filter_modulo",
    "p12_case_multiway",
    "p13_case_boolean_combo",
    "s01_csv_scan_inferred",
    "s02_csv_multifile_union",
    "s04_generated_grid",
    "v13_dim_truncation_recall",
    "w01_group_flag",
    "w02_group_broadcast_value",
    "w03_rownum_in_group",
    "w05_group_min_filter",
    "w06_normalize_by_group_max",
    "w10_offset_windows",
    # last driver-green in r14
    "a08_salted_grouped_sum",
    "a21_grouped_histogram",
    "a22_robust_outliers",
    "a23_grouped_ols",
    "a24_welch_ttest",
    "a25_weighted_median",
    "a26_class_balance_entropy",
    "f10_floor_mod_round",
    "f11_arithmetic_projections",
    "j06_join_rowid",
    "m00_ml_feature_table",
    "m07b_rf_var_used",
    "mm01_media_metadata",
    "mm03_frame_sample",
    "mm04_resize_features",
    "mm06_png_roundtrip_features",
    "n01_token_stats",
    "n02_quality_score",
    "n08_source_quota",
    "o03_limit",
    "o04_deterministic_sample",
    "o05_deterministic_split",
    "o06_union_append",
    "o07_scalar_extraction",
    "r01_pivot_wide",
    "r02_pivot_wide_multivalue",
    "s03_tsv_scan",
    "s05_parquet_sink_roundtrip",
    "s13_python_datasource",
    "s14_zorder_locality",
    "t07_streaming_tumbling",
    "t08_streaming_sessionization",
    "t11_streaming_dedup",
    "t12_streaming_interval_join",
    "t16_streaming_cdc_compaction",
    "t18_streaming_sliding",
    "t21_streaming_stream_stream_join",
    "t25_stateful_running_stats",
    "t25b_stateful_running_stats_us",
    "t29_streaming_topk",
    "t33_streaming_reach",
    "t34_stateful_type_counts",
    "u01_groupby_apply",
    "u02_transform_chain",
    "w04_global_rowid",
    # last driver-green in r15
    "a01_grouped_sum",
    "a09_grouped_quantiles",
    "a11_rollup_agg",
    "a12_grouped_corr",
    "a13_collect_sorted_array",
    "d01_dedup_exact",
    "dq06_k_anonymity",
    "dq07_functional_dependency",
    "dq08_snapshot_diff",
    "e05_embedding_index_pipeline",
    "e06_streaming_pipeline",
    "f14_higher_order_arrays",
    "j12_grid_radius_join",
    "m06_decision_stump",
    "m10_depth2_tree",
    "m12_calibration_bins",
    "mm16_video_frame_neardup",
    "mm17_audio_fingerprint_neardup",
    "mm18_scene_changes",
    "n12_sequence_packing",
    "n15_trending_terms",
    "n23_pmi_cooccurrence",
    "o11_group_sample_topk",
    "o12_kfold_assignment",
    "s15_small_file_compaction",
    "t01_tumbling_window",
    "t09_interval_join",
    "t24_streaming_merge_sink",
    "t26_streaming_histogram",
    "t27_sequence_pattern",
    "t28_markov_transitions",
    "t30_last_touch_attribution",
    "t32_lag1_autocorr",
    "t35_timer_closed_sessions",
    "u03_pandas_udf_scalar",
    "u05_map_in_arrow",
    "v02_srp_lsh_buckets",
    "v03_bucketed_cosine_neardup",
    "v04_ivf_topk",
    "v05_kmeans_step",
    "v06_kmeans_two_steps",
    "v08_embedding_dedup_components",
    "v10_ivfpq_topk",
    "v11_ann_recall_audit",
    "w11_longest_streak",
    "w12_percent_rank_cume",
    # last driver-green in r16
    "d02_dedup_minhash_lsh",
    "d03_ngram_jaccard_verify",
    "d04_simhash",
    "d05_dedup_components",
    "d06_simhash_neardup",
    "d11_canonical_survivor",
    "dq02_referential_orphans",
    "dq03_distribution_drift",
    "e02_field_control",
    "e03_field_control_season",
    "e04_corpus_curation",
    "f12_bivariate_gaussian",
    "g01_pagerank_neardup",
    "g02_label_propagation",
    "g03_hits_neardup",
    "g04_triangle_count",
    "g06_bfs_hops",
    "j09_full_outer_join",
    "j11_fuzzy_name_match",
    "j11b_fuzzy_capped_audit",
    "j13_fuzzy_match_deletion_blocking",
    "j13b_fuzzy_capped_audit",
    "mm02_image_features",
    "mm15_image_dhash_neardup",
    "n04_fingerprint",
    "n05_punct_ratio",
    "n06_bpe_token_count",
    "n07_rolling_hash_fingerprint",
    "n09_vocab_topk",
    "n10_tfidf_top_terms",
    "n11_repetition_score",
    "n13_pii_redaction",
    "n14_source_mixing",
    "n16_shingle_containment",
    "n24_minhash_calibration",
    "o08_stratified_sample",
    "o09_set_ops",
    "o13_temporal_split",
    "p14_fillna_coalesce",
    "s06_bucketed_colocated_join",
    "s07_partitioned_sink_pruning",
    "s09_jsonl_scan",
    "t02_sliding_window",
    "t05_json_props",
    "t10_date_parts",
    "t31_cumulative_reach",
    "u06_grouped_agg_pandas_udf",
    "v03b_bucketed_cosine_capped_audit",
    "w07_running_total",
    "w08_ntile_quartiles",
]


# Queries whose executed CODE changed recently (their prior green
# was earned by different code), plan-relevant first: mm15b is the
# capped production twin of mm15 (match + oversized-bucket facets);
# mm15/mm16/mm17 build their pairs through banding.bucket_pairs
# (max_bucket=None on the registered path — results-neutral, and the
# only plan change is an IsNotNull filter on the bucket key — but the
# executed code moved so they re-verify). Deferred to the
# normal rotation, with reason: the queries that merely CALL
# operators/components.release_local_checkpoint (d05/g01/g02/g03/
# g06/e05/v08/v12) — the helper's change touched only its FAILURE
# path (a RuntimeWarning replacing a silent pass; the success path
# is byte-identical, pytest-pinned both ways), a results-neutral
# helper swap, and including all eight would push older cohorts out
# of the 50-slot prefix.
_FIRST = [
    "mm15b_image_dhash_capped_audit",
    "mm15_image_dhash_neardup",
    "mm16_video_frame_neardup",
    "mm17_audio_fingerprint_neardup",
]


def _ordered_names():
    first = {n: i for i, n in enumerate(_FIRST)}
    rank = {n: i for i, n in enumerate(_PRIORITY)}
    # _FIRST, then unknown (new) names in registration order, then the
    # explicit rotation
    return sorted(
        REGISTRY,
        key=lambda n: (
            n not in first,
            first.get(n, 0),
            n in rank,
            rank.get(n, 0),
        ),
    )


def queries():
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql():
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
