from ._cache import cache_scope, release_operator_caches
from .aggregate import AggRule, aggregate_records, update_speeds
from .windows import (
    debounce_events,
    dedup_by_order,
    ewma_bounded,
    ffill,
    bfill,
    headway_minutes,
    interpolate_monthly,
    lag_delta_minutes,
    rolling_distinct_users,
    rolling_distinct_users_hll,
    running_sum,
    choose_sessionize_strategy,
    sessionize,
    sessionize_bucketed,
    time_weighted_average,
    trend_diff,
)
from .weighting import calc_weights, choose_weight_strategy
from .imputation import impute_from_prior_month
from .interval_lookup import interval_lookup, interval_overlap_join, missing_keys
from .crosstab import crosstab_with_margins
from .scd2 import collapse_to_intervals, validate_intervals
from .profile import profile_table
from .dedup import (
    cluster_duplicates,
    contamination_check,
    containment_pairs,
    exact_dedup,
    exact_dup_groups,
    incremental_dedup,
    minhash_band_index,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard,
    prefix_filter_pairs,
    simhash,
    simhash_hamming_pairs,
)
from .linedup import drop_boilerplate_lines, tokens_to_lines
from .lm import bigram_lm_score
from .bpe import bpe_tokenize, bpe_train, word_type_counts
from .classifier import (
    binary_classification_report,
    calibration_table,
    hashed_token_features,
    logreg_predict,
    logreg_train,
)
from .retrieval import bm25_topk, tfidf_keywords
from .sampling import pps_systematic_sample, temperature_sample
from .splits import assign_split
from .packing import pack_by_length, pack_context_windows
from .similarity import (
    assign_to_centroids,
    cosine_topk,
    ivf_topk,
    kmeans_centroids,
    lsh_neardup_pairs,
    lsh_topk,
    semdedup_prune,
)
from .pca import pca_fit, pca_project
from .privacy import equivalence_classes, k_anonymity_report
from .zorder import add_zorder_key, zorder_layout
from .repetition import domain_cap, repetition_stats
from .skew import (
    default_knee_rows,
    join_back_nullsafe,
    join_size_estimate,
    resolve_window_strategy,
    max_partition_rows,
    salted_agg,
    salted_join,
    scale_skew_conf,
    skew_conf_scope,
    skew_report,
)
from .asof import asof_join
from .sketch import cms_build, cms_estimate, cms_heavy_hitters
from .hll import hll_estimate, hll_intersect_estimate, hll_merge, hll_sketch
from .bloomjoin import bloom_build, bloom_fp_rate, bloom_prune
from .graph import (
    cooccurrence_edges,
    degree_table,
    pagerank,
    pagerank_micro,
    triangle_count,
)
from .attribution import multitouch_attribution, timedecay_attribution
from .cdc import apply_changelog, survivorship_merge
from .drift import (
    ab_test_report,
    chisq_drift,
    cusum_changepoints,
    mad_outliers,
    pairwise_correlation,
    seasonal_anomaly,
    winsorize_bounds,
)
from .compaction import plan_compaction
from .spandedup import (
    duplicate_spans,
    positional_kgrams,
    remove_duplicate_spans,
)
from .dsir import dsir_bucket_counts, dsir_select, dsir_weights
from .pq import pq_adc_topk, pq_codebooks, pq_encode
from .funnel import funnel_steps, funnel_summary, retention_cohorts
from .linkage import blocked_fuzzy_pairs, oversized_blocks
from .incremental_agg import merge_aggregates, partial_aggregate
from .spatial import grid_nearest_join
from .diff import diff_summary, table_diff
from .encode import target_encode_loo
from .quality import fk_integrity
from .qsketch import qsketch_build, qsketch_merge, qsketch_quantiles
from .zonemap import prune_files, skip_rate, zonemap_stats

__all__ = [
    # rule-driven aggregation + windows (reference surface)
    "AggRule",
    "aggregate_records",
    "update_speeds",
    "dedup_by_order",
    "ffill",
    "bfill",
    "headway_minutes",
    "interpolate_monthly",
    "lag_delta_minutes",
    "running_sum",
    "sessionize",
    "sessionize_bucketed",
    "trend_diff",
    "calc_weights",
    "impute_from_prior_month",
    "interval_lookup",
    "interval_overlap_join",
    "missing_keys",
    "crosstab_with_margins",
    "collapse_to_intervals",
    "profile_table",
    # dedup family
    "cluster_duplicates",
    "contamination_check",
    "exact_dedup",
    "exact_dup_groups",
    "incremental_dedup",
    "minhash_band_index",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "ngram_jaccard",
    "simhash",
    "drop_boilerplate_lines",
    "tokens_to_lines",
    # text / training-data ops
    "bigram_lm_score",
    "bpe_tokenize",
    "bpe_train",
    "word_type_counts",
    "hashed_token_features",
    "logreg_predict",
    "logreg_train",
    "binary_classification_report",
    "calibration_table",
    "bm25_topk",
    "tfidf_keywords",
    "temperature_sample",
    "pps_systematic_sample",
    "assign_split",
    "pack_by_length",
    "pack_context_windows",
    "domain_cap",
    "repetition_stats",
    # embeddings / similarity
    "assign_to_centroids",
    "cosine_topk",
    "ivf_topk",
    "kmeans_centroids",
    "lsh_neardup_pairs",
    "lsh_topk",
    "semdedup_prune",
    "pca_fit",
    "pca_project",
    # privacy preflight
    "equivalence_classes",
    "k_anonymity_report",
    # layout / skew
    "add_zorder_key",
    "zorder_layout",
    "salted_agg",
    "salted_join",
    # round-4: temporal joins, sketches, span dedup, selection, ANN,
    # event analytics, linkage, incremental maintenance
    "asof_join",
    "cms_build",
    "cms_estimate",
    "cms_heavy_hitters",
    "duplicate_spans",
    "positional_kgrams",
    "remove_duplicate_spans",
    "dsir_bucket_counts",
    "dsir_select",
    "dsir_weights",
    "pq_adc_topk",
    "pq_codebooks",
    "pq_encode",
    "funnel_steps",
    "funnel_summary",
    "retention_cohorts",
    "blocked_fuzzy_pairs",
    "oversized_blocks",
    "merge_aggregates",
    "partial_aggregate",
    "grid_nearest_join",
    "table_diff",
    "diff_summary",
    "hll_sketch",
    "hll_merge",
    "hll_estimate",
    "hll_intersect_estimate",
    "bloom_build",
    "bloom_prune",
    "bloom_fp_rate",
    "cooccurrence_edges",
    "degree_table",
    "triangle_count",
    "pagerank",
    "pagerank_micro",
    "apply_changelog",
    "survivorship_merge",
    "plan_compaction",
    "chisq_drift",
    "mad_outliers",
    "ewma_bounded",
    "multitouch_attribution",
    "timedecay_attribution",
    "containment_pairs",
    "simhash_hamming_pairs",
    "prefix_filter_pairs",
    "skew_report",
    "scale_skew_conf",
    "skew_conf_scope",
    "default_knee_rows",
    "join_back_nullsafe",
    "resolve_window_strategy",
    "max_partition_rows",
    "choose_weight_strategy",
    "choose_sessionize_strategy",
    "seasonal_anomaly",
    "winsorize_bounds",
    "rolling_distinct_users",
    "rolling_distinct_users_hll",
    "qsketch_build",
    "qsketch_merge",
    "qsketch_quantiles",
    "zonemap_stats",
    "prune_files",
    "skip_rate",
    "target_encode_loo",
    "time_weighted_average",
    "fk_integrity",
    "cusum_changepoints",
    "ab_test_report",
    "pairwise_correlation",
    "join_size_estimate",
    "validate_intervals",
    "debounce_events",
    "cache_scope",
    "release_operator_caches",
]
