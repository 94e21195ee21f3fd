"""Driver-contract queries: one entry per implemented operator
(SURVEY.md §2), each paired with a DuckDB oracle SQL string.

Conventions (cross-engine determinism):
- every computed column is aliased identically in Spark and SQL;
- integer outputs are BIGINT both sides (Spark casts, DuckDB casts
  HUGEINT sums);
- float aggregates are rounded (4-6 dp) on BOTH sides;
- timestamps/dates in outputs are rendered as strings;
- all window/rank orderings carry a unique tiebreak column;
- time deltas use exact integer microseconds / 1e6, never epoch-double
  subtraction.

Queries whose Spark implementation is not SQL-expressible (xxhash64-based
LSH, SimHash, PELT, Savitzky-Golay) have oracle=None → the driver records
a rows-only check.
"""

from __future__ import annotations

from datamine_v2_0_spark.queries.base import _t  # noqa: F401  (test/tool surface)
from datamine_v2_0_spark.queries.aggregates import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.windows import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.joins import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.filters import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.sets import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.scalars import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.text import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.dedup import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.similarity import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.events import *  # noqa: F401,F403
from datamine_v2_0_spark.queries.pipelines import *  # noqa: F401,F403


# The registry is built in three declared pieces so that the driver-window
# rotation is explicit and duplicate keys are structurally impossible
# (round-7 ADVICE: the old single dict literal had 10 duplicate keys that
# Python silently collapsed, spilling 10 round-3-evidence queries out of
# the first-50 CORRECTNESS window):
#
#   _ALL        -- every query exactly once, alphabetical; the only place
#                  an entry is defined.
#   WINDOW_R13  -- the 50 names the driver certifies THIS round (it checks
#                  the first 50 entries of QUERIES in insertion order):
#                  the 8 queries whose round-13 changes touch executing
#                  or plan-time code lead — agg_hll_rollup
#                  (hll_portable_rollup gained period-nesting
#                  validation and the registered query now passes
#                  bucket_seconds; hll_portable_estimate switched to
#                  the per-m small-register alpha constants), then six
#                  auto-collapse family representatives:
#                  dedup_minhash_lsh + dedup_against (pair family),
#                  dedup_jaccard_inverted + dedup_containment (posting
#                  family), text_bm25 (doc/query product rule),
#                  dedup_embedding (embedding pair family), and
#                  sim_ivf_topk (ivf_topk rebuilt as the composition
#                  ivf_index + ivf_query — the build/query split the
#                  1M-vector ANN_AT_SCALE_r13 runs motivated; result
#                  contract unchanged, plan re-certified);
#                  followed by _TAIL_R12's first 42, whose head is the
#                  7 entries the round-12 promotions displaced
#                  (agg_cube, agg_describe, agg_diversity,
#                  agg_global_stats, agg_histogram, agg_incremental,
#                  agg_linreg — the round-12 verdict's task-2 order:
#                  put them back under the driver first), then the
#                  stalest remaining rung (agg_mad .. text_fingerprint).
#   _TAIL_R13   -- the remaining 109, oldest driver evidence first: the
#                  8 stale-rung entries the round-13 promotions
#                  displaced from the next-50 (text_redact — displaced
#                  by the sim_ivf_topk promotion — then ts_ohlc,
#                  ts_seasonal, win_hampel, win_minmax_flags,
#                  win_range_frame, join_upsert, scalar_hash_id =
#                  _TAIL_R12[43:50] — all enumerated per the round-11
#                  ADVICE; re-proven in this round's full local oracle
#                  sweeps) lead so round 14 re-proves them first,
#                  then _TAIL_R12's leftover entries (none were
#                  promoted from within it this round) and round 12's
#                  re-certified window entries minus the 7
#                  re-promoted (win_rank_family .. agg_corr_matrix),
#                  freshest last, so the round-14 window is simply
#                  the next 50.
#
# Rotating the window next round = editing the two name lists; the
# assertions below keep the partition exact.
_ALL: dict[str, tuple] = {
    "agg_ab_test": (q_agg_ab_test, SQL_AGG_AB_TEST),
    "agg_approx": (q_agg_approx, None),
    "agg_cms_counts": (q_agg_cms_counts, SQL_AGG_CMS_COUNTS),
    "agg_conditional": (q_agg_conditional, SQL_AGG_CONDITIONAL),
    "agg_corr_matrix": (q_agg_corr_matrix, SQL_AGG_CORR_MATRIX),
    "agg_cube": (q_agg_cube, SQL_AGG_CUBE),
    "agg_date_distribution": (q_agg_date_distribution, SQL_AGG_DATE_DISTRIBUTION),
    "agg_describe": (q_agg_describe, SQL_AGG_DESCRIBE),
    "agg_distinct": (q_agg_distinct, SQL_AGG_DISTINCT),
    "agg_diversity": (q_agg_diversity, SQL_AGG_DIVERSITY),
    "agg_fraction": (q_agg_fraction, SQL_AGG_FRACTION),
    "agg_freq_topk": (q_agg_freq_topk, SQL_AGG_FREQ_TOPK),
    "agg_global_stats": (q_agg_global_stats, SQL_AGG_GLOBAL_STATS),
    "agg_grouped_stats": (q_agg_grouped_stats, SQL_AGG_GROUPED_STATS),
    "agg_grouping_sets": (q_agg_grouping_sets, SQL_AGG_GROUPING_SETS),
    "agg_having": (q_agg_having, SQL_AGG_HAVING),
    "agg_heavy_hitters": (q_agg_heavy_hitters, SQL_AGG_HEAVY_HITTERS),
    "agg_histogram": (q_agg_histogram, SQL_AGG_HISTOGRAM),
    "agg_hll_rollup": (q_agg_hll_rollup, SQL_AGG_HLL_ROLLUP),
    "agg_hopping": (q_agg_hopping, SQL_AGG_HOPPING),
    "agg_hourly_profile": (q_agg_hourly_profile, SQL_AGG_HOURLY_PROFILE),
    "agg_incremental": (q_agg_incremental, SQL_AGG_TUMBLING),
    "agg_integrity": (q_agg_integrity, SQL_AGG_INTEGRITY),
    "agg_linreg": (q_agg_linreg, SQL_AGG_LINREG),
    "agg_mad": (q_agg_mad, SQL_AGG_MAD),
    "agg_mannwhitney": (q_agg_mannwhitney, SQL_AGG_MANNWHITNEY),
    "agg_ordered_array": (q_agg_ordered_array, SQL_AGG_ORDERED_ARRAY),
    "agg_outliers": (q_agg_outliers, SQL_AGG_OUTLIERS),
    "agg_percentiles": (q_agg_percentiles, SQL_AGG_PERCENTILES),
    "agg_pivot": (q_agg_pivot, SQL_AGG_PIVOT),
    "agg_rollup": (q_agg_rollup, SQL_AGG_ROLLUP),
    "agg_salted": (q_agg_salted, SQL_AGG_SALTED),
    "agg_tdigest": (q_agg_tdigest, SQL_AGG_TDIGEST),
    "agg_topk_group": (q_agg_topk_group, SQL_AGG_TOPK_GROUP),
    "agg_tumbling": (q_agg_tumbling, SQL_AGG_TUMBLING),
    "agg_winsorize": (q_agg_winsorize, SQL_AGG_WINSORIZE),
    "cpd_candidates": (q_cpd_candidates, None),
    "dedup_against": (q_dedup_against, SQL_DEDUP_AGAINST),
    "dedup_canonical": (q_dedup_canonical, SQL_DEDUP_CANONICAL),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_exact_keep": (q_dedup_exact_keep, SQL_DEDUP_EXACT_KEEP),
    "dedup_groups": (q_dedup_groups, SQL_DEDUP_GROUPS),
    "dedup_jaccard": (q_dedup_jaccard, SQL_DEDUP_JACCARD_INVERTED),
    "dedup_jaccard_inverted": (q_dedup_jaccard_inverted, SQL_DEDUP_JACCARD_INVERTED),
    "dedup_lines": (q_dedup_lines, SQL_DEDUP_LINES),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_semantic": (q_dedup_semantic, SQL_DEDUP_SEMANTIC),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_DEDUP_SIMHASH_PAIRS),
    "dedup_substring": (q_dedup_substring, SQL_DEDUP_SUBSTRING),
    "dedup_substring_strip": (q_dedup_substring_strip, SQL_DEDUP_SUBSTRING_STRIP),
    "eda_movement": (q_eda_movement, SQL_EDA_MOVEMENT),
    "evt_cohort": (q_evt_cohort, SQL_EVT_COHORT),
    "evt_funnel": (q_evt_funnel, SQL_EVT_FUNNEL),
    "evt_transitions": (q_evt_transitions, SQL_EVT_TRANSITIONS),
    "filt_balance_strata": (q_filt_balance_strata, SQL_FILT_BALANCE_STRATA),
    "filt_between_isin": (q_filt_between_isin, SQL_FILT_BETWEEN_ISIN),
    "filt_clamp": (q_filt_clamp, SQL_FILT_CLAMP),
    "filt_hash_split": (q_filt_hash_split, SQL_FILT_HASH_SPLIT),
    "filt_project_range": (q_filt_project_range, SQL_FILT_PROJECT_RANGE),
    "filt_sample_exact_k": (q_filt_sample_exact_k, SQL_FILT_SAMPLE_EXACT_K),
    "filt_sample_mod": (q_filt_sample_mod, SQL_FILT_SAMPLE_MOD),
    "filt_shuffle_shards": (q_filt_shuffle_shards, SQL_FILT_SHUFFLE_SHARDS),
    "filt_temperature_mix": (q_filt_temperature_mix, SQL_FILT_TEMPERATURE_MIX),
    "filt_token_budget": (q_filt_token_budget, SQL_FILT_TOKEN_BUDGET),
    "filt_weighted_mix": (q_filt_weighted_mix, SQL_FILT_WEIGHTED_MIX),
    "filt_weighted_sample": (q_filt_weighted_sample, SQL_FILT_WEIGHTED_SAMPLE),
    "geo_radius_join": (q_geo_radius_join, SQL_GEO_RADIUS_JOIN),
    "graph_pagerank": (q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "join_anti": (q_join_anti, SQL_JOIN_ANTI),
    "join_asof": (q_join_asof, SQL_JOIN_ASOF),
    "join_asof_backward": (q_join_asof_backward, SQL_JOIN_ASOF_BACKWARD),
    "join_asof_merge": (q_join_asof_merge, SQL_JOIN_ASOF_MERGE),
    "join_bloom": (q_join_bloom, SQL_JOIN_BLOOM),
    "join_equi_revenue": (q_join_equi_revenue, SQL_JOIN_EQUI_REVENUE),
    "join_fuzzy": (q_join_fuzzy, SQL_JOIN_FUZZY),
    "join_interval": (q_join_interval, SQL_JOIN_INTERVAL),
    "join_interval_priority": (q_join_interval_priority, SQL_JOIN_INTERVAL_PRIORITY),
    "join_lookup": (q_join_lookup, SQL_JOIN_LOOKUP),
    "join_overlap": (q_join_overlap, SQL_JOIN_OVERLAP),
    "join_range_bin": (q_join_range_bin, SQL_JOIN_RANGE_BIN),
    "join_salted": (q_join_salted, SQL_JOIN_SALTED),
    "join_semi": (q_join_semi, SQL_JOIN_SEMI),
    "join_upsert": (q_join_upsert, SQL_JOIN_UPSERT),
    "mm_features": (q_mm_features, SQL_MM_FEATURES),
    "mm_frames": (q_mm_frames, SQL_MM_FRAMES),
    "pipeline_curation": (q_pipeline_curation, SQL_PIPELINE_CURATION),
    "pipeline_features": (q_pipeline_features, SQL_PIPELINE_FEATURES),
    "pipeline_silver": (q_pipeline_silver, SQL_PIPELINE_SILVER),
    "qa_psi": (q_qa_psi, SQL_QA_PSI),
    "qa_validate": (q_qa_validate, SQL_QA_VALIDATE),
    "scalar_binning": (q_scalar_binning, SQL_SCALAR_BINNING),
    "scalar_hash_id": (q_scalar_hash_id, SQL_SCALAR_HASH_ID),
    "scalar_json": (q_scalar_json, SQL_SCALAR_JSON),
    "scalar_position": (q_scalar_position, SQL_SCALAR_POSITION),
    "scalar_quantile_bins": (q_scalar_quantile_bins, SQL_SCALAR_QUANTILE_BINS),
    "scalar_silver": (q_scalar_silver, SQL_SCALAR_SILVER),
    "scalar_wkt": (q_scalar_wkt, SQL_SCALAR_WKT),
    "scd_type2": (q_scd_type2, SQL_SCD_TYPE2),
    "set_except": (q_set_except, SQL_SET_EXCEPT),
    "set_intersect": (q_set_intersect, SQL_SET_INTERSECT),
    "set_union": (q_set_union, SQL_SET_UNION),
    "sim_bucketed_topk": (q_sim_bucketed_topk, SQL_SIM_BUCKETED_TOPK),
    "sim_cosine_topk": (q_sim_cosine_topk, SQL_SIM_COSINE_TOPK),
    "sim_ivf_topk": (q_sim_ivf_topk, SQL_SIM_COSINE_TOPK),
    "sim_lsh_topk": (q_sim_lsh_topk, SQL_SIM_COSINE_TOPK),
    "sim_pq_topk": (q_sim_pq_topk, SQL_SIM_COSINE_TOPK),
    "sort_topk": (q_sort_topk, SQL_SORT_TOPK),
    "sql_views": (q_sql_views, SQL_SQL_VIEWS),
    "stat_auc": (q_stat_auc, SQL_STAT_AUC),
    "stat_calibration": (q_stat_calibration, SQL_STAT_CALIBRATION),
    "stat_chi2": (q_stat_chi2, SQL_STAT_CHI2),
    "stat_kappa": (q_stat_kappa, SQL_STAT_KAPPA),
    "stat_ks": (q_stat_ks, SQL_STAT_KS),
    "text_bm25": (q_text_bm25, SQL_TEXT_BM25),
    "text_bpe": (q_text_bpe, None),
    "text_chunks": (q_text_chunks, SQL_TEXT_CHUNKS),
    "text_decontaminate": (q_text_decontaminate, SQL_TEXT_DECONTAMINATE),
    "text_decontaminate_embed": (q_text_decontaminate_embed, SQL_TEXT_DECONTAMINATE_EMBED),
    "text_fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "text_js_divergence": (q_text_js_divergence, SQL_TEXT_JS_DIVERGENCE),
    "text_lang": (q_text_lang, SQL_TEXT_LANG),
    "text_lm_bigram": (q_text_lm_bigram, SQL_TEXT_LM_BIGRAM),
    "text_lm_score": (q_text_lm_score, SQL_TEXT_LM_SCORE),
    "text_ngrams": (q_text_ngrams, SQL_TEXT_NGRAMS),
    "text_packed": (q_text_packed, None),
    "text_packed_nextfit": (q_text_packed_nextfit, SQL_TEXT_PACKED_NEXTFIT),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "text_quality_gate": (q_text_quality_gate, SQL_TEXT_QUALITY_GATE),
    "text_redact": (q_text_redact, SQL_TEXT_REDACT),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "text_retrieval_eval": (q_text_retrieval_eval, SQL_TEXT_RETRIEVAL_EVAL),
    "text_rrf": (q_text_rrf, SQL_TEXT_RRF),
    "text_tfidf": (q_text_tfidf, SQL_TEXT_TFIDF),
    "text_tokens": (q_text_tokens, SQL_TEXT_TOKENS),
    "ts_cusum": (q_ts_cusum, SQL_TS_CUSUM),
    "ts_ewma": (q_ts_ewma, SQL_TS_EWMA),
    "ts_gapfill": (q_ts_gapfill, SQL_TS_GAPFILL),
    "ts_ohlc": (q_ts_ohlc, SQL_TS_OHLC),
    "ts_seasonal": (q_ts_seasonal, SQL_TS_SEASONAL),
    "val_candidate_clustering": (q_val_candidate_clustering, SQL_VAL_CANDIDATE_CLUSTERING),
    "val_label_windows": (q_val_label_windows, SQL_VAL_LABEL_WINDOWS),
    "val_signal_context": (q_val_signal_context, SQL_VAL_SIGNAL_CONTEXT),
    "win_blocks": (q_win_blocks, SQL_WIN_BLOCKS),
    "win_diff_shift": (q_win_diff_shift, SQL_WIN_DIFF_SHIFT),
    "win_ffill": (q_win_ffill, SQL_WIN_FFILL),
    "win_hampel": (q_win_hampel, SQL_WIN_HAMPEL),
    "win_lag_delta": (q_win_lag_delta, SQL_WIN_LAG_DELTA),
    "win_minmax_flags": (q_win_minmax_flags, SQL_WIN_MINMAX_FLAGS),
    "win_partition_stddev": (q_win_partition_stddev, SQL_WIN_PARTITION_STDDEV),
    "win_range_frame": (q_win_range_frame, SQL_WIN_RANGE_FRAME),
    "win_rank_family": (q_win_rank_family, SQL_WIN_RANK_FAMILY),
    "win_rolling": (q_win_rolling, SQL_WIN_ROLLING),
    "win_rolling_corr": (q_win_rolling_corr, SQL_WIN_ROLLING_CORR),
    "win_running_sum": (q_win_running_sum, SQL_WIN_RUNNING_SUM),
    "win_savgol": (q_win_savgol, SQL_WIN_SAVGOL),
    "win_sessionize": (q_win_sessionize, SQL_WIN_SESSIONIZE),
}

WINDOW_R13: list[str] = [
    "agg_hll_rollup",
    "dedup_minhash_lsh",
    "dedup_against",
    "dedup_jaccard_inverted",
    "dedup_containment",
    "text_bm25",
    "dedup_embedding",
    "sim_ivf_topk",
    "agg_cube",
    "agg_describe",
    "agg_diversity",
    "agg_global_stats",
    "agg_histogram",
    "agg_incremental",
    "agg_linreg",
    "agg_mad",
    "agg_mannwhitney",
    "agg_outliers",
    "agg_salted",
    "agg_topk_group",
    "agg_winsorize",
    "dedup_exact_keep",
    "dedup_simhash",
    "dedup_substring",
    "dedup_substring_strip",
    "eda_movement",
    "evt_transitions",
    "filt_temperature_mix",
    "filt_weighted_mix",
    "geo_radius_join",
    "join_fuzzy",
    "text_retrieval_eval",
    "stat_auc",
    "stat_calibration",
    "text_js_divergence",
    "dedup_jaccard",
    "text_rrf",
    "dedup_groups",
    "dedup_canonical",
    "sim_pq_topk",
    "join_lookup",
    "join_salted",
    "pipeline_features",
    "pipeline_silver",
    "qa_psi",
    "scalar_binning",
    "scalar_quantile_bins",
    "scalar_wkt",
    "stat_chi2",
    "text_fingerprint",
]

_TAIL_R13: list[str] = [
    "text_redact",
    "ts_ohlc",
    "ts_seasonal",
    "win_hampel",
    "win_minmax_flags",
    "win_range_frame",
    "join_upsert",
    "scalar_hash_id",
    "agg_heavy_hitters",
    "dedup_semantic",
    "filt_sample_exact_k",
    "scd_type2",
    "win_rolling_corr",
    "cpd_candidates",
    "agg_approx",
    "text_packed",
    "text_bpe",
    "stat_ks",
    "val_label_windows",
    "val_candidate_clustering",
    "join_asof",
    "join_asof_backward",
    "filt_weighted_sample",
    "agg_cms_counts",
    "join_equi_revenue",
    "join_interval",
    "sql_views",
    "join_bloom",
    "agg_tdigest",
    "ts_ewma",
    "ts_cusum",
    "agg_grouping_sets",
    "agg_hopping",
    "agg_rollup",
    "dedup_lines",
    "dedup_simhash_pairs",
    "evt_cohort",
    "evt_funnel",
    "filt_balance_strata",
    "filt_hash_split",
    "filt_shuffle_shards",
    "filt_token_budget",
    "join_asof_merge",
    "join_range_bin",
    "mm_features",
    "mm_frames",
    "pipeline_curation",
    "qa_validate",
    "scalar_json",
    "sim_bucketed_topk",
    "sim_cosine_topk",
    "sim_lsh_topk",
    "text_chunks",
    "val_signal_context",
    "join_overlap",
    "join_interval_priority",
    "text_decontaminate",
    "text_lm_score",
    "text_ngrams",
    "text_packed_nextfit",
    "text_quality",
    "text_quality_gate",
    "text_repetition",
    "text_tfidf",
    "ts_gapfill",
    "win_blocks",
    "win_rank_family",
    "win_sessionize",
    "agg_grouped_stats",
    "agg_percentiles",
    "agg_tumbling",
    "win_lag_delta",
    "win_rolling",
    "agg_conditional",
    "agg_date_distribution",
    "agg_distinct",
    "agg_fraction",
    "agg_freq_topk",
    "agg_having",
    "agg_hourly_profile",
    "agg_integrity",
    "agg_ordered_array",
    "agg_pivot",
    "dedup_exact",
    "filt_between_isin",
    "filt_clamp",
    "filt_project_range",
    "filt_sample_mod",
    "join_anti",
    "join_semi",
    "scalar_position",
    "scalar_silver",
    "graph_pagerank",
    "set_except",
    "set_intersect",
    "set_union",
    "sort_topk",
    "stat_kappa",
    "text_decontaminate_embed",
    "text_lang",
    "text_lm_bigram",
    "text_tokens",
    "win_diff_shift",
    "win_ffill",
    "win_partition_stddev",
    "win_running_sum",
    "win_savgol",
    "agg_ab_test",
    "agg_corr_matrix",
]

assert len(WINDOW_R13) == 50, len(WINDOW_R13)
assert len(WINDOW_R13) == len(set(WINDOW_R13))
assert len(_TAIL_R13) == len(set(_TAIL_R13))
assert not set(WINDOW_R13) & set(_TAIL_R13)
assert set(WINDOW_R13) | set(_TAIL_R13) == set(_ALL), (
    set(WINDOW_R13) ^ set(_TAIL_R13) ^ set(_ALL)
)

QUERIES: dict[str, tuple] = {k: _ALL[k] for k in WINDOW_R13 + _TAIL_R13}
