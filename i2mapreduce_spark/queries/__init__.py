"""Query registry: merges every group's QUERIES/ORACLES dicts.

Each group module exposes
  QUERIES: dict[key, callable(spark, sf_dir) -> DataFrame]
  ORACLES: dict[key, str]     # DuckDB-runnable ANSI SQL; omit => rows-only
Keys map 1:1 to SURVEY.md §2B.
"""

from __future__ import annotations

from importlib import import_module

_GROUP_MODULES = [
    "windows_q",    # W  — window functions
    "sorts",        # F  — sort / limit / top-k
    "setops",       # U  — set operations
    "scalar_fns",   # X  — scalar function surface
    "mapred_q",     # I  — MapReduce-core surface
    "udfs",         # V  — UDF / UDAF / UDTF surface
    "llmops",       # L  — LLM-data-pipeline operators
    "pipelines",    # L  — corpus-construction pipeline operators (r3)
    "iterative",    # J  — iterative algorithms
    "streaming_q",  # K  — incremental / streaming
    "scans",        # S  — scans / sources / sinks
    "projection",   # P  — projection / filter / predicates
    "joins",        # C  — join shapes
    "aggregates",   # D  — aggregation
    "quality",      # Q  — data-quality audits (r3)
    "timeseries",   # T  — time-series analytics (r3)
    "tpch_q",       # H  — TPC-H-shaped composite analytics (r4)
]

# Each graded round checks the first 50 registry keys, so these two
# lists set the registry order: _R13_WINDOW is the active first 50 and
# _R14_WINDOW is staged as the next first 50.  ROUNDS.md has the
# history of how each cohort was chosen.
_R13_WINDOW = [
    "dedup_simhash_grouped",
    "udf_pandas_vectorized",
    "udf_python_scalar",
    "udtf_python_native",
    "udtf_split_props",
    "window_cume_dist",
    "window_first_last_nth",
    "window_gaps_islands",
    "window_lag_lead",
    "window_range_interval",
    "window_rank_dense_ntile",
    "window_running_frame",
    "window_topk_per_group",
    "agg_distinct_multi",
    "dedup_cluster_resolve",
    "dedup_containment",
    "dedup_simhash",
    "fn_trig",
    "inc_apriori_pairs",
    "inc_delta_retract",
    "inc_mapreduce_wordcount",
    "iter_apriori_pairs",
    "iter_apriori_rules",
    "iter_apriori_triples",
    "iter_gimv",
    "iter_sssp",
    "iter_triangle_count",
    "join_skew_salted",
    "multimodal_extract",
    "multimodal_frame_sample",
    "multimodal_join",
    "multimodal_resize",
    "sample_stratified",
    "sim_label_centroid",
    "sim_threshold_pairs",
    "sim_topk_cosine",
    "sink_bucketed_join",
    "sink_parquet_roundtrip",
    "sink_upsert_merge",
    "source_csv_quoted_roundtrip",
    "source_incremental_files",
    "stream_complete_totals",
    "stream_dedup_exact",
    "stream_session_window",
    "stream_sliding_window",
    "stream_stateful_running",
    "stream_static_join",
    "stream_stream_join",
    "stream_tumbling_window",
    "text_bigram_top",
]

_R14_WINDOW = [
    "text_fingerprint",
    "text_lang_id",
    "text_lang_stats",
    "text_quality_score",
    "text_scrub_pii",
    "text_tfidf_top_terms",
    "text_token_count",
    "text_token_histogram",
    "text_ttr",
    "agg_decimal_exact",
    "agg_equidepth_histogram",
    "agg_gini",
    "agg_linreg",
    "agg_mode",
    "agg_skew_kurt",
    "agg_weighted_median",
    "dedup_embedding_cosine",
    "dq_benford",
    "dq_constraint_check",
    "dq_drift_psi",
    "dq_uniqueness",
    "embedding_quantize",
    "fn_base64_hex",
    "fn_ip_addr",
    "fn_url_parse",
    "iter_connected_components",
    "iter_pagerank",
    "iter_sssp_weighted",
    "join_asof_nearest",
    "join_asof_tolerance",
    "join_interval_overlap",
    "join_mark_exists",
    "join_point_in_time",
    "join_prefilter_bitmap",
    "multimodal_audio_energy",
    "multimodal_phash",
    "pipeline_dataset_card",
    "pipeline_mixture_weights",
    "pipeline_pack_sequences",
    "sample_reservoir",
    "setop_symmetric_diff",
    "source_schema_evolution",
    "stream_cdc_apply",
    "stream_late_watermark",
    "stream_scd2_compact",
    "text_entropy",
    "text_readability",
    "text_zipf_fit",
    "ts_resample_interpolate",
    "ts_time_weighted_avg",
]


def build_registry() -> tuple[dict, dict]:
    queries: dict = {}
    oracles: dict = {}
    for mod_name in _GROUP_MODULES:
        mod = import_module(f"{__name__}.{mod_name}")
        for k, fn in getattr(mod, "QUERIES", {}).items():
            if k in queries:
                raise ValueError(f"duplicate query key: {k}")
            queries[k] = fn
        for k, sql in getattr(mod, "ORACLES", {}).items():
            if k not in getattr(mod, "QUERIES", {}):
                raise ValueError(f"oracle without query: {k}")
            oracles[k] = sql
    ordered: dict = {}
    # graded windows first, in list order (see the note on _R13_WINDOW)
    for k in _R13_WINDOW + _R14_WINDOW:
        ordered[k] = queries.pop(k)  # KeyError = stale window list; fail loud
    ordered.update(queries)          # everything already graded, module order
    return ordered, oracles
