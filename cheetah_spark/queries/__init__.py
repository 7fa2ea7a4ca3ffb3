"""Import all query modules for their @register side effects, and fix
the order the registry presents queries to the verification driver.

The driver's CORRECTNESS check covers the first 50 entries of
``queries()`` in iteration order (round-1 finding: exactly the first 50
registration-order names got rows; windows/surface/timeseries/streams
registered after slot 50 and were never checked). ``CHECK_FIRST`` below
is the rotation schedule: operators with no driver row yet, fixed or
rewritten operators, and operators new this round come first so every
operator accumulates a driver correctness row across rounds; names not
listed keep registration order after the listed ones.
"""

from cheetah_spark.queries import advanced  # noqa: F401
from cheetah_spark.queries import amqp  # noqa: F401
from cheetah_spark.queries import analytics  # noqa: F401
from cheetah_spark.queries import curation  # noqa: F401
from cheetah_spark.queries import declarative  # noqa: F401
from cheetah_spark.queries import formats  # noqa: F401
from cheetah_spark.queries import journald  # noqa: F401
from cheetah_spark.queries import kafka  # noqa: F401
from cheetah_spark.queries import kinesis  # noqa: F401
from cheetah_spark.queries import mqtt  # noqa: F401
from cheetah_spark.queries import nats  # noqa: F401
from cheetah_spark.queries import nsq  # noqa: F401
from cheetah_spark.queries import privacy  # noqa: F401
from cheetah_spark.queries import profile  # noqa: F401
from cheetah_spark.queries import pubsub  # noqa: F401
from cheetah_spark.queries import redis  # noqa: F401
from cheetah_spark.queries import llm  # noqa: F401
from cheetah_spark.queries import memcache  # noqa: F401
from cheetah_spark.queries import multimodal  # noqa: F401
from cheetah_spark.queries import regression  # noqa: F401
from cheetah_spark.queries import relational  # noqa: F401
from cheetah_spark.queries import scalars  # noqa: F401
from cheetah_spark.queries import security  # noqa: F401
from cheetah_spark.queries import streams  # noqa: F401
from cheetah_spark.queries import surface  # noqa: F401
from cheetah_spark.queries import syslog  # noqa: F401
from cheetah_spark.queries import timeseries  # noqa: F401
from cheetah_spark.queries import tokenizer  # noqa: F401
from cheetah_spark.queries import webhook  # noqa: F401
from cheetah_spark.queries import windows  # noqa: F401
from cheetah_spark.queries import xmlio  # noqa: F401
from cheetah_spark.queries import zmq  # noqa: F401

# STANDING POLICY (round-6 verdict item #2): CHECK_FIRST is rebuilt
# every round as (1) operators new or changed this round — their
# latest driver row predates the code — then (2) the stale cohort,
# oldest latest-row first, so no query's most recent driver evidence
# ever ages past ~3 rounds. A stale header here is itself a review
# signal (r12 verdict item #1: the r12 rebuild was skipped).
#
# Round-13 window: 4 r12 ops with no driver row yet (q/s_config_fineweb,
# s_llm_ann_ivf, s_llm_gopher_filter — r12 verdict item #1), the r13
# additions (s_llm_url_dedup_ttl, q/s_config_fineweb_v2,
# q/s_config_ann_enrich, the security-detection family q/s_sec_*,
# q/s_config_detections, q_profile_table, q_priv_k_anonymity), the
# url-dedup pair changed this round (rebirth tie-break fix, ADVICE r12),
# then the full stale cohort oldest-latest-driver-row first (24 r7, 43
# r8, then r9/r10/r12), alphabetical within a round so the roll is
# deterministic. The r13 head grew to ~25 names, so slots 1-50 ≈ the
# head + all of r7 + the first r8 name — after r13 no query's latest
# evidence should be older than r8, and the r8 cohort drains from r14.
CHECK_FIRST = [
    "q_config_fineweb",
    "s_config_fineweb",
    "s_llm_ann_ivf",
    "s_llm_gopher_filter",
    "s_llm_url_dedup_ttl",
    "q_config_fineweb_v2",
    "s_config_fineweb_v2",
    "q_config_ann_enrich",
    "s_config_ann_enrich",
    "q_sec_port_scan",
    "s_sec_port_scan",
    "q_sec_brute_force",
    "s_sec_brute_force",
    "q_sec_log_drift",
    "s_sec_log_drift",
    "q_config_detections",
    "s_config_detections",
    "q_profile_table",
    "q_priv_k_anonymity",
    "s_llm_url_dedup",
    "q_llm_url_dedup",
    # changed this round: banding refactored onto the shared
    # minhash_bucket_sql (same plan; evidence predates the code)
    "q_llm_minhash_dedup",
    "s_llm_minhash_dedup",
    # changed this round: local top-k tie order fixed to the
    # oracle's total order (argpartition -> lexsort, r12 bug class)
    "q_llm_ann_bruteforce",
    # latest driver row: r7
    "q_multimodal_meta",
    "q_pivot_events",
    "q_scalar_conditional",
    "q_scalar_math",
    "q_scalar_string",
    "q_scan_text_lines",
    "q_sec_cidr_match",
    "q_set_ops",
    "q_skew_salted_agg",
    "q_sort_limit_topk",
    "q_sql_interface",
    "q_time_window_sliding",
    "q_time_window_tumbling",
    "q_timeseries_gapfill",
    "q_timeseries_m4",
    "q_timeseries_rate",
    "q_unpivot_events",
    "q_window_range_frame",
    "s_stream_batcher",
    "s_stream_rate",
    "s_stream_session",
    "s_stream_topk_talkers",
    "s_stream_watermark_dropped",
    "s_stream_watermark_late",
    # latest driver row: r8
    "q_approx_distinct_hll",
    "q_approx_quantile_cd",
    "q_conditional_agg",
    "q_deser_xml",
    "q_exact_percentile",
    "q_journald_parse",
    "q_llm_ann_ivf",
    "q_llm_ann_ivfpq",
    "q_llm_ann_pq",
    "q_llm_chunk_windows",
    "q_llm_decontaminate",
    "q_llm_dedup_keep",
    "q_llm_dedup_pipeline",
    "q_llm_embed_quantize",
    "q_llm_ngram_jaccard",
    "q_llm_pack_sequences",
    "q_llm_pii_redact",
    "q_llm_repetition",
    "q_llm_sample_stratified",
    "q_llm_semdedup",
    "q_llm_shuffle_shards",
    "q_llm_similarity_topk",
    "q_llm_span_dedup",
    "q_llm_span_trim",
    "q_llm_text_stats",
    "q_llm_tfidf_topterms",
    "q_llm_unigram_encode",
    "q_llm_vocab_coverage",
    "q_mqtt_envelope",
    "q_null_semantics",
    "q_scan_csv",
    "q_scan_ndjson",
    "q_scan_orc",
    "q_sql_subqueries",
    "q_stats_moments",
    "q_udf_surface",
    "q_udtf_surface",
    "q_union_fanin",
    "q_webhook_sink_batches",
    "q_window_analytic",
    "q_window_frame_running",
    "q_window_ntile",
    "s_webhook_live",
    # latest driver row: r9
    "q_approx_heavy_cmsketch",
    "q_arrow_surface",
    "q_asof_join",
    "q_broadcast_join",
    "q_bucketed_join",
    "q_config_curation",
    "q_config_pipeline",
    "q_deser_json",
    "q_events_funnel",
    "q_events_histogram",
    "q_events_path_topk",
    "q_events_retention",
    "q_events_transitions",
    "q_filter_pred",
    "q_flatmap_explode",
    "q_graph_pagerank",
    "q_hash_join_inner",
    "q_hypertable_rollup",
    "q_kafka_envelope",
    "q_latest_by_key",
    "q_llm_bigram_logprob",
    "q_llm_bloom_decontaminate",
    "q_llm_bpe_encode",
    "q_llm_dataset_card",
    "q_llm_dsir_select",
    "q_llm_dup_clusters",
    "q_llm_dup_clusters_wide",
    "q_llm_embed_dedup",
    "q_llm_embed_pca",
    "q_llm_simhash_dedup",
    "q_llm_simhash_wide",
    "q_llm_unigram_tokenizer",
    "q_window_distinct_count",
    "q_window_rank",
    "s_config_curation",
    "s_eventlog_live",
    "s_journald_live",
    "s_kafka_replay",
    "s_mqtt_live",
    "s_stream_dedup",
    "s_stream_identity",
    "s_stream_stateful_counter",
    "s_stream_static_join",
    "s_stream_stream_join",
    # latest driver row: r10
    "q_amqp_envelope",
    "q_graph_triangles",
    "q_kinesis_envelope",
    "q_llm_ann_lsh",
    "q_llm_ann_lsh_fixedq",
    "q_llm_c4_rules",
    "q_llm_gopher_rules",
    "q_llm_perplexity_bucket",
    "q_memcache_roundtrip",
    "q_multimodal_audio_dedup",
    "q_multimodal_phash_dedup",
    "q_multiway_join_tpch",
    "q_nats_envelope",
    "q_nsq_envelope",
    "q_outer_joins",
    "q_pubsub_envelope",
    "q_redis_envelope",
    "q_scan_project",
    "q_scan_sqlite",
    "q_sec_anomaly_mad",
    "q_sec_first_seen",
    "q_semi_anti_join",
    "q_sql_lateral_topn",
    "q_sql_recursive_cte",
    "q_stats_linreg",
    "q_syslog_parse",
    "q_timeseries_ewma",
    "q_timeseries_ohlc",
    "q_udaf_surface",
    "q_window_percent_rank",
    "q_zmq_envelope",
    "s_amqp_replay",
    "s_kinesis_replay",
    "s_llm_bloom_decontaminate",
    "s_llm_c4_filter",
    "s_llm_embed_pca",
    "s_memcache_sink",
    "s_nats_replay",
    "s_nsq_replay",
    "s_pubsub_replay",
    "s_redis_replay",
    "s_sec_first_seen",
    "s_sqlite_cdc",
    "s_stream_scd2_lookup",
    "s_syslog_live",
    "s_timeseries_ohlc",
    "s_zmq_replay",
    # latest driver row: r12
    "q_agg_distinct",
    "q_array_map_ops",
    "q_cube_agg",
    "q_distinct_dedup",
    "q_grouping_sets",
    "q_hash_agg",
    "q_having_filter",
    "q_json_ops",
    "q_llm_bpe_train",
    "q_llm_cross_source_dups",
    "q_llm_dedup_recall_eval",
    "q_llm_domain_mix",
    "q_llm_entropy_filter",
    "q_llm_exact_dedup",
    "q_llm_fingerprint",
    "q_llm_incremental_dedup",
    "q_llm_kmeans",
    "q_llm_knn_classify",
    "q_llm_knn_classify_fixedq",
    "q_llm_lang_id",
    "q_llm_line_dedup",
    "q_llm_quality_regression",
    "q_llm_quality_score",
    "q_llm_sft_format",
    "q_llm_token_count",
    "q_llm_unigram_logprob",
    "q_llm_weighted_sample",
    "q_llm_winnow_fingerprint",
    "q_multimodal_codec_roundtrip",
    "q_multimodal_decode",
    "q_multimodal_framesample",
    "q_multimodal_resize",
    "q_scalar_datetime",
    "q_scan_binary_files",
    "q_scan_schema_merge",
    "q_scd2_history",
    "q_sec_anomaly_zscore",
    "q_sec_beacon_detect",
    "q_sec_impossible_travel",
    "q_session_window",
    "q_sink_partition_prune",
    "q_theta_range_join",
    "s_llm_embed_dedup",
    "s_llm_line_dedup",
    "s_llm_sft_format",
    "s_sec_impossible_travel",
]
