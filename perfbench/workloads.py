"""Frozen workload definitions.

Query lists are copied here, not imported from ``bench.py``, so that an
edit to the repository's own headline list cannot change what a
benchmark workload runs.
"""

from __future__ import annotations

#: ``bench.HEADLINE`` as of the commit that defined this benchmark (72
#: queries). ``selftest.py`` checks each is registered with an oracle.
HEADLINE = (
    "agg_running_stats", "agg_running_stats_by_type", "agg_naive_variance",
    "agg_batch_wordcount", "proj_json_extract_pair", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "agg_grouping_sets", "agg_session_window", "agg_corr_covar",
    "join_range_price_band", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_cosine", "sim_topk_cosine", "text_quality_score",
    "doc_fingerprint", "q8_market_share", "q9_product_profit",
    "q13_customer_distribution", "q18_large_volume_customer",
    "q11_important_values", "q12_late_priority_counts", "q21_waiting_suppliers",
    "anomaly_zscore", "text_tfidf_topk", "join_bloom_prefilter", "sim_srp_topk",
    "approx_cms_topk", "cohort_retention", "sql_recursive",
    "text_repetition_metrics", "text_decontaminate", "ts_rollup_hierarchy",
    "pack_token_budget", "fn_event_time_pack", "ts_gap_stats",
    "ts_rolling_window_1h", "feature_quantile_bins", "feature_hash_vectorize",
    "target_encode_oof", "approx_kmv_jaccard", "ts_ohlc_bars",
    "attribution_last_touch", "ts_sliding_dau", "seq_pattern_triples",
    "ts_anomaly_mad", "dq_checksum_buckets", "sample_reservoir_group",
    "layout_zorder_stats", "dedup_fingerprint_overlap", "pipeline_pretrain_corpus",
    "seq_transition_matrix", "ts_autocorr_lag", "graph_kcore", "dq_column_profile",
    "text_lexical_diversity", "text_ngram_novelty", "feature_chi2_select",
    "sample_bootstrap_stats", "pipeline_anomaly_panel", "fn_bloom_portable",
    "ts_activity_streaks", "dq_ks_two_sample", "mart_user_360", "agg_value_deciles",
    "privacy_kanon_cells", "text_skipgram_pairs", "pipeline_doc_scorecard",
)

#: The part of HEADLINE that ``batch_headline`` times. A warm pass over
#: all 72 queries costs about 50 s on a 4-core host whatever the scale
#: (it fires ~480 Spark jobs), which does not fit one run. These five
#: read every input table: events (the flagship aggregation), lineitem,
#: the eight-way star join (build-heavy: 0.7 s of its 1.1 s), documents
#: and embeddings, in ~3.6 s a warm pass.
BATCH_QUERIES = (
    "agg_running_stats",
    "q1_pricing_summary",
    "q8_market_share",
    "text_tfidf_topk",
    "sim_topk_cosine",
)

#: The four stream drains, in the order each pass runs them.
STREAM_QUERIES = (
    "stream_running_stats",
    "stream_stats_exact_state",
    "stream_windowed_wordcount",
    "stream_user_360",
)

#: Scale of the generated batch table set (sf0.01 row counts: 60k
#: lineitem, 10k events, 500 documents, 500 embeddings).
BATCH_SF = 0.01

#: Event set the stream workload drains; each part is one micro-batch.
#: One pass over the four drains costs 9-14 s on a 4-core host whatever
#: the size (2 parts of 6.4k events and 1k users cost no more than 3
#: parts of 600 events), so a few-large-batch workload would measure
#: the same fixed costs and is left out; its per-row and state terms
#: are the per-layer ``streaming.*`` metrics of this one.
STREAM_SHAPES = {
    "stream_many_small": {"n": 1_800, "users": 150, "parts": 3},
}

#: Tiny stream input drained by every set-up of a stream workload.
WARM_EVENTS = {"n": 200, "users": 20, "parts": 1}

#: workload -> (kind, queries, seconds budgeted per measured pass,
#: warm-up passes). A run first makes the warm-up passes, which are not
#: measured, then round(--seconds / that budget) measured passes, at
#: least one. The work of a run is fixed by ``--seconds``, not by how
#: fast the program gets through it, because queries speed up over the
#: first passes (JIT, caches) and a run that fits one more pass would
#: report warmer medians. A query's time is its median over the
#: measured passes. On a 4-core host a batch pass costs 8-9 s of CPU
#: cold, about 5 s the second time and 3.6-4.9 s from the third on
#: (still falling by about 3% a pass while the JIT compiler works), so
#: ``batch_headline`` warms up for two passes and then measures five
#: (3.6 s of wall each). A stream pass costs 29-31 s of CPU cold and
#: 24-25 s from the second, 12-13 s of wall; ``stream_many_small``
#: measures three, the cold one among them (a warm-up pass would add
#: 16 s of wall to every run, and all of a benchmark's runs together
#: must fit a fixed time), and the median of three is a warm one.
WORKLOADS = {
    "batch_headline": ("batch", BATCH_QUERIES, 4.8, 2),
    "stream_many_small": ("stream", STREAM_QUERIES, 8.0, 0),
}
