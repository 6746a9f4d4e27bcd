"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from ai_data_pipeline_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "profile_customer",
    "profile_lineitem",
    "profile_events",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q7_nation_trade",
    "q17_small_quantity_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "q19_discounted_revenue",
    "q_cheapest_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q13_order_distribution",
    "q21_waiting_suppliers",
    "q_moving_avg_7d",
    "q_outliers_iqr",
    "q_zscore_outliers",
    "q_heavy_hitter_users",
    "q_gap_fill_locf",
    "q_upsert_merge",
    "q_salted_join_revenue",
    "graph_pagerank_nations",
    "dedup_chunk_passages",
    "pyds_synthetic_agg",
    "sketch_countmin_users",
    "sketch_bloom_filter_join",
    "q_corr_matrix",
    "q_chi_square",
    "er_fuzzy_linkage",
    "text_feature_hashing",
    "q_events_window",
    "q_sliding_window",
    "q_time_bucket_rollup",
    "q_asof_join",
    "q_range_join",
    "q_sessionize",
    "q_event_funnel",
    "q_event_transitions",
    "q_cohort_retention",
    "q_time_weighted_avg",
    "q_zorder_layout",
    "q_daily_distinct_users",
    "pipeline_clean_corpus",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "text_stats",
    "text_lang_id",
    "text_tfidf_top_terms",
    "udaf_sum_sq",
    "dq_checks",
    "schema_drift",
    "ann_cosine_topk",
    "ann_lsh_buckets",
    "ann_ivf",
    "dedup_embedding_cosine",
    "emb_kmeans_fixed_point",
    "multimodal_byte_features",
    "multimodal_frame_sample",
    "multimodal_audio_energy",
    "dq_benford_check",
    "corpus_decontaminate",
    "corpus_repetition_signals",
    "corpus_split_assign",
    "corpus_mixing_weights",
    "corpus_sequence_packing",
    "corpus_oov_rate",
    "sql_recursive_closure",
    "emb_scalar_quantize",
    "corpus_bpe_pair_stats",
    "dq_k_anonymity",
    # round-5 additions (self-baseline in BASELINE.md "Round-5 new
    # queries" table)
    "corpus_domain_caps",
    "corpus_bpe_apply",
    "corpus_token_rarity",
    "ann_rerank",
    "multimodal_image_tiles",
    "multimodal_image_phash",
    "dq_referential_integrity",
    "dedup_semantic",
    "multimodal_image_phash_pairs",
    "corpus_boilerplate_ngrams",
    "corpus_temperature_mix",
    "emb_random_projection",
    "emb_pq_encode",
    "dedup_sentences",
    "dedup_incremental",
    "text_encoding_audit",
    "ann_ivf_pq",
    "q_cdc_apply",
    "q_interval_sweep",
    "dedup_minhash_estimate",
    "text_readability",
    "dq_join_fanout_guard",
    "er_golden_record",
    "q_table_diff",
    "corpus_ngram_novelty",
    "multimodal_shot_boundaries",
    "multimodal_header_meta",
    "q_gini_segments",
    "emb_prefix_recall",
    "corpus_chunk_overlap",
    "text_vocab_coverage",
    "q_mad_outliers",
    "q_percent_rank_dist",
    "emb_quality_audit",
    "corpus_source_overlap",
    "q_seasonal_index",
    "q_scd2_merge",
    "ann_knn_classify",
    # round-6 additions (self-baseline in BASELINE.md round-6 section)
    "sketch_quantile_hist",
    "q_quantile_exact_twophase",
    # round-7 additions (self-baseline in BASELINE.md round-7 section)
    "cls_linear_train",
    "cls_linear_score",
    "cls_linear_eval",
    "cls_linear_multiclass",
    "text_bm25_topk",
    # round-8 additions (anchored in BASELINE.md round-8 section)
    "corpus_lm_train",
    "corpus_lm_quality",
    "corpus_length_buckets",
    "pipeline_quality_resample",
    "dedup_dup_spans",
    "dedup_keep_best",
    "corpus_shard_manifest",
    "corpus_epoch_plan",
    "retrieval_rrf_fusion",
    "emb_hard_negatives",
    "quality_kendall_tau",
    "bucketed_colocated_join",
    "stream_first_touch",
    "emb_outlier_distance",
    "corpus_priority_sample",
    "pipeline_doc_scorecard",
    "q_pivot_daily_events",
    "csv_corrupt_ingest",
    "cls_roc_auc",
    "cls_confusion_matrix",
    "dedup_lsh_recall",
    "text_keyword_rake",
    "ann_ivf_recall",
    "er_linkage_eval",
    "retrieval_mmr_select",
    "cls_score_percentile",
    "pipeline_curation_funnel",
    "emb_covariance_stats",
    "stream_index_dedup",
    "corpus_pii_scan",
    "corpus_tombstone_purge",
    "dq_l_diversity",
    "zonemap_skip_audit",
    "fd_discovery",
    "corpus_split_leakage",
    "emb_drift_monitor",
    # round-9 additions (anchored in BASELINE.md round-9 section)
    "multimodal_png_roundtrip",
    "multimodal_wav_roundtrip",
    "dedup_clusters_logstar",
    "stream_profile_documents",
    "cls_reliability_bins",
    "ann_ivf_cell_balance",
    "corpus_dataset_card",
    "emb_dim_variance_rank",
    # round-10 additions (anchored in BASELINE.md round-10 section)
    "multimodal_bmp_roundtrip",
    "sketch_quantile_tolerance",
    "q_daily_users_hll",
    "dq_partition_anomaly",
    # round-11 additions (anchored in BASELINE.md round-11 section)
    "ann_mllib_brp_recall",
    "profile_lineitem_approx_audit",
    "stream_ivf_index_upsert",
    "stream_ivf_cell_migration",
    "crossmodal_dedup_agreement",
    "multimodal_gif_roundtrip",
    "sketch_kmv_users",
    "sketch_kmv_jaccard",
    "sketch_kmv_merge_days",
    "sketch_mg_topk",
    "sketch_mg_merge_days",
    "aqp_sample_estimate",
    "aqp_sample_staircase",
    "aqp_stratified_allocation",
    "aqp_group_estimate",
    "aqp_universe_join",
    "stream_mg_heavy_hitters",
    "q_decayed_heavy_hitters",
    "cls_fairness_audit",
    "aqp_jackknife",
    "ann_ivf_trained",
    "ann_ivf_trained_recall",
    "stream_watermark_late_drop",
    "corpus_unigram_train",
    "corpus_unigram_apply",
    "corpus_unigram_roundtrip",
    "retrieval_ranking_metrics",
    "ann_ivf_pq_trained",
    "ann_ivf_pq_trained_audit",
    "corpus_unigram_prune",
    "dedup_lsh_band_tuning",
    "emb_pq_residual_encode",
    "dedup_containment",
    "aqp_bootstrap",
    "aqp_bootstrap_ratio",
    "ann_ivf_pq_rerank",
    "corpus_unigram_converge",
]


# The stdout line must fit the 2000-char tail of stdout that its
# consumer keeps and parses, and the full names of all timed queries do
# not, so it carries this FIXED set of 74 names in priority order
# (watchlist, flagships, profiles, then HEADLINE order). Truncating the set to fit made the
# emitted names depend on digit widths, which read as a query dropped
# from the bench; when digits overflow the budget, value precision
# degrades instead (stdout_line). The complete full-precision record
# for all queries is committed in BENCH_SELF.json.
STDOUT_QUERIES = [
    "emb_prefix_recall", "q5_region_revenue", "q3_top_orders",
    "ann_ivf", "q_time_bucket_rollup", "dedup_minhash_lsh",
    "dedup_minhash_estimate", "ann_rerank", "profile_customer",
    "profile_lineitem", "profile_events", "q1_pricing_summary",
    "q6_forecast_revenue", "q18_large_orders", "q7_nation_trade",
    "q17_small_quantity_revenue", "q10_returned_items",
    "q19_discounted_revenue", "q_cheapest_supplier",
    "q8_market_share", "q9_product_profit", "q13_order_distribution",
    "q21_waiting_suppliers", "q_moving_avg_7d", "q_outliers_iqr",
    "q_zscore_outliers", "q_heavy_hitter_users", "q_gap_fill_locf",
    "q_upsert_merge", "q_salted_join_revenue",
    "graph_pagerank_nations", "dedup_chunk_passages",
    "pyds_synthetic_agg", "sketch_countmin_users",
    "sketch_bloom_filter_join", "q_corr_matrix", "q_chi_square",
    "er_fuzzy_linkage", "text_feature_hashing", "q_events_window",
    "q_sliding_window", "q_asof_join", "q_range_join", "q_sessionize",
    "q_event_funnel", "q_event_transitions", "q_cohort_retention",
    "q_time_weighted_avg", "q_zorder_layout", "q_daily_distinct_users",
    "pipeline_clean_corpus", "dedup_exact", "dedup_clusters",
    "text_stats", "text_lang_id", "text_tfidf_top_terms",
    "udaf_sum_sq", "dq_checks", "schema_drift", "ann_cosine_topk",
    "ann_lsh_buckets", "dedup_embedding_cosine",
    "emb_kmeans_fixed_point", "multimodal_byte_features",
    "multimodal_frame_sample", "multimodal_audio_energy",
    "dq_benford_check", "corpus_decontaminate",
    "corpus_repetition_signals", "corpus_split_assign",
    "corpus_mixing_weights", "corpus_sequence_packing",
    "corpus_oov_rate", "sql_recursive_closure",
]
STDOUT_LIMIT = 1990


def stdout_line(out: dict, timings: dict[str, float]) -> str:
    """The compact JSON stdout line over STDOUT_QUERIES: value precision
    steps down 2 → 1 → 0 decimals until the line fits STDOUT_LIMIT;
    raises if it still does not, rather than print a line that would be
    cut off."""
    for ndigits in (2, 1, None):
        out["queries"] = {
            k: round(timings[k], ndigits) for k in STDOUT_QUERIES
        }  # ndigits=None -> int, the last-resort 0-decimal rung
        line = json.dumps(out, separators=(",", ":"))
        if len(line) <= STDOUT_LIMIT:
            return line
    raise ValueError(
        f"bench stdout line is {len(line)} chars, over the {STDOUT_LIMIT} limit"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(os.cpu_count() or 4, 32)
    spark = get_spark("adp-bench", cpus=cpus)
    qs = entry_mod.queries()

    # Warmup so per-query numbers measure steady-state execution, not
    # one-time initialization: a trivial action (JVM/scheduler), a tiny
    # profile (parquet reader + regex + profiler codegen compile, ~3 s
    # once per session), and a trivial Arrow batch (python worker spawn).
    spark.range(1000).count()
    qs["profile_region"](spark, sf_dir).count()
    spark.range(100).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()

    # clamped to >= 1: rep 0 seeds first_run/rows_out, which the rescue
    # pass and the print loop read unconditionally (ADVICE r9)
    timed_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    # Hybrid estimator, tuned to this host's two noise modes:
    # - per query: one untimed compile run, then `timed_reps`
    #   back-to-back timed reps (warm codegen — compilation happens
    #   once per query shape and amortizes to zero at scale);
    # - then ONE extra interleaved rescue pass over the whole list,
    #   taking the per-query MIN with the inner reps.
    # Why both: the host's CPU-quota throttle events last tens of
    # seconds — long enough to inflate BOTH back-to-back inner reps of
    # whichever query they land on (every round-9 inner-loop bench had
    # exactly one 2-3x spiked query, a different one each run); the
    # rescue pass re-times each query minutes later, when the same
    # event cannot still be in flight. A PURE interleaved design was
    # tried and rejected: with ~163 queries between compile and
    # timing, the janino codegen cache evicts and short queries pay
    # recompilation in every pass (text_lang_id measured 2.6x). The
    # inner reps keep codegen warm; the rescue pass de-correlates
    # throttle. The FIRST inner rep is also kept as the single-run
    # estimator for comparability with BASELINE.md's single-run
    # tables; both columns land in BENCH_SELF.json. Caches are
    # cleared so measured runs pay their own materialization.
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    rows_out: dict[str, int] = {}
    for name in HEADLINE:
        qs[name](spark, sf_dir).count()  # untimed compile run
        for rep in range(timed_reps):
            spark.catalog.clearCache()
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            dt = time.time() - t0
            if rep == 0:
                first_run[name] = round(dt, 3)
                rows_out[name] = n
            timings[name] = round(min(timings.get(name, dt), dt), 3)
    for name in HEADLINE:  # interleaved throttle-rescue pass
        spark.catalog.clearCache()
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        timings[name] = round(min(timings[name], time.time() - t0), 3)
    for name in HEADLINE:
        print(
            f"# {name}: {timings[name]}s ({rows_out[name]} rows)",
            file=sys.stderr,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
        "reps": timed_reps,
        "estimator": "min",
    }
    # Full-precision record with BOTH estimator columns, committed next
    # to the code: the round driver keeps only the last 2000 chars of
    # stdout, which truncated the r4 line — this file is the durable,
    # fully comparable artifact (see BENCH_r04.json "tail").
    full = dict(out)
    full["queries_single_run"] = first_run
    full["value_single_run"] = round(sum(first_run.values()), 3)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json"),
            "w",
        ) as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line still carries the result
    out.pop("reps", None)
    out.pop("estimator", None)
    out["metric"] = "headline_total"
    out["queries_omitted"] = len(timings) - len(STDOUT_QUERIES)
    print(stdout_line(out, timings))


if __name__ == "__main__":
    main()
