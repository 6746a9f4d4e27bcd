"""Named query lists the benchmark runs, one closed-loop client each.

Every name is a key of ``__spark_entry__.queries()`` with an oracle in
``__spark_entry__.oracle_sql()``. ``analytics`` and ``pipeline`` are the
workloads in BENCHMARK.json: each holds a few queries, so that one run
(fresh JVM, cold pass, warm passes) fits the time a
benchmark run is allowed. The four wider workloads below carry the full
query sets of their families; run them by hand with a longer
``--seconds`` (see run.py).
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, list[str]]] = {
    "analytics": (
        "the paper's profiler on the customer table plus an eight-load TPC-H "
        "join: catalog, Catalyst and shuffles; no Python workers, no streams",
        ["profile_customer", "q8_market_share"],
    ),
    "pipeline": (
        "IVF search whose crossJoin/argmax plan runs a pandas_udf cosine "
        "kernel, plus a watermarked, stateful micro-batch window aggregation",
        ["ann_ivf", "stream_tumbling_counts"],
    ),
    "profile": (
        "the paper's own operation: one wide regex/distinct aggregate per "
        "table and a single catalog load per query",
        [
            "profile_lineitem",
            "profile_orders",
            "profile_events",
            "profile_customer",
            "profile_part",
            "profile_documents",
            "profile_summary_customer",
        ],
    ),
    "tpch": (
        "multi-table joins with up to eight catalog loads per query; no "
        "Python workers, no streams",
        [
            "q1_pricing_summary",
            "q3_top_orders",
            "q5_region_revenue",
            "q7_nation_trade",
            "q8_market_share",
            "q9_product_profit",
            "q10_returned_items",
            "q13_order_distribution",
            "q17_small_quantity_revenue",
            "q18_large_orders",
            "q21_waiting_suppliers",
            "q_cheapest_supplier",
            "q6_forecast_revenue",
            "q19_discounted_revenue",
        ],
    ),
    "vector_dedup": (
        "eager checkpoints, Arrow Python kernels and crossJoin/argmin shapes "
        "with few catalog loads",
        [
            "ann_ivf",
            "ann_cosine_topk",
            "ann_ivf_pq",
            "ann_ivf_pq_rerank",
            "ann_ivf_pq_trained_audit",
            "emb_kmeans_fixed_point",
            "emb_outlier_distance",
            "dedup_embedding_cosine",
            "dedup_minhash_lsh",
            "dedup_containment",
            "retrieval_rrf_fusion",
            "text_tfidf_top_terms",
        ],
    ),
    "stream_io": (
        "the write path: micro-batches, state stores and file sinks",
        [
            "stream_tumbling_counts",
            "stream_session_windows",
            "stream_stateful_user_counts",
            "stream_first_touch",
            "stream_sink_parquet",
            "stream_mg_heavy_hitters",
            "csv_roundtrip_customer",
            "orc_roundtrip_lineitem",
            "partitioned_roundtrip_events",
            "compaction_roundtrip_events",
            "jsonl_roundtrip_orders",
            "q_cdc_apply",
        ],
    ),
}
