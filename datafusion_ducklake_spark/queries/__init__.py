"""Query registry: name → (spark builder, DuckDB oracle SQL, flags).

The driver contract (``__spark_entry__.py``) exposes this registry via
``queries()`` / ``oracle_sql()``. Every operator claimed done in SURVEY.md §2
gets an entry here; oracle-less entries (non-SQL-expressible ops) set
``oracle=None`` and get the driver's weaker rows-only check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from . import (_sqlhash, documents, dsbench, ducklake_gate, events, pipeline,
               similarity, tpch, tpch2)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    headline: bool = False  # included in bench.py timing suite


_SPECS = [
    # ordered so the driver's 50-entry CORRECTNESS window covers the
    # load-bearing entries first: connector gate, pipeline, ds/clickbench,
    # similarity, documents, events; plain TPC-H last
    # the DuckLake connector itself, oracle-checked through the gate
    QuerySpec("ducklake_scan_agg", ducklake_gate.ducklake_scan_agg,
              ducklake_gate.ORACLE_SCAN_AGG, True),
    QuerySpec("ducklake_mor_delete_agg", ducklake_gate.ducklake_mor_delete_agg,
              ducklake_gate.ORACLE_MOR_AGG, True),
    QuerySpec("ducklake_pruned_scan_agg", ducklake_gate.ducklake_pruned_scan_agg,
              ducklake_gate.ORACLE_PRUNED_AGG, False),
    QuerySpec("ducklake_dml_agg", ducklake_gate.ducklake_dml_agg,
              ducklake_gate.ORACLE_DML_AGG, False),
    QuerySpec("ducklake_cdc_agg", ducklake_gate.ducklake_cdc_agg,
              ducklake_gate.ORACLE_CDC_AGG, False),
    QuerySpec("ducklake_partitioned_agg", ducklake_gate.ducklake_partitioned_agg,
              ducklake_gate.ORACLE_PARTITIONED_AGG, False),
    QuerySpec("ducklake_virtual_agg", ducklake_gate.ducklake_virtual_agg,
              ducklake_gate.ORACLE_VIRTUAL_AGG, False),
    QuerySpec("ducklake_inlined_agg", ducklake_gate.ducklake_inlined_agg,
              ducklake_gate.ORACLE_INLINED_AGG, False),
    QuerySpec("ducklake_nested_agg", ducklake_gate.ducklake_nested_agg,
              ducklake_gate.ORACLE_NESTED_AGG, False),
    QuerySpec("ducklake_struct_evo_agg", ducklake_gate.ducklake_struct_evo_agg,
              ducklake_gate.ORACLE_STRUCT_EVO, False),
    QuerySpec("ducklake_clustered_agg", ducklake_gate.ducklake_clustered_agg,
              ducklake_gate.ORACLE_CLUSTERED_AGG),
    QuerySpec("ducklake_family_agg", ducklake_gate.ducklake_family_agg,
              ducklake_gate.ORACLE_FAMILY_AGG),
    QuerySpec("ducklake_interval_agg", ducklake_gate.ducklake_interval_agg,
              ducklake_gate.ORACLE_INTERVAL_AGG),
    QuerySpec("ducklake_interval_write_agg",
              ducklake_gate.ducklake_interval_write_agg,
              ducklake_gate.ORACLE_INTERVAL_WRITE_AGG),
    QuerySpec("ducklake_mv_agg", ducklake_gate.ducklake_mv_agg,
              ducklake_gate.ORACLE_MV_AGG),
    # recently reshaped queries ride at the front of the driver's
    # 50-entry CORRECTNESS window: the queries whose plans changed most
    # recently are the ones the independent driver hash-check must cover.
    # Window-displacement ledger (r7 ADVICE): the r7 insertions (q05/q08/
    # q10/q14/events_hourly_rollup) evicted embedding_label_stats,
    # embedding_centroid_assign, embedding_int8_quant, kmeans_centroids,
    # ivf_trained_ann; the r8 insertions (q15 window-max rewrite, q22
    # shuffle_hash anti join) evict knn_bruteforce_cosine and
    # ivf_ann_neighbors, the r8 ducklake_family_agg gate entry
    # (second clustered family) evicts cb_value_quantiles, the r8
    # ducklake_interval_agg gate entry (INTERVAL column decode) evicts
    # cb_daily_stats, the r9 ducklake_interval_write_agg gate entry
    # evicts cb_top_users, and the r10 ducklake_mv_agg gate entry
    # (materialized views) evicted ds_monthly_brand_rank — NOT
    # ds_rank_in_category as this ledger previously claimed (r10 verdict
    # item 1a: the driver data shows ds_rank_in_category still verified
    # and ds_monthly_brand_rank out, exactly when its body was being
    # reshaped — the policy above was broken). The r11 reorder restores
    # it: every query whose body changed in r10 or r11
    # (ds_monthly_brand_rank, cb_top_users, q03, q07, q09, plus
    # q05/q08/q10 already here) now rides inside the window, evicting
    # mm_audio_features, mm_frame_samples, cube_revenue,
    # ds_channel_union and ds_rank_in_category (all stable since r8 or
    # earlier). Evicted specs
    # stay covered by the local 98/98 gate (tools/check_correctness.py)
    QuerySpec("q05_local_supplier_volume", tpch.q05_local_supplier_volume, tpch.ORACLE_Q05, True),
    QuerySpec("q08_market_share", tpch2.q08_market_share, tpch2.ORACLE_Q08, True),
    QuerySpec("q10_returned_items", tpch.q10_returned_items, tpch.ORACLE_Q10, True),
    QuerySpec("q14_promo_revenue", tpch.q14_promo_revenue, tpch.ORACLE_Q14, True),
    QuerySpec("events_hourly_rollup", events.events_hourly_rollup, events.ORACLE_HOURLY, True),
    QuerySpec("q15_top_supplier", tpch2.q15_top_supplier, tpch2.ORACLE_Q15, True),
    QuerySpec("q22_global_sales_opportunity", tpch.q22_global_sales_opportunity, tpch.ORACLE_Q22, True),
    QuerySpec("ds_monthly_brand_rank", dsbench.ds_monthly_brand_rank,
              dsbench.ORACLE_DS_MONTHLY_RANK, True),
    QuerySpec("cb_top_users", dsbench.cb_top_users,
              dsbench.ORACLE_CB_TOP_USERS, True),
    QuerySpec("q03_shipping_priority", tpch.q03_shipping_priority, tpch.ORACLE_Q03, True),
    QuerySpec("q07_volume_shipping", tpch.q07_volume_shipping, tpch.ORACLE_Q07, True),
    QuerySpec("q09_product_profit", tpch2.q09_product_profit, tpch2.ORACLE_Q09, True),
    QuerySpec("ducklake_transform_agg", ducklake_gate.ducklake_transform_agg,
              ducklake_gate.ORACLE_TRANSFORM_AGG, False),
    QuerySpec("ducklake_geo_agg", ducklake_gate.ducklake_geo_agg,
              ducklake_gate.ORACLE_GEO_AGG, False),
    QuerySpec("geo_measure_agg", ducklake_gate.geo_measure_agg,
              ducklake_gate.ORACLE_GEO_MEASURE, False),
    # training-data pipeline operators (functions/)
    QuerySpec("ngram_jaccard_dup_pairs", pipeline.ngram_jaccard_dup_pairs,
              pipeline.ORACLE_NGRAM_JACCARD, False),
    QuerySpec("embedding_cosine_near_dup", pipeline.embedding_cosine_near_dup,
              pipeline.ORACLE_EMB_NEAR_DUP, False),
    QuerySpec("embedding_cosine_bruteforce", pipeline.embedding_cosine_bruteforce,
              pipeline.ORACLE_EMB_NEAR_DUP, False),
    QuerySpec("doc_quality_advanced", pipeline.doc_quality_advanced,
              pipeline.ORACLE_QUALITY_ADVANCED, False),
    QuerySpec("doc_pii_redaction", pipeline.doc_pii_redaction,
              pipeline.ORACLE_PII, False),
    QuerySpec("dedup_canonical_select", pipeline.dedup_canonical_select,
              pipeline.ORACLE_CANONICAL, False),
    QuerySpec("doc_chunking", pipeline.doc_chunking,
              pipeline.ORACLE_CHUNKING, False),
    QuerySpec("doc_pack_chunks", pipeline.doc_pack_chunks,
              pipeline.ORACLE_PACK_CHUNKS, False),
    QuerySpec("doc_decontamination", pipeline.doc_decontamination,
              pipeline.ORACLE_DECONTAMINATION, False),
    QuerySpec("dedup_duplicate_clusters", pipeline.dedup_duplicate_clusters,
              pipeline.ORACLE_DUP_CLUSTERS, False),
    QuerySpec("doc_stratified_sample", pipeline.doc_stratified_sample,
              pipeline.ORACLE_STRATIFIED, False),
    QuerySpec("doc_token_deciles", pipeline.doc_token_deciles,
              pipeline.ORACLE_TOKEN_DECILES, False),
    QuerySpec("doc_repetition_stats", pipeline.doc_repetition_stats,
              pipeline.ORACLE_REPETITION, False),
    QuerySpec("corpus_term_stats", pipeline.corpus_term_stats,
              pipeline.ORACLE_TERM_STATS, False),
    QuerySpec("doc_fingerprint_overlap", pipeline.doc_fingerprint_overlap,
              _sqlhash.ORACLE_FP_OVERLAP, False),
    QuerySpec("doc_prefix_fingerprint", pipeline.doc_prefix_fingerprint,
              _sqlhash.ORACLE_PREFIX_FP, False),
    QuerySpec("minhash_dup_pairs", pipeline.minhash_dup_pairs,
              _sqlhash.ORACLE_MINHASH, False),
    QuerySpec("simhash_pairs", pipeline.simhash_pairs,
              _sqlhash.ORACLE_SIMHASH, False),
    QuerySpec("lsh_ann_neighbors", pipeline.lsh_ann_neighbors,
              _sqlhash.ORACLE_LSH_ANN, False),
    QuerySpec("mm_image_features", pipeline.mm_image_features,
              _sqlhash.ORACLE_MM_IMAGE, False),
    QuerySpec("mm_audio_features", pipeline.mm_audio_features,
              _sqlhash.ORACLE_MM_AUDIO, False),
    QuerySpec("mm_frame_samples", pipeline.mm_frame_samples,
              _sqlhash.ORACLE_MM_FRAMES, False),
    # TPC-DS / ClickBench pattern coverage (reference's secondary suites)
    QuerySpec("cube_revenue", dsbench.cube_revenue, dsbench.ORACLE_CUBE, False),
    QuerySpec("ds_channel_union", dsbench.ds_channel_union,
              dsbench.ORACLE_DS_CHANNEL, False),
    QuerySpec("ds_rank_in_category", dsbench.ds_rank_in_category,
              dsbench.ORACLE_DS_RANK, False),
    QuerySpec("cb_daily_stats", dsbench.cb_daily_stats,
              dsbench.ORACLE_CB_DAILY, False),
    QuerySpec("cb_value_quantiles", dsbench.cb_value_quantiles,
              dsbench.ORACLE_CB_QUANTILES, False),
    # embeddings / similarity
    QuerySpec("knn_bruteforce_cosine", similarity.knn_bruteforce_cosine,
              similarity.ORACLE_KNN, True),
    QuerySpec("ivf_ann_neighbors", similarity.ivf_ann_neighbors,
              similarity.ORACLE_IVF, False),
    QuerySpec("embedding_label_stats", similarity.embedding_label_stats,
              similarity.ORACLE_LABEL_STATS, False),
    QuerySpec("embedding_centroid_assign", similarity.embedding_centroid_assign,
              similarity.ORACLE_CENTROID, False),
    QuerySpec("embedding_int8_quant", similarity.embedding_int8_quant,
              similarity.ORACLE_INT8_QUANT, False),
    QuerySpec("kmeans_centroids", similarity.kmeans_centroids,
              similarity.ORACLE_KMEANS, False),
    QuerySpec("ivf_trained_ann", similarity.ivf_trained_ann,
              similarity.ORACLE_IVF_TRAINED, False),
    # documents / text pipeline
    QuerySpec("doc_token_stats", documents.doc_token_stats, documents.ORACLE_TOKEN_STATS, True),
    QuerySpec("doc_quality_scores", documents.doc_quality_scores, documents.ORACLE_QUALITY, False),
    QuerySpec("dedup_exact_summary", documents.dedup_exact_summary,
              documents.ORACLE_DEDUP_SUMMARY, False),
    QuerySpec("dedup_exact_keep", documents.dedup_exact_keep, documents.ORACLE_DEDUP_KEEP, False),
    QuerySpec("lang_id_heuristic", documents.lang_id_heuristic, documents.ORACLE_LANG_ID, False),
    QuerySpec("doc_fingerprint", documents.doc_fingerprint, documents.ORACLE_FINGERPRINT, False),
    # events / time-series
    QuerySpec("events_running_value", events.events_running_value, events.ORACLE_RUNNING, True),
    QuerySpec("events_gap_to_next", events.events_gap_to_next, events.ORACLE_GAP, False),
    QuerySpec("events_json_props", events.events_json_props, events.ORACLE_JSON, False),
    QuerySpec("events_daily_active_users", events.events_daily_active_users,
              events.ORACLE_DAU, False),
    QuerySpec("events_sessionize", events.events_sessionize,
              events.ORACLE_SESSIONIZE, True),
    QuerySpec("events_dedup_summary", events.events_dedup_summary,
              events.ORACLE_EVENTS_DEDUP, False),
    QuerySpec("events_value_ranks", events.events_value_ranks,
              events.ORACLE_VALUE_RANKS, False),
    QuerySpec("events_click_attribution", events.events_click_attribution,
              events.ORACLE_CLICK_ATTRIBUTION, False),
    QuerySpec("events_asof_last_purchase", events.events_asof_last_purchase,
              events.ORACLE_ASOF_LAST_PURCHASE, False),
    QuerySpec("events_gapfill_hourly", events.events_gapfill_hourly,
              events.ORACLE_GAPFILL_HOURLY, False),
    # TPC-H-ish relational coverage
    QuerySpec("q01_pricing_summary", tpch.q01_pricing_summary, tpch.ORACLE_Q01, True),
    QuerySpec("q04_order_priority", tpch.q04_order_priority, tpch.ORACLE_Q04, True),
    QuerySpec("q06_forecast_revenue", tpch.q06_forecast_revenue, tpch.ORACLE_Q06, True),
    QuerySpec("q13_customer_distribution", tpch.q13_customer_distribution, tpch.ORACLE_Q13, True),
    QuerySpec("q18_large_orders", tpch.q18_large_orders, tpch.ORACLE_Q18, True),
    QuerySpec("q19_discounted_revenue", tpch.q19_discounted_revenue, tpch.ORACLE_Q19, True),
    QuerySpec("q21_idle_suppliers", tpch.q21_idle_suppliers, tpch.ORACLE_Q21, False),
    QuerySpec("part_brand_stats", tpch.part_brand_stats, tpch.ORACLE_PART_STATS, False),
    QuerySpec("top_orders", tpch.top_orders, tpch.ORACLE_TOP_ORDERS, False),
    QuerySpec("window_top_order_per_customer", tpch.window_top_order_per_customer,
              tpch.ORACLE_WINDOW_TOP, True),
    QuerySpec("setop_active_parties", tpch.setop_active_parties, tpch.ORACLE_SETOP, False),
    QuerySpec("q11_important_balances", tpch2.q11_important_balances, tpch2.ORACLE_Q11, False),
    QuerySpec("q12_shipping_buckets", tpch2.q12_shipping_buckets, tpch2.ORACLE_Q12, True),
    QuerySpec("q16_part_supplier_distribution", tpch2.q16_part_supplier_distribution,
              tpch2.ORACLE_Q16, False),
    QuerySpec("q17_small_quantity_orders", tpch2.q17_small_quantity_orders,
              tpch2.ORACLE_Q17, True),
    QuerySpec("q02_min_cost_supplier", tpch2.q02_min_cost_supplier,
              tpch2.ORACLE_Q02, False),
    QuerySpec("q20_excess_suppliers", tpch2.q20_excess_suppliers, tpch2.ORACLE_Q20, False),
    QuerySpec("rollup_revenue", tpch2.rollup_revenue, tpch2.ORACLE_ROLLUP, False),
]

REGISTRY: dict[str, QuerySpec] = {s.name: s for s in _SPECS}


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items()
            if spec.oracle is not None}


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.headline}
