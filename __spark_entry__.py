"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship constraint suite on a spans-shaped table
derived from sf0.001; ``queries()``/``oracle_sql()`` map the operator
inventory from SURVEY.md §2 onto the driver fixture tables with DuckDB
oracle SQL twins (see anomalydetection_spark/plans/driver_queries.py for
the cross-engine determinism rules).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from anomalydetection_spark.plans import (
    driver_queries,
    driver_queries_curation,
    driver_queries_dedup,
    driver_queries_events,
    driver_queries_quality,
    driver_queries_relational,
    driver_queries_training,
)
from anomalydetection_spark.plans.flagship import (
    SUITE_VERDICTS_SQL,
    flagship_suite,
    suite_verdicts,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full validation suite
    (stats, uniqueness, referential, drift, span_order) over the derived
    interleaved documents table → per-partition verdict rows."""
    return flagship_suite(spark, "/root/testdata/sf0.001")


# The driver's per-round correctness gate checks a bounded prefix of this
# registry (50 entries since round 2), so ordering is part of the
# contract. Round-5 rotation (verdict r04 ask #3): the flagship suite
# stays first, then every entry whose operator or oracle twin CHANGED
# this round (moments' double-free hash projection, the fanout
# saturation CASE, the KMV NULL-safe ordering), then the 20 r02-stale
# entries that had never re-rotated, then the stalest r03-green entries
# chosen for family coverage. _TAIL holds only entries driver-verified
# hash-green in r04 (or r03) AND untouched since — each one's family
# keeps an in-window representative (noted inline) — so a prefix cut
# never leaves a family driver-unverified.
_PRIORITY = [
    "suite_verdicts",          # flagship product query (full DuckDB twin); every round re-proves the live suite path
    # ---- CHANGED this round: must re-verify on the driver ----
    "moments_n_chars_by_lang", # the two-round-red cell: hashed projection now DOUBLE-FREE (n, s1..s4, mean/variance fp6 only; skew/kurt pinned by NumPy-tolerance tests)
    "join_fanout_orders_lineitem",  # oracle + operator CHANGED: saturating CASE now precedes Spark's wrapping decimal `div`, mirrored in hugeint
    "kmv_distinct_orders_by_flag",  # operator module touched: NULL-safe group-key ordering (null_last_key)
    "uniqueness_partkey",           # operator CHANGED: the salted two-phase agg became one combinable group-count
    # ---- r02-stale: never re-rotated since their first green row ----
    "curation_pipeline",       # composed multi-stage curation plan (exact dedup → lang id → quality gates)
    "eval_metrics_embeddings", # accuracy/P/R/F1 from label agreement
    "fingerprint_docs",        # min-shingle-hash document fingerprints
    "q1_pricing_summary",      # TPC-H Q1 single-hash-agg pricing summary
    "q13_order_count_distribution",  # outer-join null-group count distribution
    "dedup_minhash_lsh",       # banded MinHash-LSH near-dup pairs
    "parse_logs",              # positional parse + label predicate + slice projection
    "stratified_sample_langs", # per-stratum deterministic sampling (R2)
    "dedup_simhash",           # SimHash hamming-band near-dup
    "lang_id_confusion",       # n-gram-heuristic language ID vs recorded lang
    "range_join_windows",      # bucketed containment-rewrite range join
    "zorder_event_buckets",    # Morton-interleave layout clustering audit
    "ann_ivf_topk",            # cell-pruned IVF ANN over embeddings
    "dedup_ngram_jaccard",     # shingle → exact-Jaccard near-dup verify
    "quality_by_source",       # length/punct/stopword quality scoring rollup
    "q3_shipping_priority",    # join + topk shipping priority
    "q5_local_supplier_volume",  # multi-way star local-supplier volume
    "pivot_event_counts",      # pivot (wide) complement of unpivot
    "ntile_value_quartiles",   # ordered-window ntile quartiles
    "q6_revenue_filter",       # scan+filter+agg revenue predicate
    # ---- stalest r03-green, chosen for family coverage ----
    "anomaly_daily_event_counts",  # metric-ledger online-normal anomaly flags
    "profile_suggest_documents",   # 2-pass constraint-suggestion profiler
    "entropy_lang_by_source",  # exact-bigint entropy (info-theory family)
    "mi_lang_source",          # joint-histogram mutual information
    "placement_audit_docs",    # partition-transform placement audit
    "pca_anomaly_by_label",    # PCA reconstruction-error anomaly scoring
    "ann_pq_topk",             # PQ ADC + exact-rerank ANN
    "hybrid_rrf_topk",         # BM25+ANN reciprocal-rank fusion
    "pii_scan_by_source",      # map-only PII regex scan accounting
    "pack_chunks_stats",       # two-phase prefix-scan sequence packing
    "skew_audit_user_events",  # hot-key skew audit (imbalance + cv)
    "temperature_sample_sources",  # temperature-scaled deterministic sampling
    "decontaminate_docs",      # benchmark 5-gram decontamination
    "repetition_quality_by_lang",  # Gopher repetition rules
    "normalize_text_stats",    # Arrow NFC normalization accounting
    "mad_outlier_hours",       # median/MAD robust outlier flags
    "dedup_incremental",       # bloom-short-circuit incremental exact dedup
    "semdedup_clusters",       # cluster-blocked semantic dedup
    "q18_large_orders",        # group-HAVING join-back large orders
    "bm25_topk_docs",          # query-vocab-bounded BM25 retrieval
    "unigram_nll_by_source",   # unigram Stupid-Backoff LM scoring
    "topk_rank_drift_events",  # rank-churn drift (drift family in-window)
    "fd_audit_events",         # functional-dependency audit (uniqueness family)
    "tdigest_bounds_events",   # t-digest UDAF quantile bounds (sketch family)
    "sessionize_events",       # session windows (event-time family)
]
_TAIL = [
    # Every entry below is driver-verified hash-green in CORRECTNESS_r04.json
    # (or r03 where noted) and its operator + oracle twin are UNTOUCHED since
    # that green row; the inline note names the in-window family twin.
    "benford_totalprice",      # r04 green; digit-law audit shares q1_pricing_summary's hash-agg shape (in-window)
    "media_near_dup_pairs",    # r04 green; dHash banded near-dup, family in-window via dedup_minhash_lsh + dedup_simhash
    "frame_near_dup_docs",     # r04 green; frame-granular variant of media_near_dup_pairs (same hot-set anti-join)
    "kcenter_diverse_embeddings",  # r04 green; coreset family shares ann_ivf_topk's centroid-assign core (in-window)
    "drift_ks_js_hellinger_by_source",  # r04 green; drift family in-window via topk_rank_drift_events
    "drift_wasserstein_chisq_by_source",  # r04 green; same drift grid core
    "mahalanobis_anomaly_by_label",  # r04 green; anomaly-scoring family in-window via pca_anomaly_by_label
    "corr_matrix_events",      # r04 green; info-theory family in-window via entropy_lang_by_source + mi_lang_source
    "bigram_nll_by_source",    # r04 green; LM family in-window via unigram_nll_by_source
    "ppl_buckets_by_source",   # r04 green; perplexity bucketing over the in-window unigram NLL core
    "dup_ngram_coverage",      # r04 green; window-hash coverage shares dedup_ngram_jaccard's shingle core (in-window)
    "c4_quality_filter_stats", # r04 green; quality-filter family in-window via quality_by_source + repetition_quality_by_lang
    "url_domain_stats_blocked",  # r04 green; regex + broadcast anti-join family in-window via pii_scan_by_source
    "retention_cohorts",       # r04 green; event-time family in-window via sessionize_events
    "funnel_stages",           # r04 green; ordered-agg family in-window via sessionize_events
    "gapfill_daily_activity",  # r04 green; generated-grid outer join shares range_join_windows' bucket grid (in-window)
    "set_ops_users",           # r04 green; INTERSECT/EXCEPT, reconciliation family pinned by test suites
    "unpivot_user_metrics",    # r04 green; melt complement of in-window pivot_event_counts
    "q2_cheapest_supplier",    # r04 green; groupwise-min join-back family in-window via q18_large_orders
    "q7_volume_shipping",      # r04 green; multi-way star family in-window via q5_local_supplier_volume
    "q8_market_share",         # r04 green; conditional-agg star family in-window via q5
    "q9_product_profit",       # r04 green; star profit agg family in-window via q5
    "q10_returned_items",      # r04 green; agg-then-join-back top-k family in-window via q3_shipping_priority
    "q11_important_stock",     # r04 green; share-vs-scalar-threshold, integer cross-multiplied (in-window q18 HAVING core)
    "q12_late_priority_lines", # r04 green; conditional-count family in-window via q6_revenue_filter
    "q14_promo_share",         # r04 green; conditional share family in-window via q6_revenue_filter
    "q15_top_revenue_supplier",  # r04 green; scalar-max argmax family in-window via q18
    "q16_supplier_variety",    # r04 green; NOT-IN anti-join + distinct-agg family in-window via fd_audit_events
    "q19_branded_revenue",     # r04 green; disjunctive-predicate join family in-window via q3
    "q20_heavy_suppliers",     # r04 green; nested semi-join family in-window via q13 (outer-join complement)
    "q21_sole_blame_suppliers",  # r04 green; EXISTS/NOT-EXISTS chain, anti-join family in-window via q16-family twins
    "q22_idle_rich_customers", # r04 green; scalar-avg threshold + anti-join, same family
    "multimodal_decode_stats", # r04 green; mapInPandas decode accounting, Arrow-batch family in-window via normalize_text_stats
    "above_brand_avg_lineitems",  # r04 green; decorrelated scalar-avg family in-window via q18/mad_outlier cores
    "pandas_udf_token_stats",  # r04 green; Arrow scalar-iterator UDF family in-window via normalize_text_stats
    "token_count_bpe",         # r04 green; tokenization family in-window via lang_id_confusion + quality_by_source
    "kmv_overlap_orders_flags",  # r05 green; KMV family in-window via kmv_distinct_orders_by_flag
    "threshold_verdict_events",  # r04 green; exact-percentile family in-window via mad_outlier_hours + tdigest_bounds_events
    "drift_kl_psi_by_source",  # r04 green; drift family in-window via topk_rank_drift_events
    "roc_auc_embeddings",      # r04 green; ordered-window family in-window via ntile_value_quartiles
    "ann_cosine_topk",         # r04 green; ANN family in-window via ann_ivf_topk + ann_pq_topk
    "dedup_embedding_cosine",  # r04 green; banded near-dup family in-window via dedup_minhash_lsh + semdedup_clusters
    "confusion_matrix_embeddings",  # r04 green; label-agreement family in-window via eval_metrics_embeddings
    "template_mining_events",  # r04 green; template family in-window via parse_logs (same parse+mask core)
    "asof_last_purchase",      # r04 green; as-of carry-forward shares sessionize's ordered-window core (in-window)
    # ---- r03-green leftovers (every family still in-window) ----
    "corr_hour_value_by_type",     # r03 green; scalar Pearson projection of corr-matrix family (in-window via entropy/mi)
    "domain_mixture_weights",      # r03 green; mixture planning over in-window quality/token stats
    "quality_classifier_stats",    # r03 green; hashed linear classifier shares in-window quality_by_source accounting
    "q4_priority_late_exists",     # r03 green; EXISTS semi-join family (tail q21 r04 + in-window q13 complement)
    "q17_small_quantity_share",    # r03 green; correlated scalar-avg family in-window via mad_outlier/q18 cores
    "epoch_order_stats",           # r03 green; shard-rank family in-window via pack_chunks_stats
    "dedup_keep_best_quality",     # r03 green; components + argmax canonicalization in-window via dedup_incremental
    "stats_documents",             # r03 green; per-column stats analyzer re-proved inside in-window suite_verdicts' twin
    "referential_orphans",         # r03 green; anti-join family in-window via fd_audit + suite referential constraint
    "freshness_events_by_type",    # r03 green; recency audit shares in-window anomaly_daily_event_counts' ledger shape
    "template_merge_events",       # r03 green; template family in-window via parse_logs
    "topk_users_by_type",          # r03 green; rank-window top-k family in-window via q3_shipping_priority + ntile
    "hopping_window_counts",       # r03 green; hopping windows share in-window range_join_windows' bucket grid
    "expression_rules_documents",  # r03 green; fused row-level rule scan, pinned by test_suite_configs
    "reconcile_orders_copy",       # r03 green; reconciliation diff shares set-op core (tail r04 set_ops + in-window fd_audit)
    "grouping_sets_orders",        # r03 green; cube/grouping-sets family shares pivot_event_counts' Expand core (in-window)
    "dsir_importance_by_lang",     # r03 green; hashed-feature bag shares in-window quality classifier accounting
    "class_centroid_stats",        # r03 green; fixed-point centroid norms share in-window ann_ivf_topk's vector core
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = dict(driver_queries.QUERIES)
    q.update(driver_queries_dedup.QUERIES)
    q.update(driver_queries_events.QUERIES)
    q.update(driver_queries_curation.QUERIES)
    q.update(driver_queries_quality.QUERIES)
    q.update(driver_queries_training.QUERIES)
    q.update(driver_queries_relational.QUERIES)
    # deterministic columns of the flagship suite — full DuckDB oracle twin
    q["suite_verdicts"] = suite_verdicts
    missing = set(q) - set(_PRIORITY) - set(_TAIL)
    assert not missing, f"unordered registry entries: {sorted(missing)}"
    return {name: q[name] for name in _PRIORITY + _TAIL if name in q}


def oracle_sql() -> dict[str, str]:
    sql = dict(driver_queries.ORACLE_SQL)
    sql.update(driver_queries_dedup.ORACLE_SQL)
    sql.update(driver_queries_events.ORACLE_SQL)
    sql.update(driver_queries_curation.ORACLE_SQL)
    sql.update(driver_queries_quality.ORACLE_SQL)
    sql.update(driver_queries_training.ORACLE_SQL)
    sql.update(driver_queries_relational.ORACLE_SQL)
    sql["suite_verdicts"] = SUITE_VERDICTS_SQL
    return {name: sql[name] for name in _PRIORITY + _TAIL if name in sql}
