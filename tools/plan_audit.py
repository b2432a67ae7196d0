"""Plan audit: sweep every registry query's physical plan for scale
red flags — global single-partition exchanges, cartesian products,
global windows, and row-at-a-time Python evaluation.

Usage: python tools/plan_audit.py [sf_dir]

A flag is not automatically a bug (a 1-row scalar aggregate legally
produces Exchange SinglePartition; a vocabulary-sized global window
is bounded) — the point is that every flag is KNOWN and justified.
The allowlist below records the audited justifications; anything NOT
allowlisted fails CI via tests/test_plan_quality.py.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from classification_pyspark_spark.queries import QUERIES  # noqa: E402
from classification_pyspark_spark.session import get_spark  # noqa: E402

# name -> {flag: justification}; audited by hand, enforced by CI.
ALLOWLIST: dict[str, dict[str, str]] = {
    # 1-row / k-row scalar aggregates: the single partition carries
    # partial-agg outputs (one row per task), not data rows.
    "q14_promo_revenue": {"single_partition": "global 1-row aggregate"},
    "q15_top_supplier": {"single_partition": "1-row max broadcast"},
    "q19_disjunctive_revenue": {"single_partition": "global 1-row aggregate"},
    "q22_dormant_high_balance": {"single_partition": "1-row avg broadcast"},
    "regression_metrics": {"single_partition": "global metric aggregate"},
    "mutual_information_binned": {
        "single_partition": "MI/entropy folds over the bounded |seg|x|bins| "
        "contingency frame and its 1-row margins; corpus collapses in the "
        "first hash aggregate"
    },
    "heaps_vocab_growth": {
        "single_partition": "1-row doc-count total, the <=10-point OLS fold, "
        "and the final sort of <=10 decile rows; the cumsums themselves run "
        "range-partitioned (global_cumsum), never a single-partition window"
    },
    "skyline_pareto_suppliers": {
        "single_partition": "dominance windows run on the supplier-bounded "
        "aggregate (fact table collapses in the first groupBy)",
        "global_window": "2-D skyline needs a total order of ONE axis over "
        "the bounded supplier frame — dimension-sized, like auc_roc's "
        "score-level rank",
    },
    "dedup_cluster_size_histogram": {
        "single_partition": "1-row corpus-count total and the final sort of "
        "the cluster-size histogram (frame bounded by distinct sizes)"
    },
    "pmi_collocations": {
        "single_partition": "the two 1-row token/bigram totals (broadcast "
        "back); counting and scoring stay on the vocab-bounded frames"
    },
    "welch_t_shift": {
        "single_partition": "the 1-row baseline moment aggregate (broadcast "
        "onto the |types|-row frame); the corpus collapses in one pass"
    },
    "mase_seasonal_backtest": {
        "single_partition": "final 1-row fold over the calendar-bounded "
        "daily frame; the fact table collapses in the first aggregate"
    },
    "functional_dependency_audit": {
        "single_partition": "each declared FD folds its per-key distinct "
        "counts to ONE row (the audit frame is |declared FDs| rows); the "
        "per-key aggregates are ordinary map-side-combined hash aggs"
    },
    "binary_classification_metrics": {"single_partition": "global confusion aggregate"},
    "auc_roc": {
        "single_partition": "global rank over (label,score) pairs; bounded by "
        "distinct scores after pre-agg",
        "global_window": "rank-based AUC needs a total order of scores; input "
        "is the score-level aggregate, not raw rows",
    },
    "part_type_revenue_pareto": {
        "single_partition": "cumulative-share fold over the part-type frame",
        "global_window": "Pareto cumsum over the bounded |types| aggregate",
    },
    "monthly_revenue_seasonality": {
        "single_partition": "share window over the 12-row month frame"
    },
    "activity_heatmap_dow_hour": {
        "single_partition": "share window over the bounded 7x24 grid"
    },
    "weekly_active_users": {
        "single_partition": "lag over the weeks frame",
        "global_window": "week-over-week lag — frame bounded by the calendar",
    },
    "weighted_sample_tokens": {
        "global_window": "global top-20 cut on the ES keys — row_number "
        "limit collapses to TakeOrdered-class work, only k rows survive",
        "single_partition": "same top-k cut",
    },
    "seasonal_decomposition_daily": {
        "global_window": "7-day centered MA over the calendar-bounded "
        "daily rollup (~|days| rows) — the fact table collapsed first",
        "single_partition": "same bounded daily frame",
    },
    "cusum_changepoint_daily": {
        "global_window": "prefix sums over the calendar-bounded daily "
        "rollup; the argmax pick is a 1-row TakeOrdered",
        "single_partition": "same bounded daily frame",
    },
    "theil_sen_trend": {
        "global_window": "rank selection over the <=90-day window's "
        "<=4k pairwise slopes — bounded by the trend window, never data",
        "single_partition": "same bounded slope frame",
    },
    "benford_first_digit_audit": {
        "single_partition": "1-row total fold over the 9-digit "
        "aggregate frame",
    },
    "mmr_diverse_rerank": {
        "global_window": "top-20 candidate-pool cut for ONE query's "
        "rerank; a multi-query deployment partitions the row_number by "
        "query_id (mmr_rerank itself is per-query parallel)",
        "single_partition": "same pool cut — 20 surviving rows",
    },
    "source_token_js_divergence": {
        "single_partition": "1-row corpus-token-total fold over the "
        "1024-row bucket frame — vocab-bounded partials, never data rows"
    },
    "dsir_importance_weights": {
        "single_partition": "1-row token-total fold over the 1024-row "
        "hashed-unigram LM frame (sum of bucket counts) — vocab-bounded "
        "partials, never data rows"
    },
    "nb_lang_confusion": {
        "single_partition": "1-row doc-total fold over the |classes|-row "
        "prior frame; the model itself is the vocab-bounded "
        "(512 x classes) broadcast"
    },
    "temperature_mix_weights": {
        "single_partition": "1-row totals fold over the |sources|-row "
        "aggregate — the whole query output is source-count-bounded"
    },
    "bm25_keyword_topk": {
        "single_partition": "1-row corpus-stats aggregate (N, avgdl) "
        "broadcast into the scoring join; postings are term-filtered "
        "before any shuffle"
    },
    "join_cardinality_estimate": {
        "single_partition": "1-row fold of the per-key pair counts "
        "(sum/max/count scalars) — per-task partials, never data rows"
    },
    "kll_quantile_sketch_merge": {
        "single_partition": "1-row fold over the calendar-bounded "
        "(~84-element) monthly sketch list — mergeable-sketch state, "
        "never data rows"
    },
    "mad_robust_outliers": {
        "single_partition": "three 1-row stat aggregates (median, MAD, "
        "outlier counts) — each carries per-task partials, never data rows"
    },
    "key_skew_report": {
        "single_partition": "1-row skew statistic fold per key column "
        "over the distinct-key count frame"
    },
    "copurchase_brand_lift": {
        "single_partition": "1-row order-count broadcast for the lift denominator"
    },
    "funnel_time_to_convert": {
        "single_partition": "1-row duration-distribution summary aggregate"
    },
    "ab_test_proportion_ztest": {
        "single_partition": "2-row arm aggregate -> 1-row z statistic"
    },
    "chi_square_independence": {
        "single_partition": "margin windows + statistic fold over the "
        "|seg|x|pri| contingency frame"
    },
    "funnel_three_step": {
        "single_partition": "three 1-row step-count aggregates cross-joined "
        "into the summary row"
    },
    "psi_weekly_drift": {
        "single_partition": "1-row reference-week broadcast; proportions "
        "window the (weeks x bins) aggregate frame"
    },
    "resample_hourly_gapfill": {
        "single_partition": "1-row min/max bounds aggregate feeding the hour spine",
        "global_window": "forward-fill over the hour spine — bounded by the "
        "time span (hours), never by event count",
    },
    "corpus_mix_sample": {
        "single_partition": "share/keep-prob window over the per-source "
        "aggregate (|sources| rows), same frame as domain_mix_weights"
    },
    "lm_perplexity_filter": {
        "single_partition": "1-row vocabulary-size broadcast (V in the smoothing "
        "denominator); all count tables are hash aggregates"
    },
    "tfidf_cosine_pairs": {
        "single_partition": "1-row n_docs broadcast for the idf term"
    },
    "boxplot_stats_lineitem": {
        "single_partition": "per-column percentile + whisker aggregates (1 row)"
    },
    "lift_gain_table": {
        "single_partition": "10-row decile frame (rank itself is the "
        "range-partitioned global_row_number, not a global window over data)",
        "global_window": "cumulative gain over the 10-row decile aggregate",
    },
    "calibration_curve": {"single_partition": "10-bin aggregate"},
    "health_report": {"single_partition": "global profile aggregate"},
    "missing_value_summary": {"single_partition": "per-column 1-row aggregate"},
    "describe_numeric": {"single_partition": "per-column profile aggregate"},
    "describe_numeric_approx": {"single_partition": "per-column sketch merge"},
    "describe_categorical": {"single_partition": "per-column top-1 aggregate"},
    "distinct_counts": {"single_partition": "per-column 1-row aggregate"},
    "approx_distinct_counts": {"single_partition": "HLL sketch merge (1 row)"},
    "case_consistency": {"single_partition": "per-column 1-row aggregate"},
    "zero_density": {"single_partition": "global 1-row aggregate"},
    "coefficient_of_variation": {"single_partition": "global 1-row aggregate"},
    "correlation_matrix": {"single_partition": "p^2-cell aggregate (p=#cols)"},
    "outlier_summary": {"single_partition": "per-column bound aggregate"},
    "duplicate_stats": {"single_partition": "global 1-row aggregate"},
    "woe_iv": {"single_partition": "per-(col,bucket) aggregate, bounded by cardinality"},
    "psi_drift": {"single_partition": "per-bucket aggregate (10 rows)"},
    "domain_mix_weights": {
        "single_partition": "share/weight window over the per-source "
        "aggregate (|sources| rows)",
        "global_window": "same source-count frame",
    },
    "knn_bruteforce": {
        "single_partition": "final top-k merge of per-batch survivors "
        "(k x n_queries rows)",
        "global_window": "same bounded survivor frame",
    },
    "knn_ivf": {
        "single_partition": "same survivor-merge shape",
        "global_window": "same bounded survivor frame",
    },
    "knn_ivf_recall": {
        "single_partition": "recall scalar over k x n_queries rows",
        "global_window": "survivor merge",
    },
    "embedding_centroids": {"single_partition": "centroid-sized (k x dim) merge"},
    "token_zipf": {
        "single_partition": "rank of the 50 TakeOrdered survivors (k-bounded)",
        "global_window": "same 50-row survivor frame",
    },
    "top_bigrams": {
        "single_partition": "vocabulary-sized top-k",
        "global_window": "vocabulary-sized rank",
    },
    "top_bigrams_capped": {
        "single_partition": "rank/merge of the <= top_k rows surviving "
        "the limit — the vocabulary never reaches this stage (bucket "
        "semi-join + HAVING floor upstream)",
        "global_window": "rank over the <= top_k surviving rows (the "
        "row_number consumes the limit output, not the vocabulary)",
    },
    "tfidf_top_terms": {"single_partition": "1-row corpus count broadcast"},
    "minhash_dup_pairs": {"single_partition": "band-signature agg is doc-keyed; "
                          "the 1-row exchange is the injected-dup count check"},
    "dedup_clusters": {"single_partition": "convergence check aggregate (1 row)"},
    "funnel_view_to_purchase": {"single_partition": "global funnel totals (1 row)"},
    "corpus_curation": {"single_partition": "per-source summary aggregate"},
    "corpus_curation_full": {
        "single_partition": "bounded scalars of the composed stages: the "
        "1-row LM vocabulary total, connected-components convergence "
        "checks, and the final source-dimension funnel sort — every "
        "corpus-sized exchange is gram-/band-/digest-keyed"
    },
    "corpus_curation_surgical": {
        "single_partition": "same bounded scalars as corpus_curation_full "
        "(1-row LM vocabulary total, CC convergence checks, source-dimension "
        "funnel sort) — the added span stages exchange only gram-keyed "
        "streams and the cut-list-sized interval rows"
    },
    "data_quality_checks": {"single_partition": "per-check 1-row aggregates"},
    "pagerank_supplier_influence": {"single_partition": "node-count scalar (1 row)"},
    "split_leakage_audit": {"single_partition": "global leak-rate scalar"},
    "q4_order_priority": {},
    "q6_forecast_revenue": {"single_partition": "global 1-row aggregate"},
    "q11_important_stock": {"single_partition": "1-row total-value broadcast"},
    "q17_small_quantity_revenue": {"single_partition": "global 1-row aggregate"},
    "media_byte_stats": {},
    "media_decode_features": {},
    "media_frame_sample": {},
    "label_encode_stringindexer": {
        "single_partition": "StringIndexer label map is vocabulary-sized",
        "global_window": "dense_rank over the distinct-value aggregate",
    },
    "ntile_quantile_bins": {
        "single_partition": "percentile boundary aggregate (k rows)",
    },
    "grouped_quantiles": {"single_partition": "per-group boundary aggregate"},
    "histogram_fixed_buckets": {"single_partition": "bucket-count aggregate"},
    "scaling_minmax_standard": {"single_partition": "per-column min/max/mean/std (1 row)"},
    "impute_missing": {"single_partition": "per-column impute-value aggregate"},
    "outlier_cap": {"single_partition": "per-column bound aggregate"},
    "target_encode": {"single_partition": "category-map aggregate (bounded)"},
    "onehot_indicators": {"single_partition": "declared-category check aggregate"},
    "class_balance": {"single_partition": "2-row class aggregate"},
    "crosstab_counts": {"single_partition": "cell-count aggregate (bounded)"},
    "pivot_status_counts": {"single_partition": "pivot cell aggregate (bounded)"},
    "set_analysis": {"single_partition": "4-row set-cardinality aggregate"},
    "union_distinct_intersect_except": {"single_partition": "4 count rows"},
    "semi_anti_joins": {"single_partition": "2 count rows"},
    "date_parse_roundtrip": {"single_partition": "format check aggregate"},
    "simhash_hamming_pairs": {"single_partition": "16-bit simhash space is 65k "
                              "buckets max (bounded)"},
    "ngram_jaccard_pairs": {"single_partition": "pair-count scalar"},
    "embedding_dup_pairs": {"single_partition": "pair survivor merge"},
    "lsh_buckets": {"single_partition": "bucket-count aggregate"},
    "anomaly_rolling_zscore": {
        "single_partition": "trailing window over the DAILY rollup — "
        "calendar-bounded (<= ~2.5k rows for 7 years), not data-bounded",
        "global_window": "same calendar-bounded daily frame",
    },
    "heavy_hitters_tokens": {
        "single_partition": "1-row total-token-count broadcast for the "
        "support threshold; candidate counting itself is key-partitioned",
    },
    "streaming_tumbling_counts": {"single_partition": "memory-sink table scan (test harness)"},
    "streaming_session_windows": {"single_partition": "memory-sink table scan"},
    "streaming_stateful_user_stats": {"single_partition": "memory-sink table scan"},
    "streaming_dedup_user_types": {"single_partition": "memory-sink table scan"},
}

FLAGS = {
    "single_partition": re.compile(r"Exchange SinglePartition"),
    "cartesian": re.compile(r"CartesianProduct"),
    "python_row_udf": re.compile(r"BatchEvalPython"),
}


EAGER_QUERIES = {
    # these execute a real stream inside the query callable; their
    # returned frame is a memory-sink scan (nothing to audit)
    "streaming_tumbling_counts",
    "streaming_session_windows",
    "streaming_stateful_user_stats",
    "streaming_dedup_user_types",
}


def audit(sf_dir: str, spark=None, skip_eager: bool = False) -> int:
    spark = spark or get_spark("plan_audit")
    bad = 0
    for name in sorted(QUERIES):
        if skip_eager and name in EAGER_QUERIES:
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {name}: {type(e).__name__}: {e}")
            continue
        found = {}
        if FLAGS["single_partition"].search(plan):
            found["single_partition"] = True
        if FLAGS["cartesian"].search(plan):
            found["cartesian"] = True
        if re.search(r"Window \[", plan) and "partitionBy" not in plan:
            # windows with an empty partition spec print without a
            # partition column list before ORDER BY
            if re.search(r"Window \[[^\n]*\], \[\]", plan) or re.search(
                r"Window \[[^\n]*windowspecdefinition\(([^,)]*ASC|[^,)]*DESC)", plan
            ):
                found["global_window"] = True
        if FLAGS["python_row_udf"].search(plan):
            found["python_row_udf"] = True
        allowed = ALLOWLIST.get(name, {})
        unexplained = {k: v for k, v in found.items() if k not in allowed}
        if unexplained:
            bad += 1
            print(f"FLAG {name}: {sorted(unexplained)}")
    print(f"\n{bad} queries with unexplained scale flags")
    return bad


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    raise SystemExit(1 if audit(sf) else 0)
