"""Registry-WIDE physical-plan hygiene audit.

test_plan_shapes.py pins specific load-bearing shapes; this sweep
holds EVERY registered query to the engine-wide floor:

- no CartesianProduct, ever;
- no range-partitioning exchange (global sort) — total order is always
  recovered from bucket + carry/overlap;
- no BatchEvalPython (row-at-a-time Python UDF) — Python only via
  Arrow-batched mapInPandas/applyInPandas;
- BroadcastNestedLoopJoin only where the build side is provably tiny
  by construction (one-row scalar aggregates: thresholds, totals,
  maxes; fixed-size centroid/quantile tables) — listed explicitly so a
  refactor that grows a BNLJ side must update the allowlist on purpose.

A new query is covered the moment it lands in the registry.
"""

from __future__ import annotations

from prometheus_anomaly_detection_lstm_spark.registry import all_queries

from .conftest import SF_SMALL

#: BNLJ build sides here are one-row scalar aggregates (fit thresholds,
#: global totals/maxes, histogram bounds) or fixed-size tables
#: (k-means centroids, quantile summaries) — never corpus-proportional.
BNLJ_SCALAR_BROADCASTS = {
    "ann_cosine_topk",          # query block vs corpus: bounded n_queries
    "ann_cosine_topk_ivf",      # centroid table (n_lists rows)
    "embedding_matryoshka_eval",  # two cosine_topk query blocks (bounded)
    "text_bm25_topk",           # one-row (n_docs, avgdl) corpus stats
    "text_nb_classifier",       # one-row vocab-totals + priors broadcasts
    "text_nb_classifier_auc",   # same NB subtree under the AUC rollup
    "anomaly_flags",            # scaler params + threshold scalars
    "anomaly_intervals",        # same flags subtree (episode rollup)
    "anomaly_mse",              # scaler params + window count scalar
    "anomaly_mse_lstm",         # same prep subtree
    "approx_threshold_percentiles",  # sketch summary row
    "corpus_quality_curriculum",  # one-row quantile-boundary aggregate
    "metric_distribution_drift",  # one-row median-timestamp cut
    "customer_rfm_segments",      # one-row quartile-edges aggregate
    "events_association_rules",   # one-row user-count denominator
    "events_ab_test",             # two one-row variant summaries
    "dedup_embedding_cosine",   # centroid + radius tables (n_cells rows)
    "event_pagerank",           # one-row node-count frame per iteration
    "fill_mean",                # per-column means summary row
    "promql_absent",            # one-row (lo, hi) bounds aggregate
    "fill_median",              # per-column medians summary row
    "mse_histogram",            # min/max bounds row
    "rolling_features",         # day-offset carry summary
    "text_frequent_tokens",     # global token-count scalar
    "text_lm_trigram_scores",   # corpus-total scalar
    "text_log_odds_keywords",   # one-row corpus token-total aggregate
    "text_tfidf_top_terms",     # n_docs scalar
    "threshold_percentiles",    # percentile summary row
    "threshold_split",          # threshold scalar
    "orders_churn_labels",      # one-row dataset-horizon aggregate
    "table_quality_checks",     # one-row per-table total aggregates
    "tpch_q11",                 # global value-total scalar
    "tpch_q22",                 # avg-balance scalar subquery
    "events_heavy_hitters",     # one-row corpus-total denominator
    "corpus_source_token_drift",  # one-row global-token-total broadcast
    "text_nb_confusion",        # one-row class-totals + priors broadcasts
    "embedding_hard_negatives",  # anchor block (HN_ANCHORS rows, bounded)
    "text_pmi_collocations",    # one-row bigram-total broadcast
    "embedding_centroid_drift",  # one-row median-vec_id cut broadcast
    "text_feature_hashing",     # one-row n_docs broadcast
    "embedding_knn_label_audit",  # cosine_topk anchor block (bounded)
    "orders_km_reorder_curve",  # one-row dataset-horizon broadcast
    "events_ab_cuped",          # one-row pooled theta/mean broadcast
    "events_ab_power",          # same cuped subtree (one-row frames)
    "semantic_dedup_scaled",    # centroid table (ceil(sqrt(n)) rows —
                                # sublinear in the corpus by design)
    "orders_basket_affinity",   # one-row order-total denominator
    "events_anomaly_attribution",  # one-row incident-hour + totals
    "text_burstiness",          # one-row n_docs broadcast
    "text_lang_id_ngram",       # one-row per-lang totals + vocab-size
    "corpus_perplexity_filter",  # corpus-total + tercile-cuts rows
    "corpus_ccnet_partition",   # same perplexity subtree (one-row frames)
    "text_lang_id_confusion",   # same lang-id subtree (one-row stats)
}


def test_every_registered_query_meets_the_plan_floor(spark):
    failures = []
    for name, (fn, _) in sorted(all_queries().items()):
        plan = fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "rangepartitioning" in plan.lower():
            failures.append(f"{name}: range-partitioned (global sort)")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in BNLJ_SCALAR_BROADCASTS
        ):
            failures.append(f"{name}: unlisted BroadcastNestedLoopJoin")
    assert not failures, "\n".join(failures)
