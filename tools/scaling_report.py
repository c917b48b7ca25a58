"""Regenerate docs/SCALING.md: measured wall-clock of representative
queries at sf0.001 / 0.01 / 0.1 with the observed scaling exponent
per decade — the empirical "would this survive 100×?" evidence behind
the per-query docstring claims.

For each query we fit t ∝ SF^alpha on the two measured decades
(0.001→0.01 and 0.01→0.1) and report the larger one. alpha ≈ 1 is
linear scaling (shuffle/scan bound); alpha < 1 means fixed overhead
still dominates at these sizes (the asymptote has not kicked in —
even better); alpha markedly > 1 flags super-linear work that 100×
would punish (the co-purchase triangle query is the known, documented
case: the fixture's uniform part assignment densifies the graph
itself, not the operator).

Usage: python tools/scaling_report.py  (run from anywhere; ~10 min on 4 vCPUs)
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from scale10_report import measure, write_section  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
#: (dir, scale factor) points of the measured ladder
LADDER = list(zip(SFS, (0.001, 0.01, 0.1)))
#: this report's section of docs/SCALING.md starts at the doc's title
MARKER = "# Scaling report (generated — do not edit)"

#: one per capability family; heavy known-dense graph queries are
#: annotated rather than excluded
SHOWCASE = [
    ("q1_pricing_summary", "scan-agg"),
    ("q3_shipping_priority", "multi-join + top-k"),
    ("q18_large_volume", "window semi-join"),
    ("warning_notification", "reference pipeline"),
    ("sessionize_events", "gaps-and-islands window"),
    ("dedup_exact", "hash groupBy"),
    ("dedup_minhash_lsh", "banded LSH join"),
    ("dedup_ngram_jaccard", "inverted-index self-join"),
    ("dedup_embedding_cosine", "sign-LSH + exact rescore"),
    ("ann_ivf_cosine", "IVF probe join"),
    ("tfidf_top_terms", "two-pass text agg"),
    ("pack_token_sequences", "sharded running sum"),
    ("pagerank_trade_graph", "iterative joins (5 rounds)"),
    ("winnowing_fingerprints", "window argmin fingerprints"),
    ("anomaly_zscore_events", "trailing-window integer stats"),
    ("ewma_user_value", "bounded-frame HOF fold"),
    ("bigram_lift_topk", "count joins + TakeOrdered"),
    ("audio_wav_features", "Arrow codec round-trip"),
    ("hll_union_region_suppliers", "sketch build + union"),
    ("zorder_locality_events", "map-only bit interleave"),
    ("ann_pq_adc", "PQ-ADC compressed scoring"),
    ("ann_ivf_pq", "IVF×PQ probe + ADC"),
    ("cms_heavy_hitters", "count-min sketch probe"),
    ("variant_events_typed", "VARIANT decode agg"),
    ("image_bmp_thumbnail", "Arrow decode + NN resize"),
    ("bm25_topk_docs", "bounded-term posting join"),
    ("dup_token_spans", "8-gram inverted self-join + islands"),
    ("dedup_span_scrub", "span join + HOF filter"),
    ("acf_user_value", "one-sort multi-lag moments"),
    ("vocab_coverage_curve", "vocab-bounded rank/cumsum"),
    ("value_histogram_events", "fused binning hash-agg"),
    ("kcore_trade_graph", "4-round degree peeling"),
    ("event_transition_matrix", "one-sort Markov pair agg"),
    ("rolling_trend_slope", "one-pass frame moment sums"),
    ("basket_pair_rules", "bounded basket pair self-join"),
    ("value_equidepth_bins_events", "rank-bucket agg on one sort"),
    ("image_png_features", "zlib PNG codec round-trip"),
    ("video_y4m_frames", "y4m decode + frame sample"),
    ("interval_coverage_user", "sweep-line union on one sort"),
    ("chi2_contingency_cells", "collapsed-cell marginals"),
    ("pareto_frontier_parts", "two-phase salted skyline"),
    ("shuffle_skew_report", "key-histogram order stats"),
    ("embedding_gram_matrix", "partial-Gram matmul agg"),
    ("label_propagation_communities", "3-round LPA argmax joins"),
    ("dedup_incremental_minhash", "batch-vs-index band join"),
    ("snapshot_diff_orders", "full-outer PK diff"),
    ("fk_integrity_audit", "7-way distinct-key anti joins"),
    ("scd2_point_in_time_join", "equi PIT join + residual"),
    ("weighted_sample_per_source", "map-only keys + source top-k"),
    ("ordered_funnel_users", "chained conditional aggs"),
    ("ab_test_conversion", "one user_id agg + scalar stats"),
    ("survival_signup_to_purchase", "3 shared-key aggs + bucket window"),
    ("graph_assortativity_trade", "degree joins + 1-row moments"),
    ("profile_orders_columns", "per-column pruned scans"),
    ("kmeans_lloyd_embeddings", "3-round broadcast Lloyd"),
    ("ann_ivf_kmeans", "Lloyd-cell probe join"),
    ("kmeans_cluster_quality", "k-row fixed-point inertia agg"),
    ("value_drift_report", "broadcast bounds + 5-cell agg"),
    ("bloom_prune_semijoin", "bloom prune + exact verify"),
    ("salted_skew_join_events", "16-salt skew-spread join"),
    ("tfidf_cosine_pairs", "signature inverted-index kNN"),
    ("time_weighted_avg_user", "lead window + agg, one exchange"),
    ("mad_outlier_per_user", "two median passes, one key"),
    ("decile_lift_orders", "dim-sized NTILE lift table"),
    ("seasonal_hour_of_week", "168-cell seasonal profile"),
    ("crossfold_assign_docs", "map-only md5 fold assignment"),
    ("simpson_diversity_user", "two-stage diversity moments"),
    ("benford_first_digit_orders", "map-only digit + 9-cell agg"),
    ("session_window_events", "native session_window merge"),
    ("ann_incremental_assign", "O(batch) assign vs frozen index"),
    ("cusum_changepoint_events", "sharded two-level prefix scan"),
    ("minhash_error_report", "candidate-bounded sketch audit"),
    ("embedding_pca_power", "3 broadcast mat-vec rounds"),
    ("ks_drift_events", "one-exchange unbinned KS scan"),
    ("rrf_fuse_rankers", "O(queries*k) rank fusion"),
    ("image_gif_features", "GIF87a LZW codec round-trip"),
    ("bfs_distance_from_hub", "4-round frontier BFS layers"),
    ("textrank_keywords", "PageRank on the word graph"),
    ("k_anonymity_audit", "bounded-key QI class audit"),
    ("ann_dim_truncation_overlap", "full-vs-16-dim recall eval"),
    ("dedup_weighted_sampling", "1/cluster-size HT sampling"),
    ("tar_shard_roundtrip", "ustar WebDataset shard pack/walk"),
    ("theil_sen_trend_user", "bounded-pair robust slope median"),
    ("nearest_event_join", "bidirectional as-of merge scan"),
    ("doc_novelty_ratio", "first-occurrence gram novelty"),
    ("sql_top_spenders_per_segment", "SQL-text rank window"),
    ("doc_novelty_incremental", "batch-vs-index novelty join"),
    ("seasonal_zscore_outliers", "cohort-adjusted integer 2-sigma"),
    ("mutual_nn_pairs", "reciprocal-NN high-precision match"),
    ("user_activity_features", "RFM feature-store build"),
    ("revenue_mom_growth", "cents-exact MoM growth series"),
    ("kmeans_centroid_drift", "frozen-index drift monitor"),
    ("cdc_apply_changes", "MERGE replay: diff o apply = new"),
    ("activity_bitmap_retention", "bitmap index: AND+popcount retention"),
    ("mann_whitney_events", "histogram-counted exact U test"),
    ("gini_concentration_segment", "decimal-exact Gini rank formula"),
    ("zonemap_skipping_report", "min/max zone-map skipping audit"),
    ("holt_linear_forecast_user", "bounded level+trend recursion"),
    ("mmr_diversified_topk", "greedy MMR over bounded candidates"),
    ("graph_modularity_communities", "exact-integer modularity terms"),
    ("cross_correlation_types", "zero-filled lead/lag correlation"),
    ("sql_above_segment_average", "correlated-subquery decorrelation"),
    ("ann_hard_negatives", "triplet-margin negative mining"),
    ("sql_recursive_month_spine", "recursive-CTE zero-filled spine"),
    ("compaction_bin_packing", "running-sum small-file packing"),
    ("lang_confusion_matrix", "gold-vs-pred eval marginals"),
    ("viewers_without_purchase", "anti-join dropout audience"),
    ("ols_time_regression_user", "exact closed-form OLS + R2"),
    ("link_prediction_suppliers", "degree-capped wedge Jaccard"),
    ("classifier_agreement_kappa", "cross-multiplied Cohen's kappa"),
    ("ohlc_bars_type_hour", "order-dependent OHLC downsample"),
    ("phrase_search_positional", "positional-index phrase match"),
    ("attribution_linear_touches", "largest-remainder cent split"),
    ("rate_limit_sliding_audit", "event-time RANGE-frame audit"),
    ("pareto_front_customers", "cross-multiplied 80/20 knee"),
    ("rollup_incremental_merge", "merge(hist, batch) == recompute"),
    ("cheapest_path_lead_time", "bounded Bellman-Ford min-plus"),
    ("weighted_median_value_type", "exact cumulative-weight median"),
    ("sql_unpivot_user_metrics", "ANSI UNPIVOT wide-to-long"),
    ("grid_density_core", "DBSCAN core test on grid cells"),
    ("er_fellegi_sunter", "blocked FS linkage scoring"),
    ("hll_portable_events", "bit-exact portable HyperLogLog"),
    ("chisq_type_segment", "chi-squared contingency cells"),
    ("calibration_bins_events", "score-bin reliability + lift"),
    ("audience_overlap_jaccard", "exact audience Jaccard matrix"),
    ("spearman_value_vs_time", "tie-broken exact Spearman rho"),
    ("curriculum_interleave_docs", "round-robin curriculum order"),
    ("hits_trade_graph", "max-normalized integer HITS"),
    ("zip_shard_roundtrip", "DEFLATE ZIP shard round-trip"),
    ("skew_key_diagnosis", "hot-key report + salt factor"),
    ("sql_group_by_all", "GROUP BY ALL dialect parity"),
    ("holt_winters_seasonal_user", "triple-exponential HW forecast"),
    ("welch_t_test_purchase_view", "unequal-variance mean test"),
    ("kwic_concordance_docs", "keyword-in-context windows"),
    ("readability_flesch_docs", "Flesch ease + FK grade"),
]


def main() -> None:
    from iot_sparkstreaming_spark.queries.registry import load_all
    from iot_sparkstreaming_spark.session import get_spark

    registry = load_all()
    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")

    family = dict(SHOWCASE)
    rows = measure(spark, registry, list(family), LADDER, runs=2)

    out = [
        MARKER,
        "",
        "Regenerate with `python tools/scaling_report.py`. Best-of-2",
        "wall-clock seconds per scale factor (warm session: JVM, codegen,",
        "and session-memoized indexes hot — the build-once/query-many",
        "steady state; `bench.py` reports cold index builds separately).",
        "`alpha` = max per-decade exponent of t ∝ SF^alpha; 1.0 is linear.",
        "",
        "| query | family | sf0.001 | sf0.01 | sf0.1 | alpha |",
        "|---|---|---|---|---|---|",
    ]
    for name, (t1, t2, t3), alpha in rows:
        out.append(
            f"| {name} | {family[name]} | {t1:.3f} | {t2:.3f} | {t3:.3f} | {alpha:.2f} |"
        )
    out += [
        "",
        "Reading: every row with alpha ≤ ~1 is shuffle/scan bound or still",
        "overhead-dominated at these sizes — the shapes that survive a",
        "100× scale-up by adding executors. Known exception by design:",
        "`triangle_count_parts` (not listed) is quadratic-dense on THIS",
        "fixture because uniform random part assignment makes the",
        "co-purchase graph near-complete; the operator itself is",
        "m^1.5-bounded on real power-law graphs (see its docstring).",
        "",
    ]
    target = REPO / "docs" / "SCALING.md"
    write_section(target, MARKER, out)
    print(f"wrote {target} ({len(rows)} rows)")
    spark.stop()


if __name__ == "__main__":
    main()
