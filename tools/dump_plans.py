"""Regenerate docs/PLANS.md: formatted physical plans of the
representative queries, as .explain("formatted") evidence of the
plan-shape claims made in query docstrings (pushdown reaching scans,
single-exchange windows chains, broadcast placement, no Python in the
hot path).

Usage: python tools/dump_plans.py  (run from anywhere; ~1 min)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: (query, what the plan should show)
SHOWCASE = [
    ("q3_shipping_priority", "filters pushed to all three scans; AQE-decided joins; TakeOrderedAndProject top-10"),
    ("q18_large_volume", "HAVING subquery as a window over ONE lineitem scan"),
    ("latest_location", "argmax-per-key: one shuffle on user_id, one window"),
    ("dedup_minhash_lsh", "per-row signatures in codegen; banded join on 4 tiny keys/doc"),
    ("dedup_ngram_jaccard", "explode-first shingles; inverted-index self-join; stop-shingle cutoff"),
    ("ann_ivf_cosine", "broadcast centroids; hash-agg argmax assignment; probe join"),
    ("scd2_user_dimension", "gaps-and-islands on ONE exchange (subset clustering)"),
    ("gapfill_hourly_series", "distributed spine; materialized rollup shared by both consumers"),
    ("corpus_build_pipeline", "map-side quality/ticket stages fused into the scan; hash-keyed dedup"),
    ("pagerank_trade_graph", "cache-partitioned loop invariants: per-round joins reuse hashpartitioning, no edge re-exchange"),
    ("ngram_topk_corpus", "corpus top-k via TakeOrderedAndProject — per-partition top-k, no global sort"),
    ("oov_rate_per_doc", "constant-size vocabulary broadcast; corpus-side tokens never shuffle for the join"),
    ("funnel_analysis", "per-stage event_type filters pushed to the parquet scans; same-key shuffles reused"),
    ("retention_cohorts", "first-seen agg and join-back share the user_id partitioning"),
    ("winnowing_fingerprints", "gram windows, counts, and winnowing min ride ONE doc_id exchange"),
    ("anomaly_zscore_events", "all three trailing-window aggregates (n, sum, sum-of-squares) share ONE user_id exchange and ONE window pass"),
    ("ewma_user_value", "bounded 16-row collect_list + HOF fold on ONE user_id exchange — no Python, no unbounded state"),
    ("bigram_lift_topk", "unigram/bigram counts with map-side partial combine; 1-row corpus total broadcast; top-50 via TakeOrderedAndProject"),
    ("hll_union_region_suppliers", "leaf HLL sketches partial-agg map-side; union is a register-max merge, never a fact re-scan"),
    ("triangle_count_parts", "degree-ordered orientation: wedge self-join + closing-edge join, per-order pair derivation bounded by order size"),
    ("ann_pq_adc", "128-row codebook broadcast; hash-agg argmin encoding; ADC scoring against memoized reconstructions, queries broadcast"),
    ("cms_heavy_hitters", "sketch build as map-side partial agg into <=4096 cells; broadcast sketch probe join"),
    ("variant_events_typed", "single variant decode per row inside codegen; scan -> partial agg, no extra shuffle"),
    ("image_bmp_thumbnail", "two chained map-only Arrow passes (encode, decode+resize); no shuffle, payloads die in-batch"),
    ("dedup_edit_distance", "8-char blocking keys shuffle, not titles; candidates-only levenshtein rescore"),
    ("expectations_audit_events", "all rules audited in ONE scan with map-side partial agg; no shuffle beyond the 1-row rollup"),
    ("bm25_topk_docs", "tf/df filter to the 3-term query set BEFORE shuffling; tiny df broadcast; scalar N/avgdl as literals; top-15 via TakeOrderedAndProject"),
    ("lm_bigram_likelihood", "bigram model via map-side-combined hash agg; context counts roll up from the model table, not the corpus; scoring join on the shingle key"),
    ("dup_token_spans", "hashed 8-gram inverted-index self-join (16-byte keys, df cutoff); window + groupBy share ONE (doc_a,doc_b,diag) exchange"),
    ("acf_user_value", "all three lags lead() off ONE user_id sort; stacked pairs and the moment groupBy reuse the same exchange"),
    ("dedup_span_scrub", "span removal-sets aggregate the tiny spans frame; corpus side is one doc_id join + map-only HOF filter, no corpus explode"),
    ("vocab_coverage_curve", "corpus work is one map-side-combined token agg; rank/cumsum windows run over the bounded vocabulary only"),
    ("value_histogram_events", "binning fused into the scan; low-cardinality hash agg with map-side combine"),
    ("kcore_trade_graph", "per-round degree agg + double left-semi survivor join; AQE re-plans each shrinking round"),
    ("event_transition_matrix", "one user_id exchange for lead(); matrix agg collapses map-side; normalizing window over the tiny matrix only"),
    ("rolling_trend_slope", "ONE user_id exchange, ONE sort: both window passes share the (ts,event_id) ordering — no re-sort between"),
    ("basket_pair_rules", "per-order bounded pair self-join; min-support HAVING collapses the tail before the two support joins; 1-row n_orders broadcast"),
    ("interval_coverage_user", "sweep-line union: ONE user_id exchange carries the sort, the strict-past max window, and the map-side-combined aggregate"),
    ("chi2_contingency_cells", "one hash-agg collapses events to ~25 cells; all three marginal windows run over the collapsed table only"),
    ("pareto_frontier_parts", "two-phase skyline: salted local prune (32 hash groups, same two windows) feeds the exact single-direction global pass with ~frontier-sized input"),
    ("shuffle_skew_report", "groupBy collapses to one row per key; rank + Gini run over the key histogram, not raw rows"),
    ("embedding_gram_matrix", "mapInPandas int64 partial-Gram per task (d^2 rows out, not rows*d^2); posexplode dim sums map-side combined; d-row joins broadcast"),
    ("label_propagation_communities", "cache-partitioned edge list: each LPA round joins labels exchange-free on the edge side; (node,label) counts combine map-side"),
    ("dedup_incremental_minhash", "batch band rows join the memoized historical index; signatures ride the join; daily cost independent of corpus re-processing"),
    ("snapshot_diff_orders", "one full-outer sort-merge join on the PK; row-local CASE comparison; changed rows only"),
    ("fk_integrity_audit", "ONE child scan per relationship: all four stats fold out of the per-key aggregate left-joined to the distinct parent keys; small parents broadcast"),
    ("scd2_point_in_time_join", "dimension build on ONE user_id exchange; PIT join is equi on user_id with interval containment as residual filter"),
    ("survival_signup_to_purchase", "three user_id aggs share one partitioning; at-risk window runs over the bucket table, not subjects"),
    ("kmeans_lloyd_embeddings", "per round: broadcast centroids, hash-agg argmin (no sort window), (cid,dim) exact-sum update — only k*d sums shuffle"),
    ("bloom_prune_semijoin", "KB-sized bloom bit table broadcasts and prunes the fact map-side BEFORE any exchange; exact broadcast semi-join removes the sketch's false positives"),
    ("salted_skew_join_events", "fact shuffles on (user_id, salt) so a hot key spans 16 reducers; dimension explodes 16x but stays dim-sized; aggregate combines map-side"),
    ("tfidf_cosine_pairs", "signature selection caps the inverted index at 10 postings/doc; candidate pairs only from shared-term joins; per-doc top-k window bounds output"),
    ("time_weighted_avg_user", "ONE user_id exchange feeds the lead() window AND the final aggregate — no second shuffle"),
    ("mad_outlier_per_user", "two rank windows and two median joins all ride the same user_id partitioning; median tables broadcast"),
    ("seasonal_hour_of_week", "fact collapses to <=168*|types| cells map-side; marginal windows run over the cell table only"),
    ("session_window_events", "built-in session_window merge: ONE user_id exchange, session merge inside the sort — no LAG/SUM window cascade"),
    ("simpson_diversity_user", "two cascaded map-side-combined aggregates on one user_id key; integer moments until one division"),
    ("ann_incremental_assign", "daily batch assigns vs BROADCAST frozen centroids (O(batch) argmin); historical index is the loaded artifact; probe join shuffles on cell id only"),
    ("cusum_changepoint_events", "two-level prefix scan: shard-parallel local prefixes + broadcast offsets + hash-agg struct argmax — parallelism scales with executors, not type cardinality"),
    ("minhash_error_report", "exact Jaccard only for banded candidates; candidate set broadcasts so corpus shingle-set arrays never shuffle"),
    ("embedding_pca_power", "each mat-vec round: d-row broadcast join + hash agg (the PageRank edge-join shape); scatter is the memoized O(partitions*d^2) artifact"),
    ("ks_drift_events", "ONE event_type exchange carries both ECDF rank windows and the sup-gap argmax; integer cross-multiplied gap, no binning"),
    ("rrf_fuse_rankers", "fuses two top-k ranker outputs (O(queries*k) rows each); union + hash agg on (query,doc), final top-k via rank window over tiny fused table"),
    ("image_gif_features", "two chained map-only Arrow passes (LZW encode, decode+reduce); no shuffle, payloads die in-batch"),
    ("bfs_distance_from_hub", "frontier BFS: per-round join touches only newly-reached nodes; edge list cached partitioned; anti-join vs visited"),
    ("textrank_keywords", "map-side adjacency explode -> distinct edge set; vocab cutoff bounds the graph; 3 cached-partitioned PageRank rounds"),
    ("k_anonymity_audit", "one map-side-combined hash agg on a bounded QI key space; no joins, no windows"),
    ("ann_dim_truncation_overlap", "query set broadcast twice (full + sliced); per-side norms precomputed; rank windows shuffle winners only"),
    ("dedup_weighted_sampling", "components from the memoized pair graph; corpus left join AQE-broadcast; keep predicate map-side md5 arithmetic"),
    ("tar_shard_roundtrip", "bounded collect_list per shard + two Arrow passes (ustar pack, member walk); payloads die in-batch"),
    ("theil_sen_trend_user", "ONE user_id exchange: trailing-16 rank, bounded 120-pair self-join, and the median rank all ride it"),
    ("nearest_event_join", "merge-scan, not a join: two ignore-nulls frame windows on ONE user_id sort carry last-before/first-after"),
    ("doc_novelty_ratio", "map-only shingles; gram key shuffles exactly twice (distinct, first-owner agg) — novelty counts come from aggregating the owner table by first_doc, so the final join is doc-sized"),
    ("sql_top_spenders_per_segment", "SQL text verbatim on both engines: one (segment,customer) agg exchange, rank window over the tiny aggregate"),
    ("doc_novelty_incremental", "batch grams join the memoized historical gram index; daily cost independent of corpus size"),
    ("seasonal_zscore_outliers", "cohort cells collapse map-side to <=168*|types| rows, broadcast back; flag is per-row integer compare"),
    ("mutual_nn_pairs", "scored candidates from the shared lsh_scored_pairs artifact; symmetric expansion, one src-key rank window, best-table self-join for reciprocity"),
    ("user_activity_features", "ONE map-side-combined user_id agg (conditional counts fused, no pivot); 1-row frontier broadcast"),
    ("revenue_mom_growth", "fact collapses to <=|years|*12 cells map-side; LAG window over the cell table only"),
    ("kmeans_centroid_drift", "assignment table is the loaded artifact; (cid,dim) sums combine map-side to k*d rows; tiny key join"),
    ("cdc_apply_changes", "one left join vs the change-volume-sized feed (AQE-broadcast), row-local CASE, union with inserts"),
    ("activity_bitmap_retention", "event scan collapses to DISTINCT (user,day) map-side; ONE hash agg builds every bitmap; streak/popcount are row-local bigint folds"),
    ("mann_whitney_events", "rank stat without ranking rows: distinct-value histogram (map-side combinable), one ordered scan over the histogram, exact doubled-integer U"),
    ("gini_concentration_segment", "spend rolls up map-side per custkey; rank window and both sums ride ONE segment exchange; decimal(38,0) numerator"),
    ("zonemap_skipping_report", "one hash agg keyed by zone id (each input partition touches few zones); corpus max-ts is a 1-row broadcast"),
    ("holt_linear_forecast_user", "window-rank prefilter caps groups at 32 rows BEFORE the Python stage; one user_id exchange, bounded Arrow batches"),
    ("mmr_diversified_topk", "recall is the broadcast-query scan (corpus never shuffles); pair cosines from a candidate-table self-join; Python sees only O(queries*C^2) rows"),
    ("graph_modularity_communities", "community table is the memoized LPA artifact; intra count joins (node,label) maps per endpoint; m is a 1-row broadcast"),
    ("cross_correlation_types", "events collapse map-side to hourly cells; spine generated not scanned; 7 lag offsets join cell-to-cell on the hour key"),
    ("sql_above_segment_average", "Catalyst decorrelates both scalar subqueries into ONE segment aggregate joined back; EXISTS becomes a left-semi with the priority filter pushed to parquet"),
    ("ann_hard_negatives", "query set broadcasts once; ONE scored table feeds both rank windows (pos argmax, neg top-5); final join is query-keyed"),
    ("sql_recursive_month_spine", "WITH RECURSIVE spine is rows=#months driver-trivial; tiny spine broadcast into the LEFT join vs the one revenue-rollup exchange; filters pushed to parquet"),
    ("compaction_bin_packing", "planner cost is O(files) not O(rows): raw scan collapses map-side to the shard list; prefix-sum window and bin rollup share the event_type partitioning"),
    ("lang_confusion_matrix", "rides the map-only lang-ID pass; ONE hash agg to the gold*pred grid; marginal windows run over dozens of cells"),
    ("viewers_without_purchase", "both sides pre-aggregate to per-user rows behind pushed filters; anti join shuffles key-sized tables, purchaser set AQE-broadcastable"),
    ("ols_time_regression_user", "min-ts window and moment aggregate ride ONE user_id exchange; slope/intercept/R2 are per-row arithmetic on the one-row-per-user table"),
    ("link_prediction_suppliers", "adjacency-list wedges: ONE collect_list exchange builds capped sorted neighbor arrays (size-filtered, no degree join); pairs stream from two Generate steps into the map-side-combined supplier-pair rollup; the edge list crosses the wire once"),
    ("classifier_agreement_kappa", "one map-only pass scores both annotators; hash agg to <=16 cells; kappa algebra runs on constant-size tables"),
    ("ohlc_bars_type_hour", "ONE (type,hour) exchange: asc row_number + count-over-window mark first/last (no desc re-sort); bar rollup reuses the key"),
    ("phrase_search_positional", "postings filtered to phrase vocabulary BEFORE the position self-join; phrase book broadcasts; adjacency join co-partitions on doc_id"),
    ("attribution_linear_touches", "user-equi join with the time range as residual filter (no time cross-join); rank+count share ONE pid window sort; split is row-local int math"),
    ("rate_limit_sliding_audit", "ONE user_id exchange + sort carries the RANGE frame; window buffer bounded by densest window per user"),
    ("pareto_front_customers", "four windows share one segment exchange and sort; threshold decided in cross-multiplied bigint cents; suffix aggregate reuses the key"),
    ("rollup_incremental_merge", "hist rollup is the loaded artifact; daily cost = one batch-day rollup + a merge agg over two rollup-sized tables; zero corpus re-scan"),
    ("cheapest_path_lead_time", "each relax round = ONE edge join + min agg (PageRank shape) over the memoized weighted edge artifact; rounds coalesce the node-sized dist table and localCheckpoint it, so lineage never grows"),
    ("weighted_median_value_type", "size-gated prefix scan: below SHARD_MIN_BYTES one event_type exchange carries both window sums and the final min agg; past it the two-level shard scan takes over (identical output); weights stay bigint end to end"),
    ("sql_unpivot_user_metrics", "one map-side-combined conditional-count agg; UNPIVOT is a narrow 4x generator, zero extra shuffle"),
    ("grid_density_core", "points collapse to grid cells in one map-side agg; 9-offset neighborhood joins the bounded CELL table (broadcast), never the points"),
    ("er_fellegi_sunter", "blocked (nation, balance-band) equi-join bounds candidate pairs; integer FS weights scored in a narrow projection"),
    ("hll_portable_events", "registers are a map-side-combined (type, bucket) MAX; avalanche hash and harmonic estimator all int64 exprs, zero doubles"),
    ("chisq_type_segment", "one broadcast dim join + one hash agg to ~25 cells; every window runs on the cell table, never the fact"),
    ("calibration_bins_events", "fixed-width bins = ordinary hash agg (no global ntile sort); rates and lift are integer divisions on the 10-row table"),
    ("audience_overlap_jaccard", "user-keyed self-join is k^2 per user with k = |types|; sizes broadcast into the final enrich"),
    ("spearman_value_vs_time", "ONE event_type exchange carries both rank sorts and the moment agg; rho is a single IEEE division of exact bigints"),
    ("curriculum_interleave_docs", "per-source rank rides one source exchange; the source-index window sorts a |sources|-row table and broadcasts"),
    ("hits_trade_graph", "each half-step = one edge join + map-side sum; max-normalizers are 1-row broadcasts; edges come from the memoized artifact"),
    ("zip_shard_roundtrip", "bounded collect_list per shard + one Arrow pack pass; unpack is map-only with per-member CRC verification"),
    ("skew_key_diagnosis", "one map-side-combined (type,key) agg; windows run on the key-sized table, never raw events"),
    ("sql_group_by_all", "dialect sugar desugars to the ordinary two-phase hash agg; distinct-count rides the same exchange"),
    ("holt_winters_seasonal_user", "collect_list folds the 32-sample window into one array per user; mapInPandas batches ~1000 users per Arrow pass"),
    ("welch_t_test_purchase_view", "one conditional-agg pass to a single row; all test math is scalar on that row"),
    ("kwic_concordance_docs", "map-only: tokenize, posexplode, term filter, edge-clamped slice; zero shuffles"),
    ("readability_flesch_docs", "map-only scan: three regexp counters + scalar math, whole-stage codegen end to end"),
]


def main() -> None:
    from iot_sparkstreaming_spark.queries.registry import load_all
    from iot_sparkstreaming_spark.session import get_spark

    registry = load_all()
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# Physical plans (generated — do not edit)",
        "",
        f"Regenerate with `python tools/dump_plans.py` (sf_dir={SF_DIR}).",
        "Evidence for the plan-shape claims in query docstrings.",
        "",
    ]
    for name, claim in SHOWCASE:
        q = registry[name]
        df = q.spark(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", f"*Claim:* {claim}", "", "```", plan.rstrip(), "```", ""]

    (REPO / "docs").mkdir(exist_ok=True)
    (REPO / "docs" / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {REPO / 'docs' / 'PLANS.md'} ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
