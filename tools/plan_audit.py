"""Generate PLANS.md: formatted physical plans for the headline
queries + automated checks of the plan properties that matter at
100 TB (broadcast dims, pushed filters, TakeOrderedAndProject, no
cartesian products outside sanctioned pair-scans).

Usage: python tools/plan_audit.py  (writes /root/repo/PLANS.md)
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from dist_keras_spark.plans import QUERIES  # noqa: E402
from dist_keras_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

AUDITED = {
    "revenue_by_nation": "nation broadcast by hint; orders/customer joins UNHINTED (size-based broadcast at small SF, shuffle join at scale); shipdate pushed to scan",
    "pricing_summary": "pushed filter + partial/final hash agg, whole-stage codegen end to end",
    "topk_global": "TakeOrderedAndProject — no global sort",
    "topk_per_group": "one shuffle on the window partition key",
    "join_asof": "union + window: ONE shuffle on the join key, no range-join explosion",
    "join_theta_range": "equi component drives a sort-merge join; range predicates post-filter",
    "minhash_lsh_neardup": "signatures scan-side; shuffles only at band buckets + verify join",
    "knn_bruteforce_top5": "query side collected once; spread corpus scored in PythonMapInArrow batches; only per-batch top-k candidates shuffle to the query_id window",
    "events_session_window": "session window state keyed by user",
    "ml_linear_scorer": "pure column expressions — zero Python, zero shuffles",
    "tpch_q4_order_priority": "correlated EXISTS decorrelated to a left-semi join; date range pushed to the orders scan",
    "tpch_q13_customer_distribution": "ON-clause predicate preserves the outer join; two-level partial/final hash aggregation",
    "tpch_q14_promo_revenue": "CASE folded into the partial aggregate; shipdate pushed; part join unhinted",
    "tpch_q16_supplier_cnt": "NOT IN as null-aware broadcast anti join; brand/size filters pushed to the part scan",
    "knn_ivf_top5": "scan-side cell assignment (Arrow kernel); probe join against broadcast query cells",
    "tpch_q7_nation_volume": "two dimension chains meet at lineitem; nation pair filter after broadcast joins",
    "tpch_q17_small_quantity": "correlated scalar aggregate decorrelated to one aggregate pass + join",
    "tpch_q19_disjunctive": "single-side disjuncts pushed to each scan; cross-side residual post-join",
    "tpch_q22_global_sales": "uncorrelated scalar subquery as broadcast literal + null-safe anti join",
    "tpch_q5_local_supplier": "supplier join UNHINTED (SF-scaling side; AQE decides) — only nation/region broadcast by hint",
    "tpch_q9_product_profit": "p_name filter pushed to part scan; decimal profit arithmetic; nation broadcast",
    "tpch_q12_shipmode_priority": "ship window pushed to lineitem scan; CASE-folded dual counts in the partial agg",
    "dedup_embedding_cosine": "SimHash-banded candidate equi-join on (table,bucket) — NO cartesian pair scan; exact cosine verify on candidates only",
    "ivf_search_base_delta_top5": "base index + frozen-centroid delta segment, unioned at read; probe join prunes cells across BOTH segments; one assignment pass over the delta only at ingest",
    "ivf_centroid_occupancy_drift": "scan-side frozen assignment; single <=cells-sized partial agg - the re-cluster trigger metric costs one exchange",
    "ivf_refresh_migration": "one Lloyd step in the integer-millis rational domain: posexplode (cid,dim) partial sums build centroids (mergeable state), corpus x broadcast re-assign, <=cells^2 matrix agg",
    "ivf_refresh_budgeted": "B=4 hottest-ingest cells re-balanced locally: region mass B*N/cells is CONSTANT under the cells-proportional schedule; argmin against B centroids; selection is one cells-sized agg",
    "knn_lsh_multiprobe_top5": "one-table multi-probe: literal-plane sign folds scan-side; 4 distinct probe buckets per query via lowest-margin bit flips (no DISTINCT needed); bucket equi-join + per-query re-rank window",
    "knn_lsh_top5": "banded candidates via equi-join; exact re-rank window; corpus never cross-joins queries",
    "events_tumbling_hourly": "µs-native ts (no derived-timestamp wrapper since the ns→µs fixture fix) — window expr over a raw scan column; partial/final hash agg",
    "join_range_binned": "range join rewritten as (event_type, time-bin) equi-join — fine-grained shuffle keys instead of 5 hot event_type groups; exact |Δt| filter on adjacent-bin candidates only",
    "bucketed_join_colocated": "both sides bucketBy(8, key): sort-merge join with ZERO Exchange nodes — the write-once-shuffle-never pattern for repeatedly-joined fact tables",
    "events_hourly_gapfill": "dense hour×type spine is dim-sized (sequence+explode of a 1-row bounds agg); the only data-sized shuffle is the hourly groupBy; LOCF window sorts the SPINE, never raw events",
    "events_anomaly_trailing_z": "trailing z-window partitions on (event_type, day) — key cardinality grows with the time span, so no constant-key serialization of a hot type's history",
    "events_funnel_steps": "three aggregate+join rounds all keyed on user_id — AQE coalesces the repeated same-key shuffles; no windows, no state",
    "histogram_fixed_width": "single partial/final hash agg into ≤21 groups; bucket expression is pure scan-side column math (no extra pass for bounds — compile-time literals)",
    "sample_stratified_hash": "md5-predicate evaluated at the scan (no shuffle to sample); retry-stable unlike rand() — speculative re-execution samples identical rows",
    "merge_upsert_scd": "MERGE as one full-outer sort-merge join on the key; the change-set aggregate shuffles on the same key so the partitioning is reused",
    "unpivot_measures": "melt is a narrow map-side Expand — zero Exchange nodes in the plan",
    "agg_grouping_sets": "one scan + Expand(3 grouping combos) + single hash agg — strictly cheaper than 3 unioned aggregates at 100 TB (scan dominates)",
    "knn_int8_quantized_top5": "int8 quantization scan-side (transform, no UDF); then the knn_bruteforce_top5 shape with exact int64 dot products",
    "cosine_pairs_threshold": "r10 rewrite: spread corpus, per-side norms precomputed, interpreted cosine computed ONCE in a projection then filtered (no CSE exists for interpreted HOFs across filter+project); query side broadcast",
    "join_asof_forward": "forward as-of via the same union+window operator (first() over [current,+inf)) — ONE key shuffle, never the quadratic range join the oracle spells out",
    "win_cumulative_distinct": "running distinct as first-occurrence flag + running sum — O(1) window state vs collect_set-over-window's per-row set",
    "share_of_total_broadcast": "grand total as a window sum over the ALREADY-REDUCED 25-row per-nation aggregate (bounded_window_key) — one subtree, lineitem scanned ONCE (r13: the crossJoined second aggregate duplicated the whole 3-join pipeline; AQE measurably did not reuse it). sum() OVER () on RAW data stays banned",
    "pipeline_curation_end2end": "quality gate pushed scan-side, ONE content-hash dedup shuffle, split projection shuffle-free, final group-by — exactly two Exchanges for the whole curation chain (plan-asserted)",
    "ab_test_t_stat": "one scan → 2-group aggregate → 1×1 crossJoin; Welch's t is closed-form over six aggregate values, no per-row Python",
    "dq_expectations_orders": "four column checks fold into ONE aggregate scan; the FK check is a single left-anti join — five expectations, one scan + one join",
    "zorder_cluster_stats": "Morton interleave as whole-stage-codegen bit math; one partial/final agg into ≤64 z-range groups",
    "join_asof_nearest": "BOTH directional as-of fills over ONE tagged union — two running-frame windows (asc + reversed order) on the same user_id partitioning: 2 scans, 1 Exchange, 0 joins (r13: was two complete union+window subtrees joined back — 4 scans, 2 Exchanges, 1 broadcast join); nearest-match semantics with zero range-join explosion",
    "bpe_first_merges": "HOF pair expansion (no UDF) → one hash agg → TakeOrderedAndProject; ranking window runs on the bounded top-10 only",
    "bm25_topk_docs": "scan-side tf/dl, 1-row stats broadcast, orderBy+limit(k) bounds the corpus BEFORE the ranking window (global-window rule)",
    "sql_lateral_topn": "correlated LATERAL with ORDER BY+LIMIT decorrelated by Catalyst into a ranked join — never per-outer-row re-execution",
    "sql_recursive_cte": "WITH RECURSIVE executes as an iterative union; each step joins the dim-sized frontier (12 months), not the corpus",
    "custom_datasource_scan": "Python Data Source with partitions() → reads fan across executors like file splits; Arrow batch path into a plain hash agg",
    "gini_histogram_binned": "per-customer agg → ≤1000-bin histogram; cumulative window over the BIN dimension — the no-global-sort inequality statistic",
    # round 6
    "tpch_q2_shape_min_cost_supplier": "pseudo-partsupp derived in one (partkey,suppkey) groupBy; per-part min is a plain aggregate joined back on the part key (no window); only region/nation broadcast by hint",
    "tpch_q11_shape_important_stock": "group aggregate vs grand total via 1-row broadcast crossJoin (window-free); integer-cents HAVING — no float threshold",
    "tpch_q20_shape_excess_stock": "partsupp and the recent-shipments aggregate share the (partkey,suppkey) grouping key — co-partitioned join; excess set reduces to DISTINCT supplier ids before the left-semi probe",
    "join_asof_left": "keep-unmatched as-of: same ONE-shuffle union+window plan; the left branch only drops the final null filter",
    "levenshtein_blocked_pairs": "DISTINCT collapses the fact table to the 64-name domain BEFORE the quadratic step; noun-blocked equi-join bounds pairs; Levenshtein is scan-side JVM",
    "tfidf_cosine_pairs": "inverted-index equi-join on df-capped shingles (stop-shingle valve); integer-quantized weights — only (doc_id, wgt) cross the wide shuffle; norms joined back by id",
    "tfidf_cosine_pairs_dfcap": "r11 scale-safe twin: ABSOLUTE df<=64 cap on the posting join (pairs/shingle constant); norms full-vocabulary from the uncapped weight table — same one wide shuffle, lower-bound cosine by construction",
    "semdedup_scaled_cells": "r11 k∝N twin: assignment via ONE Arrow int64-matmul argmax kernel (ArrowEvalPython, scan-side) instead of the O(N·k) crossJoin; model-sized centroid collect; dedup self-join still shuffles ONCE on cell",
    "colbert_rerank_top3": "r11 retrieve-then-rerank: knn_ivf candidate stage (scan-side Arrow assignment, probe join) feeds ids-only candidates; candidate+query-token tables broadcast into the corpus scan, MaxSim evaluated on Q*16 rows only; per-query ranking window",
    "heavy_hitters_support": "one map-side-combined count shuffle + 1-row broadcast total; integer predicate and support — the exact-oracle baseline for sketch heavy-hitters",
    "drift_chi2_daily": "day×type spine is dim-sized (two DISTINCT projections cross-joined); expected-mass arithmetic scan-side; one final day-keyed agg",
    "win_reset_running_sum": "two ROWS-frame windows, both partitioned on data-scaling keys (user, then user×session) — O(1) state, no unbounded frames",
    "events_ohlc_daily": "whole OHLC bar as ONE hash aggregate — min_by/max_by over a uniqueness-packed (µs-in-day, event_id) key; no per-day sort, no window",
    "events_time_weighted_avg": "lead window on the user key + one hash agg; durations integer µs",
    "incremental_rollup_merge": "state is group-cardinality-sized; merge re-aggregates state ∪ delta on the group key — historical partitions never re-read; integer-cents sums merge exactly",
    "snapshot_time_travel": "readers scan exactly the manifest's file list — version choice is metadata-only; both version reads are plain parquet scans unioned",
    "streaming_session_window_live": "session state keyed (user, open session), expired past the watermark — state bounded by ACTIVE sessions",
    "agg_percentile_disc_rank": "one ranked window per data-scaling key + rank-equality filter — discrete quantile without engine-specific tie conventions",
    "pivot_multi_measure": "explicit pivot values list → single partial/final aggregate, no distinct-values discovery pre-scan",
    "variant_semi_structured": "parse_json once into the shredded VARIANT encoding; typed path extraction without per-touch string re-parse",
    "sql_pipe_syntax": "|> pipeline SQL lowers to the identical plan as classic SQL — pushdown and partial aggregation unchanged",
    "collation_case_insensitive": "UTF8_LCASE grouping keeps the source column for pushdown/stats instead of a derived lower() key",
    # round 6, second wave
    "market_basket_lift": "pair self-join keyed on l_orderkey (co-partitioned); per-order fanout bounded by (brands-per-order choose 2); ≤300 pair groups at any SF; brand counts + 1-row total broadcast",
    "cdc_snapshot_diff": "two partial-aggregated scans keyed o_custkey + one co-keyed full-outer join + 4-group rollup — the diff never materializes raw fact rows",
    "scd2_from_events": "gaps-and-islands: lag + cumulative-change windows and the run aggregate all share ONE user_id shuffle; output rows = state changes < input rows",
    "concurrent_intervals_peak": "sweep-line (2 rows/lineitem) — window, peak agg and argmin re-join all share the l_suppkey shuffle; O(n log n), never an all-pairs overlap join",
    "sequence_pattern_match": "one groupBy(user) shuffle; ordering inside the aggregated array (array_sort of structs), regexes JVM-side — no global sort, no Python",
    "revenue_mom_growth": "star join partial-aggregates to the SF-INVARIANT nation×month grid before the lag window — the window input is dim-sized by construction",
    "rfm_segment_quantile": "quartile bands via broadcast exact-percentile boundaries (a proper distributed aggregate) — NO global ntile sort; zero sorts in the whole plan",
    "weighted_median_by_supplier": "cumulative-weight + total windows and the final agg share one supplier-keyed shuffle; qualifying set is a suffix so min() replaces a second window",
    "pareto_frontier_brand": "skyline via running-max RANGE windows (O(n log n)) while the ORACLE runs the quadratic NOT EXISTS — two independent algorithms must agree",
    "corr_sufficient_stats": "six exact int64 moment sums per group, pure partial aggregation; final corr formula once per group — bit-identical across engines",
    "streaming_watermark_late_drop_live": "append-mode windowed agg with REAL late-drops (3 staged micro-batches clear the two-watermark semantics); state bounded by open windows",
    "dpp_partitioned_join": "runtime dynamicpruning subquery injected into the partitioned fact scan (asserted in-query); dim filter must be likely-selective — a bare boolean attribute is boolean-simplified away and declines the rule",
    "manifest_skipping_scan": "zone-map skipping: per-file min/max manifest prunes the file list BEFORE the scan (asserted pruned < total); residual row filter keeps results exact",
    "events_path_top10": "two lead() on ONE user-keyed window (n-gram over sequence, no self-joins); ≤125-group agg; TakeOrderedAndProject",
    "custom_datasource_write_roundtrip": "custom Python sink: per-task executor writes, driver commit publishes a manifest of exactly the committed files — torn writes unpublished; only filenames reach the driver",
    "udtf_table_arg_summary": "SQL-declared per-partition Python via UDTF TABLE argument — one shuffle on the PARTITION BY key, O(1) UDTF state, ArrowEvalPythonUDTF (gate-clean)",
    "streaming_left_outer_join_live": "watermark-bounded stream-stream outer join state; null emission via state cleanup in a later batch (2-file staging); the only outer join that survives unbounded streams",
    "kmeans_lloyd_two_iters": "per iteration: broadcast k-centroid cross join + vec_id-keyed argmin window; mergeable posexplode centroid update — integer-exact rational centroids, nothing collected",
    "bucket_pruning_scan": "point lookup reads 1 of 8 buckets (SelectedBucketsCount asserted); autoBucketedScan off or the planner drops layout AND pruning — hash data-skipping with no directories",
    "sql_group_by_all": "GROUP BY ALL lowers to the identical partial/final hash aggregate as explicit keys; ORDER BY ALL sorts the 4-row aggregate output",
    "events_funnel_within_24h": "same three user_id-keyed aggregate+join rounds as the unbounded funnel; conversion windows are join-side predicates, zero new shuffles",
    "triangle_count_brands": "basket aggregation is the only data-sized work; the edge graph is brand-cardinality-sized; wedge join bounded by degree-ordering at scale (docstring)",
    "pagerank_two_iters": "message-passing rounds: edge⋈rank keyed on src, dst-keyed aggregation; 1e12 fixed-point positive-int arithmetic — no float drift across engines",
    "logistic_newton_step": "one partial-aggregated scan per Newton step (5 int sums per group) + model-sized closed-form solve — the IRLS-at-scale iteration shape",
    "events_session_dynamic_gap": "per-event gap session_window — same one-user-shuffle plan as fixed-gap; oracle needs the running-max-of-interval-ends rule (lag-based rule is WRONG for dynamic gaps)",
    "arrow_blob_stats": "mapInArrow: zero-copy pyarrow RecordBatches, compute kernels on the binary column — no pandas conversion in the batch path",
    "point_in_time_features": "label window (unbounded→-1) + backward as-of leg share ONE user_id shuffle; leakage-safe by construction, no range-join explosion",
    "scalar_hof_suite": "exists/forall/filter/aggregate-with-finish as pure column expressions — whole-stage codegen, zero Python, zero shuffles; per-element int quantization keeps the fold exact",
    "win_locf_forward_fill": "LOCF over the raw fact: last(ignorenulls) on a running user-keyed frame — O(1) window state, one data-scaling shuffle",
    "streaming_full_outer_join_live": "full-outer stream-stream join: both sides watermark-expire on ASYMMETRIC cuts derived from the time constraint; completes the streaming join matrix",
    "compaction_roundtrip": "small-file compaction with crash-safe rename dance; content hash-identical after rewrite, file count asserted reduced",
    "scalar_calendar_arithmetic": "engine calendar conventions reconciled explicitly (dayofweek origin); pure scan-side expressions, zero shuffles",
    "linreg_gd_two_steps": "per GD step: ONE partial-aggregated int64 gradient scan + model-sized join back — the synchronous-rounds trainer skeleton, hash-exact via fixed-point weights",
    # round 7
    "arrow_journey_summary": "one user_id shuffle + in-partition sort; Python boundary crossed once per Arrow batch (vs per-row in the UDTF twin); numpy run-length segmentation inside",
    "linreg_adam_two_steps": "per Adam step: ONE partial-aggregated scan (int64 gradient sums) + model-sized join back; moment state rides the 3-row model frame",
    "linreg_dynsgd_two_steps": "same two-scan skeleton as the GD replay; decayed-LR multiplier is a literal per step",
    "linreg_eamsgd_two_steps": "same skeleton; velocity column carried between rounds in the model frame",
    "join_skew_salted": "ShuffledHashJoin on (suppkey, salt): hot keys spread over 8 tasks; dim replicated 8x (model-sized), fact adds one int column",
    "next_event_training_examples": "three lags share ONE user-keyed shuffle+sort; no self-join, no collect_list",
    "negative_sampling_contrastive": "candidates are a projection over broadcast (k, n) frames; only the id-existence join shuffles, ids only",
    "seasonal_naive_backtest": "self-join runs on the (priority x day) aggregate, never the fact; date-shifted equi-join, gap-correct",
    "crossval_fold_assign": "pure map-side hash expression + one aggregate; no shuffle beyond the final 5-group agg",
    "passage_chunk_overlap": "scan-side explode of arithmetic chunk offsets; zero shuffles, zero UDFs",
    "interpolate_linear_gaps": "ONE user_id-keyed window (lead + IGNORE-NULLS prev/next) over the hourly aggregate, then the grid explode; the ~1M-row grid is never shuffled or sorted; rational integer output",
    "sample_exact_n_per_group": "rank window on the group key only; per-group top-20 by deterministic hash order",
    "snapshot_rollback_restore": "metadata-only restore: new manifest reuses v1's file list; reads scan exactly the manifest files",
    "bloom_runtime_filter_join": "might_contain(xxhash64) runtime filter pushed into the fact scan from the selective dim side; rows that cannot match die before the shuffle",
    # round 8
    "substring_dedup_50gram": "50-gram md5 fingerprints computed inside the scan stage; only (id, 32-hex fp) postings shuffle; fingerprint-bucketed self-join",
    "substring_dedup_50gram_poly": "O(1)/span rolling double-poly hash: per-doc prefix-sum window + modular-inverse tables, all codegen; MEASURED 4.5x faster than the md5 twin (and the per-span aggregate() HOF formulation measured 100x SLOWER - interpreted lambdas)",
    "substring_dedup_survivors": "same postings shuffle; blockers aggregate is doc-keyed and joins back broadcast-sized",
    "weight_average_exact": "one partial-agg scan to 8 shard rows; merge arithmetic is O(shards x components) scalar math",
    "quality_gopher_rules": "9 rules as scan-side column expressions; single partial/final agg to one row, stacked to 11",
    "quality_filter_effect_by_source": "same zero-shuffle rule scan; per-source partial agg only",
    "power_iteration_two_steps": "X^T(Xv) factorization: d-width postings joins, covariance NEVER materialized; v1 needs no join at all",
    "bigram_pmi_top": "bigrams via scan-side zip_with (text never shuffles); two token-keyed partial aggs; broadcast totals; TakeOrdered top-50",
    "vocab_coverage_topn": "vocabulary-sized ranking window under bounded_window_key; token counts partial-aggregate in the scan",
    "token_budget_largest_remainder": "per-source partial agg; apportionment over the source dimension only",
    "pq_adc_top5": "encode = corpus x 16-centroid broadcast join with struct-min partial agg; 8x16 query tables broadcast; (query, vec) partial-sum shuffle",
    "ivf_pq_top5": "coarse assignment broadcast-join argmin; probes prune to 2/8 cells BEFORE PQ scoring; candidate join cell-bucketed",
    "pq_recall_vs_exact": "exact side is the certification brute force over broadcast queries; PQ side reuses the codes/table joins",
    "pq_lloyd_refined_sse": "centroid update is ONE (s, code, dim)-keyed partial agg to 1024 groups regardless of corpus size",
    "rrf_fusion_top5": "fusion consumes top-20 LISTS only; full-outer join is candidate-sized; integer RRF scores",
    "ngram_novelty_rate": "md5 3-gram fingerprints scan-side; one fp-keyed min shuffle + fp-bucketed verdict join",
    "poisson_bootstrap_replicas": "x20 replica fan-out is a scan-side explode; multiplicities are integer CASE arithmetic; 20-group partial agg",
    "binary_eval_confusion": "scan-side scoring, one-row confusion aggregate; metrics are single integer divisions",
    "score_calibration_bins": "integer micro-probabilities binned scan-side; 10-group partial agg",
    "approx_percentile_certified": "sketch and exact percentile in the SAME partial-agg pass; assert on 5 collected group rows",
    "ols_slope_per_supplier": "five integer sufficient stats in one supplier-keyed partial agg; slope is per-group scalar math",
    "event_type_diversity_gini": "two stacked partial-agg exchanges, both map-side combined (user,type) then user",
    "trimmed_mean_supplier": "rank window and aggregation share ONE group-key shuffle; trim bounds are per-row integer math",
    "containment_pairs": "same inverted-index shape as jaccard; containment adds zero passes (pair agg carries both set sizes); integer cross-multiplied threshold",
    "langid_confusion": "heuristic is scan-side column logic; one (lang, predicted) partial agg",
    "parquet_schema_evolution_scan": "mergeSchema footer union; old files surface NULL columns; per-file lineage kept",
    "recursive_cte_rollup": "recursion = 7 bounded frontier-vs-parent equi-joins (depth log10(maxkey)); each iteration shrinks",
    "lateral_topn_per_group": "LATERAL decorrelated to WindowGroupLimit: map-side top-3 per key BEFORE the exchange, then rank filter",
    "streaming_dedup_then_window_live": "dedup state keyed by event_id within the watermark horizon; agg state per open window; duplicated staging proves the dedup earns its keep",
    # round 8, second session
    "pii_redact_mask": "zero shuffles: staging, regexp_count and nested regexp_replace are all codegen string kernels in one scan",
    "k_anonymity_audit": "one QI-tuple hash agg, map-side combined; result bounded by the QI domain",
    "l_diversity_audit": "exact count-distinct expands to (QI, segment) partial agg then class rollup; both map-side combined",
    "winsorize_clamp_stats": "ranked window per bounded priority key; ~5-row thresholds broadcast back; clamp+sum partial-aggregates",
    "ranking_mrr_ndcg_at5": "reuses the int8 kNN plan (broadcast queries, corpus never shuffles); label joins broadcast; metric agg keys on query_id; all-integer metrics",
    "hard_negative_mining_top5": "identical to int8 kNN plus two broadcast label lookups and a scan-side label filter",
    "dsir_importance_weights": "token stats one map-side-combined agg; weight join-back broadcasts onto the exploded scan; doc rollup keys on doc_id; text never shuffles",
    "semdedup_cell_prune": "int8 quantization + norms scan-side; 16-centroid broadcast crossJoin for assignment; dedup self-join shuffles ONCE on cell; n_cells is the scale knob",
    "changepoint_mean_shift": "daily rollup map-side combined; running sums via forward running frames (never unbounded-following); per-type top-1 window; integer scores",
    "mixture_temperature_alloc": "per-source partial agg; sqrt weights + apportionment over the source dimension under bounded_window_key; floor(sqrt) is IEEE-portable",
    "ppjoin_prefix_filter_pairs": "prefix index keeps ~40% of postings and ONLY the rarest tokens - the m^2 blowup concentrates where m is smallest; df is a shingle-keyed count window; ONE staged per-document frame (sorted (df, shingle) array, prefix slice) feeds the prefix self-join and both verify sides; verify is size(array_intersect), no postings join",
    "label_propagation_two_rounds": "per round: edge-list join with label vector + (dst,label) agg + per-node top-1 window - the PageRank skeleton with argmax",
    "text_normalize_canonical": "three codegen string kernels in the scan; zero shuffles",
    "leakage_safe_split_assign": "CC iteration dominates (ids-only shuffle-joins per diameter round); split is scan-side md5 on the CC output",
    "multimodal_audio_energy": "Arrow mapInPandas decode in the scan stage, vectorized numpy per batch; projection is column math; zero shuffles",
    "streaming_enrich_then_window_live": "stream-static join stateless per microbatch; window state one row per (hour, segment); stateOperators==1 asserted in-query",
    "fk_orphan_audit": "each relationship = one left-anti hash join + count, parent side broadcast while it fits; four audits independent, one-row unions",
    "rake_keyword_scores": "posexplode + ONE doc-keyed running-sum window for phrase ids; two map-side-combined aggs; top-20 is TakeOrderedAndProject",
    "lorenz_curve_deciles": "per-customer rollup partial-aggregates; ordered window on the population-sized rollup under bounded_window_key (exact baseline; gini_histogram_binned is the 100 TB path)",
    "kcore_peel_two_rounds": "per round: degree agg + two left-semi edge filters; edge list staged once (_stage) and monotonically shrinks",
    "minhash_estimate_error": "k=16 portable signatures as array_min(transform) column math (small codegen class); exact side reuses the inverted index; everything integer",
    "minhash_estimate_error_rootn": "md5-bucket sqrtN stratum filters the scan BEFORE signatures and the inverted-index truth join - pair term Theta(K^2*N); schedule one count + scan-side filter; measured 10x 0.11 / sf1-sf2 -0.02 vs baseline 2.49",
    "knn_ivf_hier_top5": "two-level quantizer: driver holds only ceil(sqrt(cells)) coarse centroids (Arrow int64 kernel); sub-centroid table stays a DataFrame; fine assign = bounded n_sub fan-out join + vec-keyed window argmin - Theta(N*sqrt(cells)) assignment, no cells-sized collect anywhere",
    "knn_ivf_hier_persisted_top5": "build-once two-level layout partitioned by (coarse, sub_rank) leaf; search collects only the sqrt(cells) coarse sidecar; DPP (SubqueryAdaptiveBroadcast dynamicpruning on BOTH leaf keys, plan-verified) prunes probed leaf directories; scan passed unshuffled to the rerank (parallelism from file splits); equals the inline form row-for-row",
    "linreg_minibatch_sgd_ten_steps": "10 chained mini-batch gradient steps, each ONE partial-aggregated scan of its md5-bucket batch + a model-sized join back; no collect, no window; int64 exact to SF~50 (DECIMAL(38,0) valve named)",
    "sgd_ten_step_final_loss": "epoch-end eval: ONE partial-aggregated scan of the full fact joined to the 3-row broadcast final-weight table; oracle wraps the registered ten-step history as a CTE (loop and eval can never drift)",
    "ivf_hier_base_delta_top5": "two-level quantizer built on the BASE stratum; delta vectors assigned by one frozen Arrow coarse pass + the bounded n_sub join (no re-sample, no base re-window, sqrt(cells) driver footprint unchanged); union re-ranked in probed leaves",
    "ivf_hier_occupancy_drift": "frozen base+delta two-level assignment followed by ONE <=cells-sized partial agg on leaf keys - the finer-grained re-cluster trigger (hot leaf inside a calm coarse region is visible)",
    "linreg_parallel_sgd_average": "4 two-step worker chains over disjoint md5-shards sharing one scan lineage (shard is a scan-side column; per step ONE partial-aggregated shard scan + model-sized join), merged by exact integer mean - the AveragingTrainer round with no collect, no window",
    "abc_classification_parts": "per-part rollup partial-aggregates; population-sized ordered window under bounded_window_key (exact baseline); 3-row class rollup",
    "bootstrap_ci_mean": "identical to the replica query plus a 20-row ranking and a 1-row point aggregate - CI construction costs nothing beyond the replicas",
    "source_vocab_overlap": "self-join runs on the (source, token) DISTINCT projection (vocabulary-sized, Zipf-bounded) - corpus text never shuffles; pairs <= sources^2",
    "segment_migration_matrix": "per-(customer, half) rollup partial-aggregates; quartile window on the population-sized rollup (exact baseline); matrix join customer-keyed, <=16 cells",
    "fairness_metrics_by_group": "scoring scan-side; the audit is ONE group-keyed partial agg - fairness over any cohort column costs one hash agg",
    "conformal_interval_coverage": "sufficient stats + residuals scan-side; quantile on the exact-baseline ordered window (sketch path documented); coverage one partial-agg row; md5 split retry-stable",
    "blocking_quality_metrics": "signatures/bands scan-side; candidate join band-bucketed, never all-pairs; truth reuses the inverted index; certify on a sampled stratum at true scale",
    "seasonal_strength_dow": "daily rollup partial-aggregates; everything after runs on (types x days) and (types x 7) bounded frames",
    "hhi_concentration_by_nation": "(nation, supplier) rollup partial-aggregates; nation totals broadcast back; second dimension-keyed agg - no windows",
    "table_profile_orders": "ONE scan computes every column's stats (multi-distinct shares the scan via Expand); 6-row stack; profiler never rescans per column",
    # round 11, second wave
    "chunk_dedup_16word": "chunk explode scan-side (sequence+slice, n/16 rows out); ONE md5-keyed agg + join-back on the same uniform key (broadcast at small SF, AQE-sized at scale) + doc_id agg — 3 exchanges, all data-scaling keys",
    "dup_chunk_cluster_mass": "md5-keyed agg then the frequency-of-frequencies reduction (chao1 shape) — 2 exchanges, second input is cluster-size-bounded",
    "cross_source_dup_chunks": "self-join runs on the DISTINCT (chunk, source) projection; equi-key is uniform md5, source< as join residual; output <= sources^2",
    "simpson_word_diversity": "explode -> (doc,word) map-side-combined agg -> doc agg -> dim-sized source agg; no joins, no windows",
    "embedding_defect_scan": "norms via scan-side aggregate() HOF over the array column (NO explode — one row stays one row); ONE dim-keyed exchange total",
    "packing_fragmentation_rate": "ONE lang-keyed exchange: running-sum window, then the groupBy REUSES the window's hash partitioning (agg adds no exchange)",
    "incremental_dedup_dfcap": "same asymmetric batch-probes-corpus shape as the baseline, probe join input bounded at df<=64 corpus postings per shingle (one count on the maintained index); pairs/shingle constant past vocab saturation",
    "unigram_surprisal_quality": "vocab dim built by one word-keyed map-side-combined agg, 1-row total crossJoined broadcast, dim BROADCAST back onto the exploded scan (no second word shuffle); doc_id agg then dim-sized source agg — all data-sized sums exact int64 micro-nats",
    "neardup_cluster_lsh": "scale-safe cluster twin: MinHash band buckets (signature space never saturates, sf1->sf2 exp 0.56 for the pair step) feed the same min-label propagation; edges staged once (_stage), one id-keyed shuffle-join per round",
    "dedup_embedding_scaled_planes": "scale-safe dedup twin: k = min{k>=8 : 64*2^k >= N} band bits from a FIXED 16x20 plane layout — bucket space grows with N so in-bucket pairs/vector stay constant; ids-only band shuffle, vectors rejoined by id for the exact-cosine verify",
    "knn_ivf_scaled_top5": "scale-safe ANN twin: quantizer cells = max(16, N div 1000) with n_probe fixed at 8 — per-query candidate work constant (~8000 vectors); same md5-sampled centroid broadcast + cell-keyed candidate join as the pinned baseline",
    "cluster_cap_sample_lsh": "scale-safe cap twin: identical doc_id join + cluster-keyed window epilogue over neardup_cluster_lsh's band-bucket clusters — the quadratic exact-postings candidate stage swapped out, nothing else changes",
    "leakage_safe_split_lsh": "scale-safe split twin: scan-side md5 bucket of the LSH cluster id — the CC stage is neardup_cluster_lsh's (band buckets), split arithmetic identical to the baseline",
    "rrf_fusion_scaled_top5": "scale-safe fusion twin (r12 re-point): ONE shared scaled-cells assignment pass feeds BOTH arms — exact-cosine re-rank and PQ-ADC — over the same pruned candidate pool (constant ~8000/query); integer RRF epilogue; FULL OUTER fuse stays candidate-sized",
    "ivf_pq_scaled_top5": "scale-safe IVF-PQ twin: coarse cells = max(16, N div 1000) with fixed probe 8 (constant per-query candidate fan-out); PQ codes/ADC table built in linear corpus x 16 broadcast joins; ADC scoring join candidate-sized",
    "ppjoin_dfcap_pairs": "df<=64 cap on the prefix CANDIDATE index only (posting pairs per shingle constant); verify join still counts over FULL postings, so precision is structural; recall measured total at all 4 SFs",
    "mrl_truncation_recall_scaled": "both audit arms rank the SAME scaled-IVF candidate pool (one assignment pass) — full-dim vs first-16-dims cosine windows; overlap agg per query; no corpus crossJoin anywhere",
    "knn_ivf_persisted_scaled_top5": "build-once index partitioned by the cells-proportional-to-N quantizer; search reads ONLY probed cell directories (partition pruning at the storage layer); constant per-query read at any N",
    "pq_recall_vs_served": "compression-loss audit over ONE shared scaled-cells candidate pass - both arms candidate-bounded; overlap agg per query; no corpus crossJoin",
    "jaccard_lsh_pairs_tau06": "threshold-tuned banding (32 bands x 2 rows of k=64) - band keys are signature slices, immune to shingle-space saturation; candidates bucket-joined then exact-verified on full sets; one corpus scan feeds both signature and verify sides",
    "blocking_quality_rootn": "sqrt(N)-stratum certification: pct = clamp(1..50, ceil(100*40/sqrt(N))) evaluated once from the table count; candidate + exact-truth pair terms Theta(K^2*N); same banded/inverted-index shapes as the 50% form",
    "fellegi_sunter_sorted_neighborhood": "scale-safe ER twin: sorted-neighborhood candidates — noun-partitioned window rank, w-exploded probes equi-joined on (noun, rn) — exactly N*w scored pairs at any N vs the pinned-block baseline's Sum n_b^2",
    "ranking_mrr_ndcg_scaled": "scale-safe eval twin: the shared integer MRR/NDCG epilogue over knn_ivf_scaled_top5's ranking (constant per-query fan-out) instead of the brute-force int8 pass",
    "hard_negative_mining_scaled": "scale-safe mining twin: different-label filter + label lookups over the scaled-IVF ranking — mining from the production ANN index, candidate-sized epilogue",
    "quantile_normalize_distributed": "scale-safe rank twin, IDENTICAL output to the baseline: value-histogram prefix ranks — one value-keyed shuffle + a DOMAIN-sized (constant in N) single-partition prefix window + per-value row_number; the population-sized one-core sort is gone",
    "heldout_bigram_surprisal": "bigram explode is scan-side codegen (sequence+element_at); train model groupBy keys on (w1,w2); eval probe SHUFFLE-joins on the same composite key (model is vocab²-bounded, never driver-sized); ctx/uni/tot dims broadcast; backoff CASE is a row expression",
}


def main() -> None:
    spark = get_spark("plan_audit")
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Auto-generated by tools/plan_audit.py (sf0.01 inputs; plan shapes",
        "are scale-independent apart from AQE's runtime choices).",
        "Checks asserted in tests/test_plans.py run on every suite run; this",
        "file is the human-readable evidence.",
        "",
    ]
    for name, claim in AUDITED.items():
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        flags = []
        if "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan:
            flags.append("broadcast-join")
        if "PushedFilters: [" in plan and "PushedFilters: []" not in plan:
            flags.append("pushed-filters")
        if "TakeOrderedAndProject" in plan:
            flags.append("take-ordered")
        if "SortMergeJoin" in plan:
            flags.append("sort-merge-join")
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN(!)")
        n_shuffles = plan.count("Exchange")
        out += [
            f"## {name}",
            "",
            f"**Design claim:** {claim}",
            "",
            f"**Detected:** {', '.join(flags) or 'n/a'}; exchanges in plan: {n_shuffles}",
            "",
            "```",
            plan.strip()[:4000],
            "```",
            "",
        ]
    # No-hint proof: with size-based broadcast disabled, the planner
    # must fall back to SortMergeJoin for every SF-scaling join side —
    # proving those joins carry no F.broadcast hint (a hint would force
    # BroadcastHashJoin regardless of the threshold). Only the
    # SF-invariant dims (nation here) may remain broadcast, via their
    # explicit hint. This is the 100 TB plan: at real scale the same
    # fallback happens because observed sizes exceed the threshold.
    out += ["## no-hint proof (autoBroadcastJoinThreshold=-1)", ""]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("revenue_by_nation", "tpch_q5_local_supplier", "tpch_q10_returned_items"):
            df = QUERIES[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            n_smj = plan.count("SortMergeJoin")
            n_bhj = plan.count("BroadcastHashJoin")
            assert n_smj >= 1, f"{name}: expected shuffle joins with broadcast disabled"
            out += [
                f"- `{name}`: {n_smj} SortMergeJoin (SF-scaling sides, no hint) + "
                f"{n_bhj} BroadcastHashJoin (explicit hints on SF-invariant dims only)",
            ]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    out += [""]
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(AUDITED)} plans + no-hint proof)")


if __name__ == "__main__":
    main()
