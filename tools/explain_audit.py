"""Physical-plan audit: verify every registered query compiles to the plan
we'd want at 100 TB, not merely a plan that passes at sf0.01.

Checks per query, on the physical plan its DataFrame compiles to before
any action runs (``queryExecution().executedPlan()``; with AQE on, the
initial plan):
  - Python boundary: no row-at-a-time BatchEvalPython
  - no CartesianProduct or BroadcastNestedLoopJoin, except in the
    all-pairs-by-design queries of ALL_PAIRS_OK (and, for the nested-loop
    join, EXPECT_BROADCAST)
  - predicate pushdown: each EXPECT_PUSHDOWN query shows non-empty
    PushedFilters at a parquet scan
  - broadcast: each EXPECT_BROADCAST query shows a broadcast join
  - no SortMergeJoin in a plan that scans the tiny region or nation tables
  - no global window (empty partition spec) outside GLOBAL_WINDOW_OK

Usage: python tools/explain_audit.py [names...]   (writes PLANS.md)
The arguments are query names only; ``tools/ab_interleave.py
--explain-dir`` writes a query's full formatted plan.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jigsaw_spark.session import get_spark
from jigsaw_spark.plans.queries import QUERIES

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# queries whose nested-loop joins are intentional: broadcast all-pairs
# against a tiny side (query set / band dim / IVF codebook / 1-row scalar)
ALL_PAIRS_OK = {
    "ann_cosine_topk",
    # r66: 2x2 evidence grid (4 rows by construction) crossed with the
    # 1-row n_images aggregate — both sides constant-bounded
    "dedup_cross_modal",
    # r66: per-arm 1-row (hits x n_scored) aggregate crosses + the
    # 6-row arm union crossed with the 1-row n_brute scalar
    "ann_pareto_frontier",
    # r67: corpus crossed with the |labels|x64 centroid dim (10 rows —
    # the ann_ivf_balance centroid-cross class)
    "emb_label_coherence",
    # r67: |sources| dim crossed with the 1-row budget scalar
    "p_dedup_aware_mix",
    # r67: one events scan crossed with the 3-row grain dim (the
    # deliberate x3 fan-out that shares one scan across grains)
    "ts_fano_grain_curve",
    # r68: support histogram crossed with the 1-row n_edges total
    "graph_edge_support",
    # r13 batch 2: the one lag-pass gap table crossed with the 4-row
    # broadcast timeout-arm dim (the ts_fano_grain_curve class)
    "ts_session_timeout_sweep",
    # r13 batch 4: per-config 1-row (n_candidates x n_verified x
    # n_true) aggregate crosses — all scalar dims
    "mm_phash_band_sweep",
    # r13 batch 4: |types| exact dim crossed with the 3-row k dim
    "agg_kmv_precision_curve",
    # r13 batch 2: per-key hash-agg crossed with the 12-row broadcast
    # (width, depth) dim — the sketch explode is |keys|-bounded
    "agg_cms_width_curve",
    # r70 queue: 4-row threshold dim non-equi-joined against the banded
    # hamming list + 1-row universe cross — the dedup_band_sweep class
    "mm_phash_threshold_sweep",
    # r70 queue: cluster rollup crossed with the 1-row totals dim
    "dq_split_cluster_leakage",
    # r75 queue: per-source ledger crossed with the 1-row
    # global-straddle verification aggregate
    "dq_cluster_safe_repair",
    # r61: 1-row n_hold scalar crossed into the |sources| attribution dim
    "dq_contamination_by_source",
    # r61: 1-row budget + 1-row kstat aggregates crossed into the
    # |sources|-row water-filling dim — degenerate O(|sources|) NLJs
    "p_token_budget_mix",
    # r69: 1-row budget/leftover scalars crossed into the |sources| dim
    "p_epoch_schedule",
    # r13 batch 3: 1-row budget scalar crossed into the |sources| dim
    # (the p_dedup_aware_mix class)
    "p_curated_budget_mix",
    # r61: 3-row k dim x 2-row codec dim crossed into k-bounded rank
    # tables (<= 10 rows per query per arm) — the ann_recall_curve shape
    "ann_codec_recall",
    # r61: 1-row (total, ncells) aggregate crossed into the |cells| dim
    "ann_ivf_balance",
    # r62: ONE 1-row gate aggregate crossed into the 4-row rule dim
    "curation_gate_attribution",
    # r63: 1-row edge-total aggregate crossed with the 1-row marginal
    # rollup — two scalar dims
    "graph_lang_assortativity",
    # r64: 1-row median dim + 1-row spread dim crossed into scan/5-row agg
    "ml_fold_stability",
    # r64: 1-row (nt, ne) totals dim crossed into the |types| agg
    "ml_label_shift_weights",
    # r64: 1-row n dim + 1-row p95 cap dim crossed into the scan
    "p_ess_weight_clip",
    # r64: 10-row frozen-card dim crossed into the drained day dim
    "stream_psi_monitor",
    # r64b: 1-row vocab-size dim crossed into the |langs| rollup
    "text_oov_rate",
    # r65 queue: two 1-row rollups (edge total, closed total) crossed
    "graph_local_bridges",
    # r63b: 1-row (total, n_shards) aggregate crossed into the 8-row
    # shard dim
    "p_shard_balance",
    # r62b: 1-row holdout-total dim crossed into the 2-row group rollup
    "dq_contamination_bias",
    # r61b: 1-row corpus-total dim crossed into the 2-row group rollup
    "dq_dedup_bias",
    # r62b: per-arm 1-row n_scored x 1-row hits crosses + the 1-row
    # brute-denominator dim — all scalar aggregates
    "ann_nprobe_tradeoff",
    # r13 one-agg form: per shingle arm a 1-row gram-totals aggregate
    # crossed with a 1-row contaminated-docs aggregate — five degenerate
    # 1x1 BroadcastNestedLoopJoins
    "dq_contamination_ngram_curve",
    # RAG retrieval stage IS cosine_topk: broadcast query side crossed
    # against the corpus — the documented brute-force baseline shape
    "rag_pipeline",
    "j6_range_join",
    "ann_ivf_topk",
    "text_tfidf",
    # 1-row scalar broadcast crossed into the fact side (bounds row /
    # avg-balance threshold): a degenerate BroadcastNestedLoopJoin that is
    # O(n) at any scale — the intended physical shape
    "ts_gap_fill",
    "q22_idle_customers",
    # median + MAD are each a 1-row exact-percentile dim crossed back
    # into the scan — three degenerate O(n) NLJs by construction
    "agg_mad_outliers",
    # 1-row (n, total) / vocabulary-size dims crossed into the aggregate
    "agg_gini",
    "text_bigram_logprob",
    "ts_cusum_changepoints",
    # two 1-row histogram-total dims crossed into the bounded bucket join
    "dq_psi_drift",
    # 1-row (theta, mean_x) dim crossed into the per-user aggregate
    "ab_cuped_adjust",
    # r27/r28 scalar-broadcast class: each crosses a 1-row aggregate
    # (n/npos totals; min/max/n; horizon/n_users; 35-cell grand total;
    # 4-counter confusion matrix) back into the fact or dim side — the
    # degenerate O(n) BroadcastNestedLoopJoin shape documented above
    "ml_lift_gains",
    "rel_rfm_segments",
    "dq_mutual_information",
    "ml_brier_log_loss",
    "ml_survival_km",
    "ml_kappa_mcc",
    # isotonic: 1-row total + 10-row bin dim crossed through the
    # non-equi interval joins (<=1000 rows) — all broadcast NLJs over
    # constant-size dims
    "ml_isotonic_decile",
    # 1-row corpus-size dim crossed into the (doc,term) weights
    "text_tfidf_knn",
    # 1-row horizon dim crossed into the (user, anchor) contributions
    "rel_wau_sliding",
    # 3-row bucket-width dim crossed into the KB-scale vocabulary
    "ml_hash_collisions",
    # 1-row horizon dim crossed into the drained per-window counts
    "stream_sliding_wau",
    # two 1-row calendar-bounded series frames crossed into one task
    "ts_dtw_exact",
    # 1-row total + 2-cell class-totals dims crossed into the 10-row
    # decile bins (the isotonic shape)
    "ml_woe_iv",
    # recall eval composes cosine_topk (the documented broadcast
    # all-pairs brute-force baseline) with ivf_topk — the NLJ is the
    # baseline side, present by definition of the evaluation
    "ann_ivf_recall",
    # 1-row (total, n_langs) dim crossed into the per-lang aggregate
    "p_mixture_reweight",
    # 1-row (p01, p99) bound dim crossed into the scan
    "agg_winsorized_mean",
    "agg_hll_mergeable",
    "q11_important_value",  # 0.001×total threshold: 1-row broadcast cross
    "text_unigram_logprob",  # 1-row total-tokens broadcast cross
    "text_bm25_topk",  # 1-row corpus-stats broadcast cross
    # 1-row (T, R) smoothing-total dim crossed into the 4096-bucket
    # distribution — O(buckets), corpus never touches the NLJ
    "curation_dsir_weights",
    # round-9 scalar/small-dim broadcast class:
    # 1-row corpus-size dim crossed into the (doc,term) weights — the
    # text_tfidf_knn shape (its retrieval stage IS that query's plan)
    "text_rerank_cross",
    # 1-row (lo, hi, n) score-bounds dim crossed into the scan (the
    # ml_brier_log_loss shape)
    "ml_reliability_ece",
    # 1-row day-cut dim crossed into the day projection + two 1-row
    # summary dims crossed at the end — all degenerate O(n) NLJs
    "dq_split_user_leakage",
    # 5-row percentile dim joined on rn == f(m, p): an expression
    # equality across sides is not hash-joinable — a broadcast NLJ over
    # a CONSTANT 5-row dim by construction (both the sketch and the
    # exact sides)
    "agg_quantile_bottomk",
    # composes ann_cosine_topk (the documented broadcast all-pairs
    # baseline) + ann_ivf_topk, plus a 3-row k dim crossed into the
    # k-bounded rank tables
    "ann_recall_curve",
    # 2-row feature dim crossed into the |groups|-row sums frame
    "ml_linear_shap",
    # 1-row (lo, hi, n, npos) dim crossed into the scan (brier shape)
    "ml_auprc_exact",
    # same 1-row score-bounds dim crossed into the scan
    "ml_cost_threshold",
    "p_dsir_resample",
    # source-pair enumeration: non-equi (a < b) self-join of the
    # |sources|-row sketch-stat dim — all pair work runs on KB sketches
    "agg_kmv_intersect",
    # 1-row totals dim crossed into the 9-digit expectation join
    "dq_benford",
    # 1-row (x0, x1) bounds dim crossed into the scan (bucket assignment)
    "ts_lttb_fixed",
    # 1-row (T, V) smoothing-totals dim crossed into the scored bigrams
    "text_kneser_ney",
    # 1-row priors/totals dims crossed into the 4096-bucket LLR dim and
    # the per-doc scores
    "ml_nbayes_classify",
    # |priorities|^2 pair enumeration (25 rows) + OR-condition join of
    # the pair dim into the (priority, bucket) BITMAP dim — all work
    # after the corpus' single shuffle runs on KB bitmap rows
    "agg_bitmap_overlap",
    # 1-row grand-total dim crossed into the |types|x2 contingency dim
    "ab_chi2_independence",
    # composes the NB + KN stages, inheriting their 1-row totals/prior
    # broadcast crosses (see ml_nbayes_classify / text_kneser_ney)
    "curation_pipeline_v3",
    # 3-row predicate dim crossed into the |files|-row manifest dims —
    # the whole evaluation runs on manifests, never the fact table
    "layout_manifest_prune",
    # 1-row basket-count scalar crossed into the pair aggregate
    "rel_item_cooccurrence",
    # segments x buckets grid build (5 x ~11 dim cross) + 1-row m/n
    # scalars crossed into the |segments|-row EMD aggregate
    "privacy_tcloseness",
    # composes ml_nbayes_classify, inheriting its 1-row totals/prior
    # broadcast crosses; the confusion agg itself is equi-joined
    "ml_confusion_metrics",
    # the documented brute-force kNN shape: the 10-row query set
    # broadcast-crossed against the candidate corpus (O(|Q| * n) with
    # |Q| fixed), same class as ann_cosine_topk
    "ml_knn_classify",
    # 1-row root-threshold dim crossed back into the fact scan (side
    # assignment) and into the final 2-row report
    "ml_tree_depth2",
    # 1-row id-space scalar crossed into the candidate generator
    "p_negative_sampling",
    # 1-row majority-target scalar crossed into the per-class rank
    "p_class_balance_resample",
    # composes ml_nbayes_classify (1-row totals/prior crosses)
    "ml_pr_curve",
    # 1-row freshness-frontier scalar crossed into the |types| dim
    "dq_freshness",
    # 1-row anchor-means scalar crossed into the edge-sample moment agg
    "graph_assortativity",
    # 1-row pair-count (m) scalar crossed into the |components| dim
    "graph_modularity",
    # 1-row global-prior scalar crossed into the map-only encode
    "ml_target_encode_loo",
    # 4-row k dim crossed into the bucket dim / held-out grams, plus the
    # NB-style 1-row totals crosses — one gram pass serves all 4 fits
    "ml_learning_curve",
    # 3-row lag dim crossed into the calendar-bounded day dim
    "ts_cross_corr",
    # 1-row baseline scalar crossed into the 3-row feature report
    "ml_feature_importance",
    # 1-row best-split dim broadcast back into the fact scan (residual
    # computation), once per boosting round
    "ml_boost_2rounds",
    # 4-row fold dim (from a 1-row span scalar) crossed into the scan
    # with one conditional agg — fan-out is the constant fold count
    "p_rolling_origin_cv",
    # 2-row quantile dim crossed into the day-grain diff frame (the
    # ts_cross_corr lag-dim shape)
    "ts_pinball_loss",
    # 1-row (lo, hi, n, npos, nneg) score-bounds dim crossed into the
    # scan (the brier/auprc shape)
    "ml_ks_statistic",
    # 1-row node-count scalar crossed into the 1-row moment aggregate
    "graph_degree_assortativity",
    # 7-row lag dim crossed into the calendar-bounded day dim (the
    # ts_cross_corr shape, lags 1..7)
    "ts_acf_exact",
    # composes cosine_topk — the documented broadcast all-pairs
    # brute-force baseline (ann_cosine_topk's class); at scale the
    # candidate generator swaps to ivf_topk, eval arithmetic unchanged
    "ml_mrr_exact",
    # ivf probe stage: query side crossed against the 8-row broadcast
    # codebook (the ann_ivf_topk shape; no rank window afterwards)
    "ann_range_search",
    # 3-row k dim crossed into the keeper edge list (degree-filtered
    # pair counting runs on the bounded near-dup graph)
    "graph_rich_club",
    # 1-row node-count scalar crossed into the keeper-node score dim
    "graph_harmonic_centrality",
    # 1-row score-bounds + 1-row best-threshold scalars crossed into
    # the scan (the ml_cost_threshold composition)
    "ml_error_slices",
    # 1-row score-bounds scalar crossed into the scan (brier shape)
    "ml_mcnemar_test",
    # 1-row summary scalars (node/edge/hub counts, before/after
    # component stats) crossed into one output row
    "graph_hub_removal_impact",
    # 1-row span-cut + train-bounds + train-threshold scalars crossed
    # into the scans (the ml_cost_threshold composition, twice)
    "ml_threshold_transfer",
    # the fixed-panel brute-force candidate stage (ml_mrr_exact's
    # class) + a 3-row k dim joined on rank <= k (non-equi by design)
    "ml_precision_at_k",
    # 1-row span-cut + train-bounds scalars crossed into the scans
    # (the ml_threshold_transfer class)
    "ml_calibration_drift",
    # 1-row doc_id-bounds scalar crossed into the posting aggs (the
    # value-range decile cut that replaces a global rank)
    "text_vocab_growth",
    # --- round 10 ---
    # the shared fixed-panel candidate stage (eval_panel) + the 2-row
    # k dim joined on rank <= k (the ml_precision_at_k class)
    "ml_recall_at_k",
    # 1-row span-cut + train-bounds scalars crossed into the fact scan
    # (the ml_calibration_drift class) + the bounded (domains x 10)
    # bin dim built by a tiny distinct x range(10) cross
    "p_drift_reweight",
    # 1-row score-bounds scalar crossed into the fact scan (the
    # ml_reliability_ece class); risk_coverage adds the broadcast
    # 5-row threshold dim joined on conf >= t (non-equi by design)
    "ml_fairness_parity",
    "ml_brier_decomp",
    "ml_risk_coverage",
    # 1-row per-class-threshold scalars crossed into the fact scan
    "ml_confident_learning",
    # blocked pair table fanned by the broadcast 5-row threshold dim
    # (tiny-dim cross, the ml_risk_coverage class)
    "er_threshold_sweep",
    # 1-row corpus-count / bounds scalars crossed into bounded rollups
    "dedup_shingle_sweep",
    "ts_max_drawdown",
    "dq_dup_rate_trend",
    # two 1-row aggregate scalars (usq x ssq) crossed into one row
    "ml_embedding_isotropy",
    # broadcast 8-row IVF codebook cross for cell assignment/probes
    # (the ann_ivf_topk class)
    "dq_contamination_semantic",
    # three 1-row rollup scalars (wedges x triangles x edge count)
    # crossed into the single output row
    "graph_transitivity",
    # broadcast 14-row lag dim crossed into the day-grain series
    # (the ts_acf_exact class)
    "ts_dominant_period",
    # the <= 200-cell contingency self-cross (dim x dim, never rows)
    # + 1-row total scalars
    "ml_kendall_tau",
    # 1-row span-cut scalar crossed into the fact scan
    "rel_abc_migration",
    "ab_paired_ttest",
    # 1-row total/seat scalars crossed into the |langs|-row allocation
    "p_quota_sample",
    # 1-row total-volume scalar crossed into the 5-row community dim
    "graph_community_conductance",
    # 1-row score-bounds / max-day / total scalars crossed into scans
    "ml_bootstrap_f1",
    "p_recency_weights",
}
# queries expected to push a filter into the parquet scan
EXPECT_PUSHDOWN = {
    "q1_pricing_summary",
    "f1_and_filter",
    "f3_filter_chain",
    "j1_construct_join",
    "j2_semi_join",
    "flagship_pipeline",
}
# queries expected to broadcast at least one join side
EXPECT_BROADCAST = {
    "j1_construct_join",
    "j2_semi_join",
    "j2_anti_join",
    "w2_topk_per_group",
    "j6_range_join",
}
# Queries allowed to run a Window with an EMPTY partition spec. A global
# window serializes its whole input through ONE task, so it is only sound
# on provably bounded relations. Every entry documents the bound; anything
# else with a global window is flagged (the r4 verdict asked for this
# audit — boundedness was previously argued per-query but never enforced).
GLOBAL_WINDOW_OK = {
    # r61: water-filling rank/prefix windows run over the per-source
    # AGGREGATE (|sources| rows, never the corpus) — the bounded-dim
    # class like agg_gini / w10_share_of_total
    "p_token_budget_mix",
    # r69: remainder-rank window over the |sources| aggregate (the
    # p_token_budget_mix class)
    "p_epoch_schedule",
    # r63: prefix window over the DISTINCT-DEGREE histogram
    # (value-domain bounded, the ml_auc_exact class) — explicitly NOT
    # a per-node rank
    "graph_degree_gini",
    # r64: cumulative window over the DISTINCT-CENTS dim for the exact
    # median (value-domain bounded, the ml_auc_exact class)
    "ml_fold_stability",
    # r64: cumulative window over the DISTINCT-n_chars dim for the
    # exact p95 cap (value-domain bounded)
    "p_ess_weight_clip",
    # samples._ranked "local" strategy: the global-order window is only
    # chosen after a code-enforced limit(5M+1).count() probe says the
    # input fits one task; above the threshold the distributed
    # zipWithIndex arm (range-partition + broadcast offsets) replaces it
    # — boundedness is enforced at runtime, not assumed
    "p2_split_test",
    "p3_kfold_assign",
    "p7_shard_assign",
    # rank over the per-customer AGGREGATE (|customers| rows, not the
    # fact table); docstring documents the _ranked distributed swap past
    # ~5M keys
    "agg_gini",
    # rank window runs AFTER orderBy+limit(100): input is the TakeOrdered
    # survivor set, 100 rows by construction
    "p_dsir_resample",
    # rank window runs AFTER orderBy+limit(50): the top-50 PageRank rows
    "graph_pagerank_exact",
    # rank window runs AFTER orderBy+limit(500): the top-500 term dim
    "text_zipf_slope",
    # dense numbering over the DISTINCT-label dim — bounded by the label
    # vocabulary (the A2 label map is driver-collected metadata anyway)
    "a2_dense_label_map",
    # share-of-total window over the per-orderstatus AGGREGATE (3 rows)
    "w10_share_of_total",
    # prefix walk over the DISTINCT-SCORE aggregate (value-domain
    # bounded, never the corpus)
    "ml_auc_exact",
    # prefix/total/argmin windows over the distinct-p_size dim (50 rows)
    "ml_best_split",
    # same shape one level deeper: the ROOT split's prefix/total/argmin
    # windows run over the distinct-p_size dim (~50 rows); child-level
    # windows partition by side
    "ml_tree_depth2",
    # cumulative tp/fp over the distinct-SCORE dim, the ml_auc_exact
    # shape; at production scale thresholds would be quantized to a
    # fixed grid (the curve consumer never needs per-double points)
    "ml_pr_curve",
    # per-round prefix/total/argmax windows over the distinct-value
    # feature dims (~50 quantities / ~11 discount ticks), the
    # ml_best_split shape twice
    "ml_boost_2rounds",
    # r12 (verdict r11 #2): the fit-half quartile rank is now BANDED —
    # the only unpartitioned window left is the exclusive prefix over
    # the <=256-row md5-hex-prefix band dim (uniform by construction);
    # the per-row rank window partitions BY band
    "ml_learning_curve",
    # lag/lead anchors over the 50-bucket stats dim
    "ts_lttb_fixed",
    # prefix sum over PER-HOUR-BUCKET TOTALS (rows = hours in the time
    # span, never corpus-sized); the corpus-scale prefix runs in the
    # bucket-partitioned window — the documented two-phase sweep-line
    "rel_max_concurrency",
    # 3-row funnel-stage frame by construction (view/click/purchase)
    "rel_funnel_conversion",
    # cumulative-dim rank windows over the distinct-cents dim (price
    # domain bounded) + the 10-row decile summary — never the facts
    "ml_lift_gains",
    # rec/freq rank windows over small bounded value dims; the monetary
    # axis uses _exact_rank_banded, whose only global window is the
    # <=1024-row BAND dim (constant in data size)
    "rel_rfm_segments",
    # Kaplan-Meier prefix/cumsum windows over DISTINCT LIFETIME DAYS —
    # calendar-span bounded, never |users|
    "ml_survival_km",
    # decile assignment reuses the cumulative-dim rank (distinct-cents
    # dim window); all downstream windows/aggs run on the 10-row bins
    "ml_isotonic_decile",
    # 3-row funnel-stage frame by construction (view/click_7d/purchase_7d)
    "rel_funnel_windowed",
    # decile rank dim windows + the 10-row bin IV frame
    "ml_woe_iv",
    # ECE total: the unpartitioned sum runs over the <= 10 calibration
    # bins (bin count is a constant of the metric, never of the data)
    "ml_reliability_ece",
    # cumulative tp/pred over the DISTINCT-SCORE dim (value-domain
    # bounded) — the ml_auc_exact / ml_pr_curve shape
    "ml_auprc_exact",
    # cumulative tp/fp + top-1 over the same distinct-score dim
    "ml_cost_threshold",
    # cumulative CDFs + the sup argmax over the same distinct-score dim
    # (the ml_auc_exact class)
    "ml_ks_statistic",
    # the TakeOrdered shape: the ranking window runs AFTER the sorted
    # LIMIT 10, so its input is never more than 10 rows
    "graph_harmonic_centrality",
    # top-5 hub rank over the keeper-graph degree dim (bounded by
    # near-dup density, the graph family's node-dim class)
    "graph_hub_removal_impact",
    # both cost sweeps run over distinct-score dims (the
    # ml_cost_threshold class, train + test)
    "ml_threshold_transfer",
    # threshold sweep over the distinct-score dim (ml_cost_threshold's
    # windows) + the top-5 window over the <= |types|x7 slice dim
    "ml_error_slices",
    # the two ECE windows run over the <= 10-bin calibration dim (the
    # ml_reliability_ece class)
    "ml_calibration_drift",
    # the cumulative curve runs over the 10-row decile dim
    "text_vocab_growth",
    # --- round 10 ---
    # the gap windows run over the 5-row cohort dim
    "ml_fairness_parity",
    # the share/noise windows run over the <= 4-row confident joint
    "ml_confident_learning",
    # running-max + argmax windows over the bounded calendar-day dim
    # (the MASE day-grain pre-agg discipline)
    "ts_max_drawdown",
    # per-half Pareto ranking windows over the customer dim (the
    # rel_pareto_abc class)
    "rel_abc_migration",
    # the largest-remainder seat window runs over the |langs| dim
    "p_quota_sample",
    # the top-5 community rank window runs over the community dim
    # (bounded by near-dup density, the graph family's node-dim class)
    "graph_community_conductance",
    # the band windows run over the 16-row replicate dim
    "ml_bootstrap_f1",
}


def _top_level_groups(s: str) -> list[str]:
    """Split the tail of a plan line into top-level [...] groups."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(s[start + 1 : i])
                start = None
    return groups


_SORT_MARK = re.compile(r"\b(ASC|DESC) NULLS (FIRST|LAST)\b")


def global_window_count(plan: str) -> int:
    """Count Window nodes with an empty partition spec.

    WindowExec prints `Window [exprs], [partitionSpec], [orderSpec]`
    but OMITS empty trailing specs, so the bracket-group count is
    ambiguous: 2 groups is either exprs+partition (no ORDER BY) or
    exprs+order (no PARTITION BY). Order specs always carry Spark's
    `ASC NULLS FIRST`/`DESC NULLS LAST` sort markers; partition specs
    never do — that disambiguates. An empty partition spec means the
    whole input funnels through one task — fine on a bounded dim, a
    scale-killer on a corpus.
    """
    n = 0
    for raw in plan.splitlines():
        line = raw.strip().lstrip("+-: *")
        if not line.startswith(("Window ", "WindowGroupLimit ")):
            continue
        groups = _top_level_groups(line)
        if line.startswith("WindowGroupLimit "):
            # WindowGroupLimit [partitionSpec], [orderSpec], rankFn, k
            if not groups or not groups[0].strip():
                n += 1
        elif len(groups) <= 1:
            n += 1  # neither partition nor order: OVER ()
        elif len(groups) == 2:
            # partitioned iff the second group is a partition spec
            # (no sort markers); an order-spec second group = global
            if _SORT_MARK.search(groups[1]):
                n += 1
        elif not groups[1].strip():
            n += 1
    return n


def audit_one(name: str, spark) -> tuple[list[str], str]:
    spec = QUERIES[name]
    df = spec.spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    problems: list[str] = []

    if "BatchEvalPython" in plan:
        problems.append("row-at-a-time Python UDF (BatchEvalPython) in plan")
    if name not in ALL_PAIRS_OK and (
        "CartesianProduct" in plan
        or ("BroadcastNestedLoopJoin" in plan and name not in EXPECT_BROADCAST)
    ):
        problems.append("unexpected cartesian/nested-loop join")
    if name in EXPECT_PUSHDOWN and not re.search(
        r"PushedFilters: \[[^\]]", plan
    ):
        problems.append("no PushedFilters at the parquet scan")
    if name in EXPECT_BROADCAST and "Broadcast" not in plan:
        problems.append("expected a broadcast join, found none")
    if "SortMergeJoin" in plan and re.search(
        r"(region|nation)\.parquet", plan
    ):
        problems.append("sort-merge join against a tiny dimension")
    gw = global_window_count(plan)
    if gw and name not in GLOBAL_WINDOW_OK:
        problems.append(
            f"{gw} global window(s) (empty partition spec) on a query not "
            "whitelisted as bounded — single-task funnel at scale"
        )
    return problems, plan


FLOAT_AUDIT_NOTE = """
## Float-determinism audit (round-3, per the r2 verdict)

Every oracle-backed query must hash identically to its DuckDB twin at
FULL repr precision (the driver does not round for us — r2's three
hash flakes were float-boundary flips). Guard classes, applied to every
final double column and every float-fed comparison:

1. **Exact integer/decimal arithmetic** — thresholds and counts never
   touch a float. `agg_mad_outliers` (half-cent median/MAD, scaled-int
   compare `20000*adev_h > 44478*mad2`), `ts_cusum_changepoints`
   (integer-cent CUSUM, alarm test `D^2 > 90*(n*Q - T^2)` with squares
   in decimal/HUGEINT), `agg_winsorized_mean` / `ts_seasonal_naive_mape`
   (exact-cent sums), `ts_interval_union` (integer microseconds),
   `sql_scripting_threshold` (decimal sums), `merge_upsert`.
2. **Double-round snap** — `round(round(x, 9), 4)` on BOTH engines when
   x feeds from order-dependent sums or libm calls (`ln`/`exp` differ by
   ulps across engines): `text_entropy`; the 9-digit inner round snaps
   ~1e-13 noise before the coarse round so no value can straddle a
   0.00005 boundary.
3. **Round-normalized finals** — `round(x, N)` once on both sides where
   x is derived from exact inputs through identical operation order
   (IEEE +,-,*,/ are exactly rounded, so both engines produce the same
   double before the round). This covers the remaining oracles.

Verification: `tools/verify_oracle.py` (strict driver-canon replica —
full-repr floats, hard-fail on array/map output cells) passes 508/508
registered queries (502 against their DuckDB oracle, 6 rows-only), in
the tuned session and with `--vanilla` (an unconfigured session, as the
driver builds);
`--stability` re-runs each query under shuffle.partitions=7, where an
order-dependent float path would flip the full-precision hash. Array-typed output columns are banned outright (driver ERR
class): vectors are emitted as CSV strings (`ann_sq8`,
`ml_hash_features`, `fn_arrays`) or exploded to long form.
"""


def main() -> int:
    names = sys.argv[1:] or list(QUERIES)
    spark = get_spark("plan-audit", cpus=8)
    report: list[str] = ["# PLANS — physical-plan audit\n"]
    report.append(
        f"Scale dir: `{SF}`. Invariants checked: no row-at-a-time Python "
        "UDF, no unexpected cartesian or nested-loop join, filter pushdown "
        "and broadcast joins on the queries that expect them, no "
        "sort-merge join against region/nation, no unlisted global window. "
        "Full plans: `tools/ab_interleave.py --explain-dir DIR <name>`.\n"
    )
    report.append(FLOAT_AUDIT_NOTE)
    bad = 0
    for name in names:
        try:
            problems, plan = audit_one(name, spark)
        except Exception as e:  # noqa: BLE001
            problems, plan = [f"audit error: {e}"], ""
        scans = len(re.findall(r"Scan parquet", plan))
        joins = re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)",
            plan,
        )
        exchanges = len(re.findall(r"Exchange (?:hash|range|Single)", plan))
        pythons = len(re.findall(r"(MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas)", plan))
        status = "OK " if not problems else "BAD"
        if problems:
            bad += 1
        line = (
            f"- **{name}** [{status}] scans={scans} shuffles={exchanges} "
            f"joins={joins or '—'} arrow_ops={pythons}"
        )
        if problems:
            line += "\n  - " + "\n  - ".join(problems)
        report.append(line)
        print(("BAD " if problems else "OK  ") + name + (": " + "; ".join(problems) if problems else ""))
    Path("PLANS.md").write_text("\n".join(report) + "\n")
    print(f"\n{len(names) - bad}/{len(names)} clean — PLANS.md written")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
