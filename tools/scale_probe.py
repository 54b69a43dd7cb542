"""Scaling probe: measure how the heavy operators scale when the data does.

The correctness gate runs at sf0.01 and the bench at sf0.1 — neither says
whether a plan's cost curve is linear or quadratic. This tool synthesizes
×F replicas of the driver tables (ids shifted per replica so keys stay
unique and dedup families don't collapse), runs the heavy hitters at ×1
and ×F, and reports the wall-clock ratio next to the row ratio. A plan
whose time ratio tracks the row ratio survives a scale-up; one whose
ratio tracks row² does not.

Replica skew note: replicated text duplicates every shingle F times, so
text operators see posting lists grow ×F — that is the *hard* direction
for the inverted-index family (more work per row, not just more rows),
making these ratios conservative.

Usage:
    python tools/scale_probe.py [--factor 10] [--sf /root/testdata/sf0.1]
Writes SCALING.md with the measured table.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from bench import time_query, warm
from jigsaw_spark.session import get_spark
from jigsaw_spark.plans.queries import QUERIES

# operators worth a cost-curve check: the quadratic-risk families (dedup,
# ANN, boilerplate), the global-order samplers, and two join/agg anchors
PROBES = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "p1_exact_sample",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_boilerplate",
    "text_tfidf",
    "dedup_semantic",
    "ann_cosine_topk",
    "ann_ivf_topk",
    # round 4: the corpus-global line table (explode ×F rows AND dup-set
    # growth) and the vocab-bound BPE loop (vocab is constant under
    # replication — its curve should be flat, the point of the design)
    "dedup_lines",
    "ann_sq8",
    "text_bpe_train",
    # round 5: window-fingerprint explode (linear in tokens), capped
    # containment join (cap binds under replication — sublinear by
    # design), fixed-scorer calibration (pure map + 10-row agg)
    "dedup_substr_windows",
    "dedup_containment",
    "ml_calibration_bins",
    # round 6: DSIR gram explode (linear in grams; the 4096-bucket dim is
    # constant under replication) and per-user session windows (user_id is
    # NOT shifted, so each user's window grows ×F — the hard direction
    # for key-partitioned windows)
    "curation_dsir_weights",
    "ts_sessionize",
    # round-4 additions the r4 verdict asked to probe: the exact-integer
    # iterative quartet (per-round codebook-literal map + k×d agg — the
    # per-round cost is linear in rows, rounds are constant), the KMV
    # sketch intersection (pair work on KB sketches only), pHash banding
    # (pigeonhole buckets, never all-pairs), and the fit/score DSIR
    # stream (gram explode + broadcast dim)
    "graph_pagerank_exact",
    "ml_pca_pc1_exact",
    "ml_kmeans_exact",
    "p_kcenter_coreset",
    "agg_kmv_intersect",
    "mm_phash_near_dup",
    "stream_dsir_score",
    # round-5 additions: contingency AUC + split (corpus -> value-domain
    # dim, curve should be ~linear scan cost), bloom prune (map-only bit
    # test + semi-join), LTTB (one agg + 50-row dim), KN LM (gram explode
    # + vocab-keyed joins — posting growth under replication makes this
    # conservative like tfidf), NB classify (DSIR shape), Holt (series
    # length is calendar-bounded: curve should be the agg's, flat-ish),
    # two-hop (edge self-join — LSH pair growth under replication is the
    # hard direction)
    "ml_auc_exact",
    "ml_best_split",
    "j8_bloom_prune",
    "ts_lttb_fixed",
    "text_kneser_ney",
    "ml_nbayes_classify",
    "ts_holt_exact",
    "graph_two_hop",
    # round-5 batches 2-3: bitmap algebra (corpus -> KB bitmap dim),
    # Hilbert walk (map-only + one agg), BFS (LSH edge growth is the
    # hard direction, like two_hop), attribution (user-keyed joins,
    # per-user fan-out fixed under replication), interval overlap
    # (bounded day chop), the v3 composite (NB+KN+dedup+fold chained),
    # changepoint (day-dim windows), manifest prune (manifest dims)
    "agg_log2_histogram",
    "agg_bitmap_overlap",
    "layout_hilbert",
    "graph_bfs_layers",
    "rel_attribution_linear",
    "j9_interval_overlap",
    "curation_pipeline_v3",
    "ts_best_changepoint",
    "p_stratified_kfold",
    "layout_manifest_prune",
    # round-5 batches 4-8: the graph family rides the LSH/SimHash
    # candidate-edge growth (triangles/jaccard/kcore/modularity — the
    # hard direction, like two_hop), basket pairs grow with baskets
    # (fan-out bounded by basket size), kNN is corpus x fixed-10
    # queries (linear by construction), rank/percentile/OLS/profile
    # queries reduce to distinct-value dims or single moment aggs,
    # the tree scans the fact table twice, negative sampling is
    # map-only + per-doc windows, and Markov transitions ride
    # per-user window growth (user_id unshifted — the hard direction,
    # like ts_sessionize)
    "graph_triangles",
    "graph_neighbor_jaccard",
    "graph_kcore",
    "graph_modularity",
    "rel_item_cooccurrence",
    "ml_knn_classify",
    "privacy_tcloseness",
    "ab_mann_whitney_u",
    "agg_percentile_exact",
    "ml_ols_2feature",
    "ml_tree_depth2",
    "p_negative_sampling",
    "rel_markov_transitions",
    "ts_theil_sen",
    "dq_uniqueness_keys",
    # round-5 batches 9-16: FIFO rides per-part interval joins (flows
    # per part fixed under replication), islands/mode/running-distinct
    # reduce to user/day dims, the learning curve is the NB gram shape
    # x4, M4 is one windowed scan, the leakage-safe split rides the
    # SimHash clique densification (like modularity — the hard
    # direction), the bucketed join pays its shuffle at write time
    "rel_fifo_match",
    "rel_gaps_islands",
    "w12_running_distinct",
    "ml_learning_curve",
    "ts_m4_downsample",
    "ml_boost_2rounds",
    "p_leakage_safe_split",
    "text_watermark_detect",
    "agg_equidepth_hist",
    "j11_bucketed_join",
    # round 6: the C4-ordered pair scorers (replication cliques collapse
    # at the exact-dedup stage — these should probe ~1x by design),
    # the as-of carry and pattern-match per-user windows (user_id is NOT
    # shifted, so per-user sequences grow x10 — the hard direction),
    # the novelty posting growth, the source-overlap distinct relation
    # (bounded by |sources| x vocab — sublinear by design), the
    # two-phase sweep line, and the fused v4 pipeline (the C4-fixed
    # dedup_ngram_jaccard / dedup_containment / graph_modularity /
    # p_leakage_safe_split are already probed above)
    "curation_soft_dedup_weights",
    "j12_asof_join",
    "rel_event_pattern_match",
    "text_ngram_novelty",
    "text_repetition_score",
    "dedup_source_overlap",
    "rel_max_concurrency",
    "curation_pipeline_v4",
    "agg_weighted_median",
    "dq_embedding_norms",
    "layout_skipping_report",
    # round 7 (queries_r27): the cumulative-dim rank pattern under fact
    # growth (lift deciles: dim = distinct cents, bounded; RFM monetary
    # axis = the BANDED rank — dim ~ |customers| grows x10, the hard
    # direction the r7 verdict flagged), cohort/funnel per-user
    # aggregates (user_id unshifted -> per-user history grows, like
    # ts_sessionize), the 7-slot seasonal queue (calendar-bounded), the
    # 35-cell MI contingency (flat by design), and keeper-group folds
    # (rides the SimHash clique densification, like p_leakage_safe_split)
    "ml_lift_gains",
    "rel_rfm_segments",
    "rel_retention_cohorts",
    "rel_funnel_conversion",
    "ts_holt_winters_exact",
    "dq_mutual_information",
    "p_group_kfold",
    # round 8 (queries_r28): scoring rules (one map+agg — flat-ish),
    # NDCG (per-type top-k windows; users per type grow x10 — the
    # partitioned-sort hard direction), KM (duration dim is
    # calendar-bounded), reconciliation (orders-keyed hash-agg + join),
    # embedding drift (explode x64 -> label-dim cells, constant dim),
    # rolling median (day dim calendar-bounded)
    "ml_brier_log_loss",
    "ml_ndcg_exact",
    "ml_survival_km",
    "dq_reconciliation",
    "dq_embedding_drift",
    "ts_rolling_median",
    # round 8 batches 2-4: TF-IDF kNN rides posting densification (the
    # inverted-index hard direction, like ngram_jaccard — the df cap is
    # the bound), bipartite projection rides context-bucket growth
    # (contexts gain users x10, so the 2..50 cap binds harder — pairs
    # should grow SUBlinearly by design), isotonic is the decile-dim
    # rank + constant bin algebra, lag features are user-partitioned
    # RANGE sweeps (per-user history grows x10 — the hard direction),
    # WAU is a x7 constant-fan-out explode + distinct agg, allocation
    # windows partition by order (order size fixed under replication)
    "text_tfidf_knn",
    "graph_bipartite_project",
    "ml_isotonic_decile",
    "ml_lag_features",
    "rel_wau_sliding",
    "rel_largest_remainder",
    "ts_hampel_outliers",
    # round-8 batches 5-7 + the r40 queue (verdict r8 #3): salted join
    # (x16-replicated 10-row dim is constant; the salted fact side
    # grows), DTW (day-grain calendar-bounded series: flat-ish),
    # survivorship (entity-keyed agg), WoE/IV (decile dim), seasonal
    # strength (day dim), clamped balance (two windows over user-keyed
    # prefix sums; user_id is NOT shifted so per-user history grows x10
    # — the hard direction, like ts_sessionize), the sliding-WAU
    # streaming twin (state bounded by windows x users; IO-layout-
    # sensitive like stream_dsir_score), MASE (day-grain agg + two
    # shifted-key joins), and the random walk (keeper-graph adjacency
    # localCheckpoint'ed once; rides the SimHash clique collapse)
    "j14_salted_join",
    "ts_dtw_exact",
    "er_survivorship",
    "ml_woe_iv",
    "ts_seasonal_strength",
    "rel_clamped_balance",
    "stream_sliding_wau",
    "ts_mase",
    "graph_random_walk",
    # round 9 (queries_r41-r45): rerank rides the df-capped posting
    # pair join (text_tfidf_knn's curve) + bounded top-5 windows;
    # contamination is shingle hash-aggs + ONE key join (posting
    # densification makes it conservative, like tfidf); packing is
    # (lang, shard)-windowed running sums — shard count is fixed here
    # so partitions grow x10 (the hard direction; production scales
    # shards with the corpus); the bottom-k sketch is a per-group
    # top-k (k fixed: the sort input grows, the shuffle stays k rows);
    # ECE is a 10-bin map+agg; Adamic-Adar / node2vec / skipgrams ride
    # the keeper-graph SimHash clique collapse like graph_random_walk;
    # fuzzy match is C4-ordered (exact-identity dedup collapses the
    # replicas BEFORE the quadratic stage — same reason the graph
    # family probes ~1x); gap-fill / winsorized / small-cell / leakage
    # are calendar- or user-keyed aggs; the recall curve re-runs both
    # ANN paths (probed above) plus a k-bounded join
    "text_rerank_cross",
    "dq_contamination",
    "text_seq_packing",
    "agg_quantile_bottomk",
    "ml_reliability_ece",
    "graph_adamic_adar",
    "er_fuzzy_match",
    "fn_ip_cidr",
    "ts_gap_fill_ffill",
    "ts_winsorized_mean",
    "er_blocking_stats",
    "stream_contamination",
    "graph_node2vec_walk",
    "graph_walk_skipgrams",
    "dq_split_user_leakage",
    "privacy_small_cell",
    "ann_recall_curve",
    # r46: SHAP rides the ridge moment shape + broadcast weights join;
    # AUPRC's windows run over the distinct-score dim; blocking recall
    # is C4-ordered (keeper pairs bounded by name vocabulary)
    "ml_linear_shap",
    "ml_auprc_exact",
    "er_blocking_recall",
    # r47: pinball is the MASE day-grain shape x2 quantiles; lexical
    # diversity rides posting densification (conservative, like tfidf);
    # the cost sweep runs over the distinct-score dim
    "ts_pinball_loss",
    "text_lexical_diversity",
    "ml_cost_threshold",
    # r48: KS runs its windows over the distinct-score dim; the
    # anonymity audit is one QI-keyed shuffle (the replica multiplies
    # class sizes, not the class COUNT — its curve should be flat-ish);
    # assortativity rides the keeper edge list (replica cliques
    # collapse before pair enumeration, C4-ordered)
    "ml_ks_statistic",
    "privacy_k_anonymity",
    "graph_degree_assortativity",
    # r49: ACF is the MASE day-grain shape x7 lags; the gap medians
    # collapse to the (segment, gap) value dim after one custkey
    # shuffle; MRR rides the brute-force baseline (quadratic in the
    # replica by design — the documented swap point is ivf_topk);
    # range search is top-k minus the rank window (map-side threshold)
    "ts_acf_exact",
    "rel_order_gap_median",
    "ml_mrr_exact",
    "ann_range_search",
    # r50: rich club rides the keeper edge list (replica cliques
    # collapse first); control rules are day-grain pre-agg + bounded
    # day-dim windows; burstiness rides posting densification
    # (conservative, like tfidf)
    "graph_rich_club",
    "ts_control_rules",
    "text_burstiness",
    # r51: harmonic's d2/d3 frontiers are keeper-graph-sized (cliques
    # collapse first); pairwise F1 blocks are name-vocabulary bounded;
    # cohort LTV is one user shuffle + calendar-dim windows; error
    # slices are two fact hash-aggs into bounded dims
    "graph_harmonic_centrality",
    "er_pairwise_f1",
    "rel_cohort_ltv",
    "ml_error_slices",
    # r52: growth accounting is one (user, week) distinct + user-keyed
    # lag + week rollup; McNemar is one scan into a 4-cell agg
    "rel_growth_accounting",
    "ml_mcnemar_test",
    # r53/r54: components twice over the keeper graph; two
    # distinct-score-dim sweeps; the keeper-mapping purity rollup; the
    # fixed-panel P@k (linear in corpus, like mrr)
    "graph_hub_removal_impact",
    "ml_threshold_transfer",
    "dedup_cluster_purity",
    "ml_precision_at_k",
    # r55 (round-10 queue): two-pass 10-bin calibration aggs; the
    # vocab curve is posting-densification-bound like tfidf
    "ml_calibration_drift",
    "text_vocab_growth",
    # r56 (round-10 batch 1): IVF range-search contamination (corpus
    # scanned once); the 13-gram + skip-gram double explode; the
    # segment-explode packing rollup; the (domains x 10)-bin PSI; the
    # shared-panel recall (linear in corpus, the mrr class)
    "dq_contamination_semantic",
    "dq_decontam_skipgram",
    "text_packing_efficiency",
    "p_drift_reweight",
    "ml_recall_at_k",
    # r57 (round-10 batch 2): single fact hash-aggs into bounded dims;
    # per-group AUC walks the (source x distinct-score) dim
    "ml_fairness_parity",
    "ml_brier_decomp",
    "ml_auc_by_group",
    "ml_risk_coverage",
    "ml_confident_learning",
    # r58: two LPA vote rounds over the keeper graph; one fingerprint
    # hash-agg; the C4-blocked Levenshtein sweep; three per-n posting
    # aggs; day-grain drawdown windows
    "graph_label_propagation",
    "dq_label_conflict",
    "er_threshold_sweep",
    "dedup_shingle_sweep",
    "ts_max_drawdown",
    # r59: fingerprint + decile dim; customer/month double hash-agg;
    # the zero-pair isotropy aggregates (posexplode -> 64-dim rollup)
    "dq_dup_rate_trend",
    "rel_repeat_revenue",
    "ml_embedding_isotropy",
    # r60 (round-11 queue): keeper-graph triangle closure; 14
    # shifted-key day-dim joins + per-type argmax
    "graph_transitivity",
    "ts_dominant_period",
    # r10 batch 5: distinct-exposure SRM; per-shard double rank
    # windows; per-half Pareto windows + customer self-join; the
    # banded-contingency tau cross
    "ab_srm_check",
    "p_epoch_shuffle_quality",
    "rel_abc_migration",
    "ml_kendall_tau",
    # r10 batch 6: lang-dim quota windows; one user-keyed paired agg
    "p_quota_sample",
    "ab_paired_ttest",
    # r10 batch 7: LPA labels joined twice against the keeper edges;
    # day-grain 7-group ANOVA rollup
    "graph_community_conductance",
    "ts_weekday_anova",
    # r10 batch 8: one fact scan x16 replicate fan-out; map-side
    # shift-decay weights into a month rollup
    "ml_bootstrap_f1",
    "p_recency_weights",
    # r11 batch 1: shingle-keyed attribution join; |sources| windows;
    # two codec-arm corpus scans through the Arrow kernel; map-only
    # assignment + |cells| rollup
    "dq_contamination_by_source",
    "p_token_budget_mix",
    "ann_codec_recall",
    "ann_ivf_balance",
    # r11 batch 2: five shingle explodes; one (lang, gram) hash-agg;
    # scalar gate agg; banded phash pairs -> components
    "dq_contamination_ngram_curve",
    "text_dup_gram_mass",
    "curation_gate_attribution",
    "mm_phash_components",
    # r11 batch 3: degree histogram window; edge/lang joins; day-grain
    # lag/lead windows
    "graph_degree_gini",
    "graph_lang_assortativity",
    "ts_turning_points",
    "ts_gap_stats",
    # r11 batch 4: distinct-value median/p95 windows; (type, half)
    # hash-agg; streaming drain + frozen-card join
    "ml_fold_stability",
    "ml_label_shift_weights",
    "p_ess_weight_clip",
    "stream_psi_monitor",
    # r11 batch 5: prefix hash-agg; keeper-edge source joins;
    # train-vocab TakeOrdered + token join
    "dedup_prefix_clusters",
    "dedup_edge_source_mix",
    "text_oov_rate",
    # r65 (round-12 queue): adjacency-pair anti evidence; day-count
    # moment rollup
    "graph_local_bridges",
    "ts_fano_factor",
    # r11 batch 6: 8-row shard hash-agg; (col, value) freq dims; 1-row
    # power agg; (lang, token) hash-agg
    "p_shard_balance",
    "dq_near_zero_variance",
    "ab_power_mde",
    "text_hapax_rate",
    # r11 batch 7: per-doc contamination flag rollup; shared IVF
    # assignment x3 probe arms; one signature hash-agg x3 band joins
    "dq_contamination_bias",
    "ann_nprobe_tradeoff",
    "dedup_band_sweep",
    # r11 batch 8: keeper components + gate rollup; 3-arm moment agg
    "dq_dedup_bias",
    "dq_split_smd",
    # r12 batch 1: banded pair membership semi-joins + 4-row grid;
    # (doc, gram) distinct relation serving semi-join + df hash-agg;
    # shared IVF candidate join x2 codecs x3 nprobes; (type, second)
    # gap dim rollups
    "dedup_cross_modal",
    "dq_split_repair",
    "ann_pareto_frontier",
    "stream_watermark_advisor",
    # r12 batch 2: keeper graph + components x2 arms; |labels|x64
    # centroid cross; one-pass 2-arm seat solver; (type, grain,
    # bucket) hash-agg
    "graph_bridge_fragmentation",
    "emb_label_coherence",
    "p_dedup_aware_mix",
    "ts_fano_grain_curve",
    # r12 batch 3: gram relation x2 contamination counts + banded
    # promotion rank; per-edge support hash-agg; components x3 arms
    "dq_repair_residual",
    "graph_edge_support",
    "dedup_pooled_components",
    # r12 batch 4: keeper components + map-only gate projection;
    # |sources| dim seat arithmetic
    "curation_cluster_extinction",
    "p_epoch_schedule",
    # r70 (round-13 queue): banded hamming list x 4-row threshold dim;
    # doc->keeper->component map + cluster hash-aggs
    "mm_phash_threshold_sweep",
    "dq_split_cluster_leakage",
    # r12 batch 5: map-only gate projection + one |sources| hash-agg
    "curation_gate_by_source",
    # r12 batch 6: two banded pair sets full-outer joined; phash
    # components + source dim join
    "dedup_detector_agreement",
    "mm_phash_cluster_sources",
    # r13 batch 1: pooled-evidence leakage (2-arm components), the
    # twice-iterated repair (gram relation reused 6×), per-threshold
    # phash components, and the 2-scan ANN recall audit
    "dq_pooled_cluster_leakage",
    "dq_repair_fixpoint",
    "mm_phash_threshold_purity",
    "ann_recall_under_dedup",
    # r13 batch 2 (stream_phash_dedup's stream side is empty at the
    # scaled dir — directory-per-table layout defeats the file glob;
    # see SCALING.md — the probe covers the static index + verify)
    "stream_phash_dedup",
    "ts_session_timeout_sweep",
    "agg_cms_width_curve",
    "layout_partition_advisor",
    # r13 batch 3
    "curation_gate_dup_overlap",
    "dq_leak_detector_overlap",
    "p_curated_budget_mix",
    "dq_split_embedding_drift",
    # r13 batch 4
    "dedup_signature_size_sweep",
    "mm_phash_band_sweep",
    "agg_kmv_precision_curve",
    "graph_component_depth",
    # r14 queue
    "dq_cluster_safe_repair",
    "dedup_pooled_text_detectors",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# per-table id columns to shift per replica so keys stay globally unique
SHIFT_COLS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SHIFT = 100_000_000


def synthesize(spark, src: str, dst: str, factor: int) -> None:
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        src_path = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(src_path):
            continue
        dst_path = os.path.join(dst, f"{t}.parquet")
        if t not in SHIFT_COLS:
            # dimensions keep their identity — replication would break joins
            df = spark.read.parquet(src_path)
            df.write.mode("overwrite").parquet(dst_path)
            continue
        df = spark.read.parquet(src_path)
        rep = df.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        for c in SHIFT_COLS[t]:
            rep = rep.withColumn(c, F.col(c) + F.col("_r").cast("long") * SHIFT)
        # perturb embeddings per replica so ANN/semantic probes don't see
        # F-1 exact clones of every vector (which would inflate dup counts,
        # not the cost curve we're measuring)
        if t == "embeddings":
            rep = rep.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x: x
                    + (F.pmod(F.col("_r") * 7, F.lit(13)).cast("float") - 6.0)
                    / 1000.0,
                ),
            )
        rep.drop("_r").repartition(32).write.mode("overwrite").parquet(dst_path)


def run(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    return {
        name: min(time_query(spark, QUERIES[name], sf_dir)[0] for _ in range(2))
        for name in names
    }


def skew_probe(spark, scaled_dir: str) -> list[str]:
    """Measure the LSH bucket-skew cap on a boilerplate-heavy corpus: 20%
    of the scaled docs share one text (the templated-page hazard), so one
    signature bucket holds 20% of the corpus. Uncapped, that bucket emits
    quadratic pairs; capped, a linear sorted-id chain."""
    import pyspark.sql.functions as F

    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    boiler = (
        "standard legal disclaimer all rights reserved reproduction "
        "prohibited without express written consent of the publisher"
    )
    docs = spark.read.parquet(os.path.join(scaled_dir, "documents.parquet"))
    docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.lit(boiler)).otherwise(F.col("text")),
    )
    out = []
    for label, cap in (("uncapped", None), ("capped(10)", 10)):
        t0 = time.perf_counter()
        n = minhash_lsh_pairs(
            docs, "doc_id", num_hashes=16, bands=4, max_bucket=cap
        ).count()
        out.append(
            f"| minhash_lsh {label} on 20%-boilerplate corpus | "
            f"{time.perf_counter() - t0:.2f}s | {n} pairs |"
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--skew", action="store_true", help="also run the LSH skew-cap probe")
    args = ap.parse_args()

    spark = get_spark("scale-probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count())
    scaled_dir = f"/tmp/jigsaw_scale_x{args.factor}"
    print(f"synthesizing ×{args.factor} at {scaled_dir} ...", flush=True)
    synthesize(spark, args.sf, scaled_dir, args.factor)
    warm(spark, args.sf)

    base = run(spark, args.sf, PROBES)
    big = run(spark, scaled_dir, PROBES)

    lines = [
        "# SCALING — measured cost curves (×1 vs ×{f} rows)\n".format(f=args.factor),
        f"Base: `{args.sf}`; scaled: ×{args.factor} replicas, fact ids",
        "shifted per replica (unique keys), embeddings perturbed per",
        "replica (no artificial exact dups), dims unreplicated.",
        "`ratio ≈ {f}` ⇒ linear in rows; `ratio ≈ {f}²` ⇒ the plan would".format(f=args.factor),
        "not survive a scale-up. Generated by `tools/scale_probe.py`.\n",
        "| query | ×1 sec | ×{f} sec | time ratio |".format(f=args.factor),
        "|---|---|---|---|",
    ]
    for name in PROBES:
        r = big[name] / base[name] if base[name] > 0 else float("nan")
        lines.append(
            f"| {name} | {base[name]:.2f} | {big[name]:.2f} | {r:.1f}× |"
        )
    if args.skew:
        lines += [
            "",
            "## Skew-cap probe (×{f} corpus, 20% forced boilerplate)".format(f=args.factor),
            "",
            "| case | wall | emitted pairs |",
            "|---|---|---|",
            *skew_probe(spark, scaled_dir),
            "",
            "The capped run replaces the hot bucket's quadratic all-pairs",
            "with a linear chain (components-equivalent, SCALE.md §3.4).",
        ]
    lines += [
        "",
        "Notes: replicated text densifies every posting list ×{f} — the".format(f=args.factor),
        "hard direction for the inverted-index family. Since r6 every",
        "registered pair-enumeration query is C4-ORDERED (exact dedup →",
        "banded LSH → pair scoring inside bounded buckets, the production",
        "pipeline order): `dedup_ngram_jaccard` / `dedup_containment` run",
        "`banded_pair_scores` (operators/dedup.py), and `graph_modularity`",
        "/ `p_leakage_safe_split` build the SimHash pair graph over",
        "exact-dedup keepers. Replication cliques therefore collapse",
        "BEFORE pair enumeration and the four r5 scale-killers (18.6× /",
        "9.9× / 15.6× / 11.0×) now probe ≈1× — duplication is free by",
        "construction, organic new data adds pair work at the organic",
        "near-dup rate (SCALE.md §3.4's clique-vs-organic reading). The",
        "exact uncapped operators (`ngram_jaccard_pairs`,",
        "`containment_pairs`) remain library entry points for sampled",
        "tuning runs. `dedup_semantic` holds the cell count fixed here; at",
        "a real scale-up k grows with N (k ∝ N/c) keeping in-cell pair",
        "work linear. Streaming probes (`stream_dsir_score`,",
        "`stream_sliding_wau`, `stream_contamination`) are",
        "IO-layout-sensitive: the ×10 replica dir is written 32-way",
        "partitioned while the base is a single file, so their ratio",
        "reflects file-source listing/batching, not operator cost — read",
        "those rows as 'no blow-up', not as a speedup. `text_seq_packing`",
        "holds its shard count fixed under replication, so per-shard",
        "window partitions grow ×10 — production scales shards with the",
        "corpus, keeping partitions bounded. `ml_mrr_exact` queries from",
        "a FIXED 200-vector eval panel, so its cost is linear in the",
        "corpus by construction; `text_burstiness` and",
        "`text_lexical_diversity` ride posting densification",
        "(conservative, like tfidf); the anonymity/growth/cohort probes",
        "multiply CLASS sizes, not class counts, so their curves should",
        "track the single fact shuffle.",
        "",
        "Run-to-run noise (measured r9): two same-day runs with identical",
        "code moved untouched queries' ×10 column by up to 2.5× in both",
        "directions (ts_mase 1.4×→3.7×, dq_contamination 5.4×→4.2×) while",
        "the ×1 column tightened — the ×10 phase is page-cache-sensitive",
        "(the replica dir is freshly written each run). Read ratios under",
        "~5× as 'no blow-up'; only a ratio that is large AND stable across",
        "runs indicates a cost-curve problem.",
        "",
        "## Bench-regression policy (r3 finding)",
        "",
        "The per-round bench runs each query ONCE inside a multi-hundred-",
        "query session, so a query's time depends on which queries warmed",
        "the page cache before it — and the certification-priority reorder",
        "changes that warm-up set every round. r2's flagged regressions",
        "(`dedup_url_canon` 2.9x, `q9_profit_by_nation` 1.65x) re-measured",
        "min-of-3 at 0.68s / 1.55s with unchanged plans: first-run cache",
        "noise. Judge flagged queries min-of-3 before concluding a plan",
        "regression.",
    ]
    Path(Path(__file__).resolve().parent.parent / "SCALING.md").write_text(
        "\n".join(lines) + "\n"
    )
    print("\n".join(lines))
    if not args.keep:
        shutil.rmtree(scaled_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
