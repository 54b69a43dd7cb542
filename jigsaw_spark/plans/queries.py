"""The query registry: every family module, then the certification order.

Each query is a (Spark plan, DuckDB oracle) pair registered with
``registry.register`` by the family module that owns it. The Spark side goes
through the engine's operator modules; the oracle is ANSI SQL DuckDB runs on
the same parquet. Column names/types are aligned on both sides because the
driver hash-compares values under sorted column names.

Determinism contract: all pseudo-random operators derive order from
md5(seed|key) (functions/hashing.py) so Spark and DuckDB agree bit-for-bit.
Statistics derive from exact integer counts or exact decimal sums; the few
libm-fed doubles snap through round(round(x, 9), k) on both engines, and
ratios that could land on a decimal midpoint are integer micro-units.

A query lives in the module named by its name prefix (``ml_*`` in ``ml.py``,
``dedup_*`` in ``dedup.py``, ...). Prefixes with fewer than six queries live
with the family whose operator they exercise:

    rel       q1-q22, j1-j14, set_*, merge_*, cogroup_*
    agg       a1-a5, w1-w12
    p         flagship_*, f1-f9, p1-p7
    mm        k6_*
    ann       emb_*
    dq        profile_*
    text      rag_*
    fn        sql_*
    ml        mine_*

The imports below list the families dependencies-first, so the registry
tail (everything after ``_CERTIFICATION_PRIORITY``) is in this order.
"""

from __future__ import annotations

from jigsaw_spark.plans import (  # noqa: F401  (registration side effect)
    mm,
    dedup,
    text,
    agg,
    rel,
    ml,
    curation,
    p,
    ann,
    dq,
    graph,
    stream,
    ts,
    fn,
    ab,
    layout,
    privacy,
    er,
)
from jigsaw_spark.plans.registry import QUERIES, QuerySpec

# Registration order is the driver's certification order: its correctness
# gate walks QUERIES in order and certifies the first 50 names. These names
# lead, in this order; every other query follows in module-import order.
_CERTIFICATION_PRIORITY = [
    "dedup_pooled_text_detectors",
    "dq_cluster_safe_repair",
    "dq_repair_fixpoint",
    "dq_repair_residual",
    "ann_nprobe_tradeoff",
    "ann_pareto_frontier",
    "text_dup_gram_mass",
    "dedup_source_overlap",
    "graph_edge_support",
    "ml_linear_shap",
    "ml_ridge_2feature",
    "dq_contamination_ngram_curve",
    "ts_session_timeout_sweep",
    "mm_phash_band_sweep",
    "dedup_signature_size_sweep",
    "ann_recall_under_dedup",
    "curation_cluster_extinction",
    "curation_gate_dup_overlap",
    "curation_soft_dedup_weights",
    "dedup_cluster_purity",
    "dedup_cross_modal",
    "dedup_detector_agreement",
    "dedup_edge_source_mix",
    "dedup_pooled_components",
    "dedup_simhash_pairs",
    "dq_dedup_bias",
    "dq_leak_detector_overlap",
    "dq_pooled_cluster_leakage",
    "dq_split_cluster_leakage",
    "graph_adamic_adar",
    "graph_bridge_fragmentation",
    "graph_community_conductance",
    "graph_component_depth",
    "graph_component_size_hist",
    "graph_degree_assortativity",
    "graph_degree_gini",
    "graph_harmonic_centrality",
    "graph_hub_removal_impact",
    "graph_label_propagation",
    "graph_lang_assortativity",
    "graph_local_bridges",
    "graph_modularity",
    "graph_node2vec_walk",
    "graph_random_walk",
    "graph_rich_club",
    "graph_transitivity",
    "p_curated_budget_mix",
    "p_dedup_aware_mix",
    "p_group_kfold",
    "p_leakage_safe_split",
    "dedup_components",
    "dedup_simhash",
    "mm_phash_near_dup",
    "dq_split_repair",
    "rel_rfm_segments",
    "agg_countmin_hh",
    "j8_bloom_prune",
]


def _reorder_registry() -> None:
    # A typo in the hand-maintained priority list must fail loudly, not
    # silently demote the query to the registration tail (r5 advisor).
    missing = [n for n in _CERTIFICATION_PRIORITY if n not in QUERIES]
    if missing:
        raise KeyError(
            f"_CERTIFICATION_PRIORITY names not in QUERIES: {missing}"
        )
    if len(set(_CERTIFICATION_PRIORITY)) != len(_CERTIFICATION_PRIORITY):
        dupes = sorted(
            n
            for n in set(_CERTIFICATION_PRIORITY)
            if _CERTIFICATION_PRIORITY.count(n) > 1
        )
        raise KeyError(f"_CERTIFICATION_PRIORITY duplicates: {dupes}")
    ordered: dict[str, QuerySpec] = {}
    for name in _CERTIFICATION_PRIORITY:
        ordered[name] = QUERIES[name]
    for name, spec in QUERIES.items():
        if name not in ordered:
            ordered[name] = spec
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder_registry()
