"""Shared fixed-panel retrieval-eval stage (advisor r9 #3).

``ml_mrr_exact``, ``ml_precision_at_k`` and ``ml_recall_at_k`` (plans/ml.py)
all grade the SAME candidate stage: a fixed 200-vector eval panel querying
the full embeddings corpus with brute-force cosine, top-10 by the ANN
family's (round-9 score DESC, vec_id ASC) tie order, with query and
candidate labels joined on. Before round 10 that stage was triplicated
(Spark boilerplate in two modules, the 200 literal in four places) —
this module is the single definition, so the eval queries cannot
silently diverge.

The candidate generator is :func:`operators.similarity.cosine_topk`,
whose round-10 form is the Arrow matmul kernel (verdict r9 #2): panel
broadcast in the task closure, corpus scanned once, batch-local top-k
prune, global rank window over ~k rows per query per batch. Cost is
linear in the corpus by construction — the panel is fixed — and the
per-element cosines are vectorized C, not interpreted HOFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PANEL_SIZE = 200
PANEL_K = 10

# DuckDB twin of the labeled top-10 stage: emits (query_id, qlabel,
# clabel, rank) for rank <= PANEL_K over the same panel, same tie order.
PANEL_TOPK_CTE = f"""
    ranked_all AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel, c.label AS clabel,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(
                 q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 9) DESC,
                 c.vec_id
             ) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {PANEL_SIZE}),
    ranked AS (
      SELECT query_id, qlabel, clabel, rank
      FROM ranked_all WHERE rank <= {PANEL_K})"""


def labeled_panel_topk(
    spark: SparkSession, sf_dir: str, load_table
) -> DataFrame:
    """(query_id, qlabel, clabel, rank) for the panel's top-10 candidates.

    ``load_table`` is the caller's ``_t``-style loader."""
    from jigsaw_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    panel = emb.filter(F.col("vec_id") < PANEL_SIZE)
    top = cosine_topk(emb, panel, k=PANEL_K).select(
        "query_id", "vec_id", "rank"
    )
    labels = emb.select("vec_id", "label")
    ql = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    cl = labels.select("vec_id", F.col("label").alias("clabel"))
    return (
        top.join(F.broadcast(cl), "vec_id")
        .join(F.broadcast(ql), "query_id")
        .select("query_id", "qlabel", "clabel", "rank")
    )
