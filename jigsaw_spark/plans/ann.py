"""Vector-search queries (``ann_*``, ``emb_*``): exact and IVF top-k,
quantization codecs, recall and Pareto sweeps.

Each codec arm scans the corpus once through the Arrow ``cosine_topk``
kernel with codebooks in the closure, so arms are linear in the corpus.
Range search is cheaper than top-k at scale: the threshold is a map-side
predicate, so there is no per-query rank window and the corpus is never
shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    srp_buckets,
    srp_planes,
    srp_signature_sql,
)
from jigsaw_spark.plans.dedup import _KEEPER_EDGES_CTE
from jigsaw_spark.plans.registry import _t, register


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

_COS = (
    "list_cosine_similarity({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])"
)


@register(
    "emb_cosine_near_dup",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS.format(a='a', b='b')}, 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_COS.format(a='a', b='b')}, 9) >= 0.4
    """,
    "embedding-cosine near-dup pairs (>= 0.4)",
)
def emb_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, 0.4)


@register(
    "ann_cosine_topk",
    f"""
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round({_COS.format(a='q', b='c')}, 4) AS cosine,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({_COS.format(a='q', b='c')}, 9) DESC, c.vec_id
             ) AS INT) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5) t
    WHERE rank <= 10
    """,
    "brute-force cosine top-10 per query vector (exact ANN baseline)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=10)


@register(
    "ann_ivf_assign",
    f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ), scored AS (
      SELECT e.vec_id, c.cid,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
                                          c.cvec::DOUBLE[]), 9) AS cos
      FROM embeddings e CROSS JOIN cent c
    )
    SELECT vec_id, cid AS cell FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, cid) AS rn
      FROM scored) t
    WHERE rn = 1
    """,
    "IVF coarse quantizer: nearest-centroid cell assignment (broadcast "
    "codebook, map-only matmul) — the ANN scale path's partitioner",
)
def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import ivf_assign

    emb = _t(spark, sf_dir, "embeddings")
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    return ivf_assign(emb, centroids)


_IVF_COS = "round(list_cosine_similarity({a}.embedding::DOUBLE[], {b}.cvec), 9)"


@register(
    "ann_ivf_topk",
    f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e', b='c')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1
    ), probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_COS.format(a='q', b='c')} DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < 5) t
      WHERE rn <= 2
    ), scored AS (
      SELECT p.query_id, a.vec_id,
             {_COS.format(a='q', b='e')} AS cos
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings e ON e.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, round(cos, 4) AS cosine, rank FROM (
      SELECT query_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 9) DESC, vec_id) AS INT) AS rank
      FROM scored) t
    WHERE rank <= 10
    """,
    "IVF search: nprobe=2 cell probe + exact top-10 within probed cells "
    "(the ANN scale path end-to-end: codebook broadcast, map-only "
    "assignment, cell-local candidate join)",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, centroids, k=10, nprobe=2)


_SRP_PLANES = srp_planes(16, 64)


@register(
    "ann_srp_buckets",
    f"""
    SELECT vec_id,
           {srp_signature_sql('embedding::DOUBLE[]', _SRP_PLANES)} AS sig
    FROM embeddings
    """,
    "SRP-LSH 16-bit bucket signatures (the ANN scale path)",
)
def ann_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return srp_buckets(emb, num_planes=16)


_IVFPQ_ORACLE = """
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8),
    q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(
                            e.embedding::DOUBLE[], c.cvec), 9) DESC,
                          c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
    ordered AS (
      SELECT embedding::DOUBLE[] AS sv,
             row_number() OVER (
               ORDER BY md5(concat_ws('|', 'pq-train', CAST(vec_id AS VARCHAR))),
                        vec_id) - 1 AS sidx
      FROM embeddings),
    seeds AS (SELECT * FROM ordered WHERE sidx < 16),
    codes AS (
      SELECT vec_id, j, sidx AS code FROM (
        SELECT e.vec_id, s.sidx, js.j,
               row_number() OVER (PARTITION BY e.vec_id, js.j ORDER BY
                 round(list_sum(list_transform(range(16), d ->
                   (e.embedding[js.j*16 + d + 1]::DOUBLE - s.sv[js.j*16 + d + 1])
                   * (e.embedding[js.j*16 + d + 1]::DOUBLE
                      - s.sv[js.j*16 + d + 1]))), 9),
                 s.sidx) AS rn
        FROM embeddings e CROSS JOIN seeds s
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) js) t
      WHERE rn = 1),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 9) DESC,
                          c.cid) AS rn
        FROM q CROSS JOIN cent c) t WHERE rn <= 2),
    cand AS (
      SELECT p.query_id, a.vec_id FROM probes p JOIN assign a ON a.cell = p.cell),
    dist AS (
      SELECT c.query_id, c.vec_id,
             round(sum(list_sum(list_transform(range(16), d ->
               (q.qv[k.j*16 + d + 1] - s.sv[k.j*16 + d + 1])
               * (q.qv[k.j*16 + d + 1] - s.sv[k.j*16 + d + 1])))), 9) AS d2
      FROM cand c
      JOIN q USING (query_id)
      JOIN codes k ON k.vec_id = c.vec_id
      JOIN seeds s ON s.sidx = k.code
      GROUP BY c.query_id, c.vec_id)
    SELECT query_id, vec_id, round(d2, 4) AS adc_d2, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY d2, vec_id) AS rn
          FROM dist) t
    WHERE rn <= 10
"""


@register(
    "ann_ivfpq_topk",
    _IVFPQ_ORACLE,
    "IVF-PQ ANN search (the 100 TB composition): coarse-quantize + PQ-"
    "encode the corpus in map-only kernels, score ONLY probed cells' "
    "4-byte codes via per-query ADC lookup tables (floats never read at "
    "query time; 64x memory reduction at m=4/k=16). The oracle re-derives "
    "cells, md5-ordered sub-codebooks, probe lists AND the ADC distances "
    "relationally — the full approximate pipeline is value-checked, "
    "approximation included",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import ivfpq_topk
    from jigsaw_spark.session import widen

    emb = widen(_t(spark, sf_dir, "embeddings"))
    seed_rows = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in seed_rows]
    queries = centroids[:5]
    return ivfpq_topk(emb, queries, centroids, k=10, nprobe=2)


_PQ_ORACLE = """
    WITH ordered AS (
      SELECT embedding::DOUBLE[] AS sv,
             row_number() OVER (
               ORDER BY md5(concat_ws('|', 'pq-train', CAST(vec_id AS VARCHAR))),
                        vec_id) - 1 AS sidx
      FROM embeddings),
    seeds AS (SELECT * FROM ordered WHERE sidx < 16),
    codes AS (
      SELECT e.vec_id, s.sidx, js.j,
             round(list_sum(list_transform(range(16), d ->
               (e.embedding[js.j*16 + d + 1]::DOUBLE - s.sv[js.j*16 + d + 1])
               * (e.embedding[js.j*16 + d + 1]::DOUBLE - s.sv[js.j*16 + d + 1]))),
               9) AS d2
      FROM embeddings e
      CROSS JOIN seeds s CROSS JOIN (SELECT unnest([0, 1]) AS j) js),
    assign AS (
      SELECT vec_id, j, sidx AS code FROM (
        SELECT vec_id, j, sidx,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, sidx) AS rn
        FROM codes) t
      WHERE rn = 1)
    SELECT CAST(a0.code AS INT) AS c0, count(*) AS n,
           round(avg(a1.code), 4) AS mean_c1
    FROM (SELECT vec_id, code FROM assign WHERE j = 0) a0
    JOIN (SELECT vec_id, code FROM assign WHERE j = 1) a1 USING (vec_id)
    GROUP BY 1 ORDER BY 1
"""


@register(
    "ann_pq_codes",
    _PQ_ORACLE,  # codebook-trained encoding — rows-only; numpy parity in tests
    "Product quantization over the embeddings table (m=4 subspaces, k=16 "
    "codes): each float vector compresses to 4 small ints via map-only "
    "Arrow encoding with driver-held codebooks. Output: per-(first-code) "
    "cell sizes + mean second code. The oracle re-derives the md5-ordered "
    "sub-codebooks and the round-9 argmin assignment relationally — full "
    "value check of the PQ encoder.",
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import pq_encode
    from jigsaw_spark.session import widen

    emb = widen(_t(spark, sf_dir, "embeddings"))
    codes, _books = pq_encode(emb, m=4, k=16)
    return (
        codes.select(
            F.col("codes")[0].alias("c0"),
            F.col("codes")[1].alias("c1"),
        )
        .groupBy("c0")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("c1"), 4).alias("mean_c1"))
        .orderBy("c0")
    )


@register(
    "ann_sq8",
    """
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) AS d,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings
    ), st AS (
      SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM (
        SELECT d, min(x) AS mn, max(x) AS mx FROM dims GROUP BY d) t
    )
    SELECT vec_id,
           array_to_string(list_transform(range(1, len(embedding) + 1), i ->
             CAST(round(
               CASE WHEN mxs[i] > mns[i]
                    THEN round((embedding[i]::DOUBLE - mns[i])
                               / (mxs[i] - mns[i]), 9)
                    ELSE 0.0 END * 255, 0) AS INT)), ',') AS codes_csv,
           round(list_max(list_transform(range(1, len(embedding) + 1), i ->
             abs(mns[i]
                 + CAST(round(
                     CASE WHEN mxs[i] > mns[i]
                          THEN round((embedding[i]::DOUBLE - mns[i])
                                     / (mxs[i] - mns[i]), 9)
                          ELSE 0.0 END * 255, 0) AS INT) / 255.0
                   * (mxs[i] - mns[i])
                 - embedding[i]::DOUBLE))), 9) AS max_abs_err
    FROM embeddings CROSS JOIN st
    """,
    "SQ8 scalar quantization: ONE dim-keyed hash agg (64 rows, map-side "
    "combinable) collected KB-scale, then a map-only JVM transform — the "
    "corpus never shuffles; error metric is max (order-independent). "
    "Codes emitted as a CSV string: the driver's pandas canonicalizer "
    "cannot sort array-typed columns (r2 ERR), so no array column ever "
    "reaches the result surface.",
)
def ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import sq8_quantize

    return sq8_quantize(_t(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.array_join(F.col("codes"), ",").alias("codes_csv"),
        "max_abs_err",
    )


def _mmr_stage_sql(i: int, lam: float = 0.7) -> str:
    """Stage i (1-based) of the unrolled greedy MMR oracle: score every
    not-yet-picked vector against picks p1..p(i-1), take the argmax."""
    if i == 1:
        return (
            f"s1 AS (SELECT vec_id, v, rel, round({lam}*rel, 9) AS mmr FROM rel),\n"
            "    p1 AS (SELECT * FROM s1 ORDER BY mmr DESC, vec_id LIMIT 1)"
        )
    sims = ", ".join(
        f"round(list_cosine_similarity(r.v, p{j}.v), 9)" for j in range(1, i)
    )
    joins = " ".join(f"CROSS JOIN p{j}" for j in range(1, i))
    excl = " AND ".join(f"r.vec_id <> p{j}.vec_id" for j in range(1, i))
    maxs = f"greatest({sims})" if i > 2 else sims
    return (
        f"s{i} AS (SELECT r.vec_id, r.v, r.rel,\n"
        f"      round({lam}*r.rel - {round(1-lam, 9)}*{maxs}, 9) AS mmr\n"
        f"      FROM rel r {joins} WHERE {excl}),\n"
        f"    p{i} AS (SELECT * FROM s{i} ORDER BY mmr DESC, vec_id LIMIT 1)"
    )


_MMR_K = 5

_MMR_STAGES = ",\n    ".join(_mmr_stage_sql(i) for i in range(1, _MMR_K + 1))

_MMR_UNION = "\n      UNION ALL ".join(
    f"SELECT {i - 1} AS rank, vec_id, rel AS relevance, mmr AS mmr_score FROM p{i}"
    for i in range(1, _MMR_K + 1)
)


@register(
    "ann_mmr_select",
    f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM c WHERE vec_id = 0),
    rel AS (SELECT vec_id, v,
                   round(list_cosine_similarity(v, qv), 9) AS rel
            FROM c CROSS JOIN q),
    {_MMR_STAGES}
    {_MMR_UNION}
    """,
    "greedy MMR diverse top-k: k rounds of ONE corpus scan + top-1 "
    "TakeOrdered; the selected set rides as a KB literal array, the "
    "corpus never shuffles and nothing but 1 row/round is collected. "
    "Oracle = the same greedy argmax unrolled to k CTE stages.",
)
def ann_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return mmr_select(emb, qv, k=_MMR_K, lam=0.7)


# cosine between a query row `q` and a corpus row `e`
_QE_COS = (
    "list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[])"
)


@register(
    "ann_ivf_recall",
    f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e', b='c')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1
    ), probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_COS.format(a='q', b='c')} DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < 5) t
      WHERE rn <= 2
    ), ivf AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY round({_QE_COS}, 9) DESC, a.vec_id) AS rank
        FROM probes p
        JOIN assign a ON a.cell = p.cell
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id) t
      WHERE rank <= 10
    ), brute AS (
      SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round({_QE_COS}, 9) DESC, e.vec_id) AS rank
        FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
        WHERE q.vec_id < 5) t
      WHERE rank <= 10
    )
    SELECT b.query_id,
           CAST(count(i.vec_id) AS BIGINT) AS n_hit,
           round(count(i.vec_id) / 10.0, 4) AS recall_at_10
    FROM brute b
    LEFT JOIN ivf i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
    GROUP BY b.query_id
    """,
    "ANN self-evaluation: recall@10 of the IVF scale path (8 cells, "
    "nprobe=2) against exact brute-force cosine — the (ncells, nprobe) "
    "tuning loop, same family as dedup_lsh_recall; both sides reuse the "
    "production operators, recall is a ratio of exact integers",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import cosine_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    queries = emb.filter(F.col("vec_id") < 5)
    brute = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    ivf = ivf_topk(emb, queries, centroids, k=10, nprobe=2).select(
        "query_id", F.col("vec_id").alias("ivf_id")
    )
    joined = brute.join(
        ivf,
        (brute["query_id"] == ivf["query_id"])
        & (brute["vec_id"] == ivf["ivf_id"]),
        "left",
    ).select(brute["query_id"], "ivf_id")
    return joined.groupBy("query_id").agg(
        F.count("ivf_id").alias("n_hit"),
        F.round(F.count("ivf_id") / 10.0, 4).alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# ann_recall_curve
# ---------------------------------------------------------------------------

_RECALL_SQL = """
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(
                   e.embedding::DOUBLE[], c.cvec), 9) DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.cvec), 9) DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < 5) t
      WHERE rn <= 2),
    ivf AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT p.query_id, a.vec_id,
               CAST(row_number() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_cosine_similarity(
                   q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9)
                 DESC, a.vec_id) AS INT) AS rank
        FROM probes p
        JOIN assign a ON a.cell = p.cell
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id) t
      WHERE rank <= 10),
    bf AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 9)
                 DESC, c.vec_id) AS INT) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 5) t
      WHERE rank <= 10),
    kdim AS (SELECT unnest([1, 5, 10]) AS k),
    qk AS (
      SELECT DISTINCT b.query_id, kdim.k FROM bf b CROSS JOIN kdim),
    hits AS (
      SELECT b.query_id, kd.k, CAST(count(*) AS BIGINT) AS hits
      FROM bf b
      JOIN ivf i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
      CROSS JOIN kdim kd
      WHERE b.rank <= kd.k AND i.rank <= kd.k
      GROUP BY 1, 2)
    SELECT qk.query_id, CAST(qk.k AS INT) AS k,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST(coalesce(h.hits, 0) * 1000 // qk.k AS BIGINT)
             AS recall_milli
    FROM qk LEFT JOIN hits h
      ON qk.query_id = h.query_id AND qk.k = h.k
"""


@register(
    "ann_recall_curve",
    _RECALL_SQL,
    "recall@{1,5,10} of the IVF nprobe=2 search against the "
    "brute-force cosine truth, per query — THE ANN quality metric: an "
    "approximate index trades recall for scan cost, and this curve is "
    "how nprobe / cell count get tuned before anyone trusts the index "
    "(pairs ann_cosine_topk, the truth, with ann_ivf_topk, the scale "
    "path). Both sides reuse the certified rank rules (cosine rounded "
    "to 9, id tiebreak), so hits and recall_milli are exact integers. "
    "Shape: joins two k-bounded rank tables (queries x 10 rows each); "
    "the candidate generation cost lives in the probed ann_* plans, "
    "not here",
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import cosine_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    bf = cosine_topk(emb, queries, k=10).select(
        "query_id", F.col("vec_id").alias("bvec"), F.col("rank").alias("bf_rank")
    )
    ivf = ivf_topk(emb, queries, centroids, k=10, nprobe=2).select(
        F.col("query_id").alias("iq"),
        F.col("vec_id").alias("ivec"),
        F.col("rank").alias("ivf_rank"),
    )
    kdim = F.broadcast(
        spark.createDataFrame([(1,), (5,), (10,)], "k int")
    )
    qk = bf.select("query_id").distinct().crossJoin(kdim)
    hits = (
        bf.join(
            ivf,
            (F.col("query_id") == F.col("iq"))
            & (F.col("bvec") == F.col("ivec")),
        )
        .crossJoin(kdim)
        .filter(
            (F.col("bf_rank") <= F.col("k"))
            & (F.col("ivf_rank") <= F.col("k"))
        )
        .groupBy("query_id", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    return qk.join(hits, ["query_id", "k"], "left").select(
        "query_id",
        F.col("k").cast("int").alias("k"),
        F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
        F.expr(
            "CAST(coalesce(hits, 0) * 1000 div k AS BIGINT)"
        ).alias("recall_milli"),
    )


# ---------------------------------------------------------------------------
# ann_range_search
# ---------------------------------------------------------------------------

_RANGE_SQL = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e', b='c')} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1
    ), probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_COS.format(a='q', b='c')} DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < 5) t
      WHERE rn <= 2
    )
    SELECT p.query_id, a.vec_id,
           round({_COS.format(a='q', b='e')}, 4) AS cosine
    FROM probes p
    JOIN assign a ON a.cell = p.cell
    JOIN embeddings q ON q.vec_id = p.query_id
    JOIN embeddings e ON e.vec_id = a.vec_id
    WHERE a.vec_id <> p.query_id
      AND round({_COS.format(a='q', b='e')}, 9) >= 0.3
"""


@register(
    "ann_range_search",
    _RANGE_SQL,
    "threshold (range) search over the IVF index: every vector in the "
    "query's 2 probed cells with round-9 cosine >= 0.3 — the OTHER "
    "fundamental ANN API next to top-k (ivf_topk answers 'the k "
    "nearest', this answers 'everything at least this similar': "
    "duplicate sweeps, safety-radius checks, score-floored neighbor "
    "joins). Same 8-seed codebook and nprobe=2 as ann_ivf_topk; "
    "recall follows the IVF tradeoff and is fully deterministic, so "
    "the oracle replicates the cell restriction exactly (queries with "
    "no match in range emit no row, identically on both engines). "
    "Shape: strictly CHEAPER than top-k at scale — the threshold is a "
    "map-side predicate after the one cell equi-join, so there is no "
    "per-query rank window and no sort anywhere; the corpus is "
    "scanned once and never shuffled (map-only cell assignment, "
    "broadcast codebook + probe list)",
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import ivf_range_search

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    return ivf_range_search(
        emb, queries, centroids, threshold=0.3, nprobe=2
    )


# ---------------------------------------------------------------------------
# ann_codec_recall
# ---------------------------------------------------------------------------

_CODEC_RECALL_SQL = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
    truth AS MATERIALIZED (
      SELECT query_id, vec_id, rank FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(
                   q.qv, c.embedding::DOUBLE[]), 9) DESC, c.vec_id)
                 AS rank
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id) t
      WHERE rank <= 10),
    dims AS (
      SELECT generate_subscripts(embedding, 1) AS d,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
    st AS (
      SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
      FROM (SELECT d, min(x) AS mn, max(x) AS mx FROM dims GROUP BY d) t),
    sq8r AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1), i ->
               mns[i] + CAST(round(
                 CASE WHEN mxs[i] > mns[i]
                      THEN round((embedding[i]::DOUBLE - mns[i])
                                 / (mxs[i] - mns[i]), 9)
                      ELSE 0.0 END * 255, 0) AS INT) / 255.0
                 * (mxs[i] - mns[i])) AS rv
      FROM embeddings CROSS JOIN st),
    sq8t AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.rv), 9)
                   DESC, c.vec_id) AS rank
        FROM q JOIN sq8r c ON c.vec_id <> q.query_id) t
      WHERE rank <= 10),
    ordered AS (
      SELECT embedding::DOUBLE[] AS sv,
             row_number() OVER (
               ORDER BY md5(concat_ws('|', 'pq-train',
                                      CAST(vec_id AS VARCHAR))),
                        vec_id) - 1 AS sidx
      FROM embeddings),
    seeds AS (SELECT * FROM ordered WHERE sidx < 16),
    codes AS (
      SELECT vec_id, j, sidx AS code FROM (
        SELECT e.vec_id, s.sidx, js.j,
               row_number() OVER (PARTITION BY e.vec_id, js.j ORDER BY
                 round(list_sum(list_transform(range(16), d ->
                   (e.embedding[js.j*16 + d + 1]::DOUBLE
                    - s.sv[js.j*16 + d + 1])
                   * (e.embedding[js.j*16 + d + 1]::DOUBLE
                      - s.sv[js.j*16 + d + 1]))), 9),
                 s.sidx) AS rn
        FROM embeddings e CROSS JOIN seeds s
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) js) t
      WHERE rn = 1),
    pqr AS (
      SELECT c.vec_id,
             flatten(list(list_transform(range(16), d ->
               s.sv[c.j*16 + d + 1]) ORDER BY c.j)) AS rv
      FROM codes c JOIN seeds s ON s.sidx = c.code
      GROUP BY c.vec_id),
    pqt AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.rv), 9)
                   DESC, c.vec_id) AS rank
        FROM q JOIN pqr c ON c.vec_id <> q.query_id) t
      WHERE rank <= 10),
    kdim AS (SELECT unnest([1, 5, 10]) AS k),
    arms AS (
      SELECT 'sq8' AS codec, query_id, vec_id, rank FROM sq8t
      UNION ALL
      SELECT 'pq' AS codec, query_id, vec_id, rank FROM pqt),
    hits AS (
      SELECT a.codec, kd.k, CAST(count(*) AS BIGINT) AS hits
      FROM truth t
      JOIN arms a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
      CROSS JOIN kdim kd
      WHERE t.rank <= kd.k AND a.rank <= kd.k
      GROUP BY 1, 2),
    grid AS (
      SELECT codec, k
      FROM (SELECT unnest(['sq8', 'pq']) AS codec) c CROSS JOIN kdim)
    SELECT g.codec, CAST(g.k AS INT) AS k,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST(coalesce(h.hits, 0) * 1000 // (g.k * 5) AS BIGINT)
             AS recall_milli
    FROM grid g LEFT JOIN hits h ON g.codec = h.codec AND g.k = h.k
"""


@register(
    "ann_codec_recall",
    _CODEC_RECALL_SQL,
    "ANN quantization-loss curve (verdict r10 #4): recall@{1,5,10} of "
    "SQ8 and PQ (m=4, k=16) asymmetric search — raw query against the "
    "RECONSTRUCTED corpus, the standard ADC evaluation — vs the "
    "brute-force cosine truth over the 5-query panel, every arm ranked "
    "by the certified (round-9 DESC, id) tie order. ann_recall_curve "
    "prices the IVF probe approximation; this prices the CODEC "
    "approximation, so the two decompose end-to-end IVF-PQ loss into "
    "its parts. Shape: each codec arm is one map-only reconstruction "
    "(SQ8 stats / PQ codebooks ride the closure) feeding the Arrow "
    "cosine_topk kernel — linear in the corpus per arm; the recall "
    "join is k-bounded rank tables only",
)
def ann_codec_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import (
        cosine_topk,
        pq_encode,
        sq8_quantize,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # 5-row panel: materialize once — each cosine_topk call collects its
    # panel eagerly, so an uncheckpointed filter re-scans the parquet 3x
    panel = emb.filter(F.col("vec_id") < 5).localCheckpoint()
    truth = cosine_topk(emb, panel, k=10).select(
        "query_id",
        F.col("vec_id").alias("tvec"),
        F.col("rank").alias("t_rank"),
    )

    # SQ8 arm: codes -> reconstruction (same stats collect as the codec)
    stats = (
        emb.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d", "x"
            )
        )
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    mns = F.array(*[F.lit(r["mn"]) for r in stats])
    mxs = F.array(*[F.lit(r["mx"]) for r in stats])

    def _recon(c, i):
        mn, mx = F.element_at(mns, i + 1), F.element_at(mxs, i + 1)
        return mn + c.cast("double") / 255 * (mx - mn)

    # pass the stats rows through: sq8_quantize would otherwise re-run
    # the identical posexplode + (d) agg + collect over the full corpus
    sq8_corpus = sq8_quantize(emb, stats=stats).select(
        "vec_id", F.transform(F.col("codes"), _recon).alias("embedding")
    )

    # PQ arm: codes + literal codebooks -> reconstruction
    codes_df, books = pq_encode(emb, m=4, k=16)
    book_lits = [
        F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in b])
        for b in books
    ]
    recon = F.flatten(
        F.array(
            *[
                F.element_at(
                    book_lits[j], F.element_at(F.col("codes"), j + 1) + 1
                )
                for j in range(4)
            ]
        )
    )
    pq_corpus = codes_df.select("vec_id", recon.alias("embedding"))

    kdim = F.broadcast(
        spark.createDataFrame([(1,), (5,), (10,)], "k int")
    )
    cdim = F.broadcast(
        spark.createDataFrame([("sq8",), ("pq",)], "codec string")
    )

    def arm(codec: str, corpus: DataFrame) -> DataFrame:
        return cosine_topk(corpus, panel, k=10).select(
            F.lit(codec).alias("codec"),
            F.col("query_id").alias("aq"),
            F.col("vec_id").alias("avec"),
            F.col("rank").alias("a_rank"),
        )

    arms = arm("sq8", sq8_corpus).unionByName(arm("pq", pq_corpus))
    hits = (
        truth.join(
            arms,
            (F.col("query_id") == F.col("aq"))
            & (F.col("tvec") == F.col("avec")),
        )
        .crossJoin(kdim)
        .filter(
            (F.col("t_rank") <= F.col("k"))
            & (F.col("a_rank") <= F.col("k"))
        )
        .groupBy("codec", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    grid = cdim.crossJoin(kdim)
    return grid.join(hits, ["codec", "k"], "left").select(
        "codec",
        F.col("k").cast("int").alias("k"),
        F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
        F.expr(
            "CAST(coalesce(hits, 0) * 1000 div (k * 5) AS BIGINT)"
        ).alias("recall_milli"),
    )


# ---------------------------------------------------------------------------
# ann_ivf_balance
# ---------------------------------------------------------------------------

_IVF_BALANCE_SQL = """
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cell, cos FROM (
        SELECT e.vec_id, c.cid AS cell,
               round(list_cosine_similarity(
                 e.embedding::DOUBLE[], c.cvec), 9) AS cos,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(
                   e.embedding::DOUBLE[], c.cvec), 9) DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1),
    per AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(cos * 1000000000, 0) AS BIGINT))
               AS BIGINT) AS cos_nano_sum
      FROM assign GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             CAST((SELECT count(*) FROM cent) AS BIGINT) AS ncells
      FROM embeddings)
    SELECT c.cid AS cell,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_vectors,
           CAST(coalesce(p.n, 0) * 1000 // t.total AS BIGINT)
             AS share_milli,
           CAST(coalesce(p.n, 0) * t.ncells * 1000 // t.total AS BIGINT)
             AS load_milli,
           CAST(CASE WHEN coalesce(p.n, 0) = 0 THEN 0
             ELSE p.cos_nano_sum // (p.n * 1000000) END AS BIGINT)
             AS coherence_milli
    FROM cent c LEFT JOIN per p ON c.cid = p.cell CROSS JOIN tot t
"""


@register(
    "ann_ivf_balance",
    _IVF_BALANCE_SQL,
    "IVF cell load report: per cell, member count, corpus share, load "
    "vs uniform (1000 = perfectly balanced; a hot cell reads >1000 and "
    "is the partition a skewed nprobe search serializes on) and cell "
    "coherence — mean round-9 member-to-centroid cosine as an exact "
    "integer (nano-scaled sum // n, so the mean is order- and "
    "partition-independent). ann_ivf_assign emits the assignment; this "
    "is the operational skew+quality summary read before trusting any "
    "nprobe setting — the ANN twin of agg_skew_salted_distinct's "
    "salting decision. Shape: map-only assignment (codebook in the "
    "closure), one |cells|-row hash-agg, broadcast dims",
)
def ann_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.vectors import cosine_similarity
    from jigsaw_spark.operators.similarity import ivf_assign

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cent_rows
    ]
    cent = F.broadcast(
        spark.createDataFrame(
            [(c, v) for c, v in centroids],
            "cell bigint, cvec array<double>",
        )
    )
    assigned = (
        ivf_assign(emb, centroids)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(cent, "cell")
        .select(
            "cell",
            F.round(
                cosine_similarity(
                    F.col("embedding").cast("array<double>"),
                    F.col("cvec"),
                ),
                9,
            ).alias("cos"),
        )
    )
    per = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("cos") * 1000000000, 0).cast("bigint"))
        .cast("bigint")
        .alias("cos_nano_sum"),
    )
    tot = emb.agg(
        F.count(F.lit(1)).cast("bigint").alias("total"),
        F.lit(len(centroids)).cast("bigint").alias("ncells"),
    )
    cells = F.broadcast(
        spark.createDataFrame([(c,) for c, _ in centroids], "cell bigint")
    )
    return (
        cells.join(per, "cell", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "cell",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_vectors"),
            F.expr(
                "CAST(coalesce(n, 0) * 1000 div total AS BIGINT)"
            ).alias("share_milli"),
            F.expr(
                "CAST(coalesce(n, 0) * ncells * 1000 div total"
                " AS BIGINT)"
            ).alias("load_milli"),
            F.expr(
                "CAST(CASE WHEN coalesce(n, 0) = 0 THEN 0"
                " ELSE cos_nano_sum div (n * 1000000) END AS BIGINT)"
            ).alias("coherence_milli"),
        )
    )


# ann_nprobe_tradeoff --------------------------------------------------------

_NPROBES = (1, 2, 4)


def _nprobe_tradeoff_sql() -> str:
    arms = []
    for np_ in _NPROBES:
        arms.append(f"""
    probes_{np_} AS (
      SELECT query_id, cell FROM probes_all WHERE rn <= {np_}),
    cand_{np_} AS (
      SELECT p.query_id, a.vec_id
      FROM probes_{np_} p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    scored_{np_} AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT c.query_id, c.vec_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY round(list_cosine_similarity(
                   q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9)
                 DESC, c.vec_id) AS rank
        FROM cand_{np_} c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings e ON e.vec_id = c.vec_id) t
      WHERE rank <= 10),
    row_{np_} AS (
      SELECT {np_} AS nprobe,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_{np_})
               AS n_scored,
             (SELECT CAST(count(*) AS BIGINT)
              FROM truth t JOIN scored_{np_} s
                ON t.query_id = s.query_id AND t.vec_id = s.vec_id)
               AS hits)""")
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM row_{np_}" for np_ in _NPROBES
    )
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8),
    assign AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(
                   e.embedding::DOUBLE[], c.cvec), 9) DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
    probes_all AS MATERIALIZED (
      SELECT query_id, cell, rn FROM (
        SELECT q.vec_id AS query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.cvec), 9) DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < 5) t),
    truth AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 9)
                 DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 5) t
      WHERE rank <= 10),
    brute AS (
      SELECT CAST(5 * (count(*) - 1) AS BIGINT) AS n_brute
      FROM embeddings),
    {','.join(arms)}
    SELECT CAST(r.nprobe AS INT) AS nprobe,
           r.n_scored, r.hits,
           CAST(r.hits * 1000 // 50 AS BIGINT) AS recall_milli,
           CAST(r.n_scored * 1000 // b.n_brute AS BIGINT)
             AS scan_share_milli
    FROM ({unions}) r CROSS JOIN brute b
"""


@register(
    "ann_nprobe_tradeoff",
    _nprobe_tradeoff_sql(),
    "the IVF Pareto table: for nprobe in {{1,2,4}}, candidates SCORED "
    "(the exact scan-cost ledger — distance computations the index "
    "pays) and recall@10 vs the brute truth over the 5-query panel, "
    "plus the scan share vs brute-force's 5*(N-1). ann_recall_curve "
    "fixes nprobe=2 and sweeps k; ann_codec_recall sweeps the codec; "
    "this sweeps the PROBE axis with quality AND cost in one relation "
    "— the table an index tuner actually reads (recall per scanned "
    "candidate). Shape: ONE shared assignment + probe ranking, three "
    "cell-restricted candidate joins (never the full corpus per arm), "
    "k-bounded rank tables",
)
def ann_nprobe_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import cosine_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    panel = emb.filter(F.col("vec_id") < 5)
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    ]
    truth = cosine_topk(emb, panel, k=10).select(
        "query_id", F.col("vec_id").alias("tvec")
    )
    n_brute = emb.agg(
        (F.lit(5) * (F.count(F.lit(1)) - 1))
        .cast("bigint")
        .alias("n_brute")
    )
    from pyspark.sql.window import Window

    from jigsaw_spark.operators.similarity import _ivf_scored_candidates

    # probe lists nest: ONE prelude at max nprobe with probe_rank
    # carried; each arm is a filter (guide §2.4 — one corpus assignment
    # kernel + cell join instead of one per arm)
    scored_all = _ivf_scored_candidates(
        emb,
        panel,
        centroids,
        max(_NPROBES),
        "vec_id",
        "embedding",
        keep_probe_rank=True,
    ).localCheckpoint()
    # single-window form (r14, guide §2.4): per-arm top-10 rank = a
    # running count of arm members over the ONE total order
    # (round(cos,9) desc, vec_id) — identical to row_number over the
    # filtered arm because candidates are unique per (query, vec) —
    # so one window pass + one aggregate replace the 3 per-arm
    # windows, 3 truth joins and 6 count jobs
    wopen = (
        Window.partitionBy("query_id")
        .orderBy(F.round("cos", 9).desc(), F.col("vec_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tmark = F.broadcast(
        truth.select(
            "query_id",
            F.col("tvec").alias("vec_id"),
            F.lit(1).alias("_t"),
        )
    )
    ranked = scored_all.select(
        "query_id",
        "vec_id",
        "probe_rank",
        *[
            F.sum(F.when(F.col("probe_rank") <= np_, 1).otherwise(0))
            .over(wopen)
            .alias(f"rn{np_}")
            for np_ in _NPROBES
        ],
    )
    row = ranked.join(tmark, ["query_id", "vec_id"], "left").agg(
        *[
            F.sum(F.when(F.col("probe_rank") <= np_, 1).otherwise(0))
            .cast("bigint")
            .alias(f"ns{np_}")
            for np_ in _NPROBES
        ],
        *[
            F.sum(
                F.when(
                    (F.col("probe_rank") <= np_)
                    & (F.col(f"rn{np_}") <= 10)
                    & F.col("_t").isNotNull(),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"h{np_}")
            for np_ in _NPROBES
        ],
    )
    out = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(np_).cast("int").alias("nprobe"),
                        F.col(f"ns{np_}").alias("n_scored"),
                        F.col(f"h{np_}").alias("hits"),
                    )
                    for np_ in _NPROBES
                ]
            )
        ).alias("r")
    ).select("r.nprobe", "r.n_scored", "r.hits")
    return out.crossJoin(F.broadcast(n_brute)).select(
        "nprobe",
        "n_scored",
        "hits",
        F.expr("CAST(hits * 1000 div 50 AS BIGINT)").alias(
            "recall_milli"
        ),
        F.expr(
            "CAST(n_scored * 1000 div n_brute AS BIGINT)"
        ).alias("scan_share_milli"),
    )


# ---------------------------------------------------------------------------
# ann_pareto_frontier
# ---------------------------------------------------------------------------

_FRONTIER_NPROBES = (1, 2, 4)


def _pareto_frontier_sql() -> str:
    arms = []
    rows = []
    for np_ in _FRONTIER_NPROBES:
        arms.append(f"""
    probes_{np_} AS (
      SELECT query_id, cell FROM probes_all WHERE rn <= {np_}),
    cand_{np_} AS MATERIALIZED (
      SELECT p.query_id, a.vec_id
      FROM probes_{np_} p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    nsc_{np_} AS (
      SELECT CAST(count(*) AS BIGINT) AS n_scored FROM cand_{np_})""")
        for codec, corpus in (("raw", "rawr"), ("sq8", "sq8r")):
            arms.append(f"""
    top_{codec}_{np_} AS (
      SELECT query_id, vec_id FROM (
        SELECT c.query_id, c.vec_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, e.rv), 9)
                 DESC, c.vec_id) AS rank
        FROM cand_{np_} c
        JOIN q ON q.query_id = c.query_id
        JOIN {corpus} e ON e.vec_id = c.vec_id) t
      WHERE rank <= 10)""")
            rows.append(f"""
      SELECT '{codec}' AS codec, {np_} AS nprobe,
             (SELECT n_scored FROM nsc_{np_}) AS n_scored,
             (SELECT CAST(count(*) AS BIGINT)
              FROM truth t JOIN top_{codec}_{np_} s
                ON t.query_id = s.query_id AND t.vec_id = s.vec_id)
               AS hits""")
    unions = "\n      UNION ALL\n      ".join(rows)
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 8),
    q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
    assign AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(
                   e.embedding::DOUBLE[], c.cvec), 9) DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
    probes_all AS MATERIALIZED (
      SELECT query_id, cell, rn FROM (
        SELECT q.query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 9)
                 DESC, c.cid) AS rn
        FROM q CROSS JOIN cent c) t),
    truth AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(
                   q.qv, c.embedding::DOUBLE[]), 9) DESC, c.vec_id)
                 AS rank
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id) t
      WHERE rank <= 10),
    rawr AS (
      SELECT vec_id, embedding::DOUBLE[] AS rv FROM embeddings),
    dims AS (
      SELECT generate_subscripts(embedding, 1) AS d,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
    st AS (
      SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
      FROM (SELECT d, min(x) AS mn, max(x) AS mx FROM dims GROUP BY d) t),
    sq8r AS MATERIALIZED (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1), i ->
               mns[i] + CAST(round(
                 CASE WHEN mxs[i] > mns[i]
                      THEN round((embedding[i]::DOUBLE - mns[i])
                                 / (mxs[i] - mns[i]), 9)
                      ELSE 0.0 END * 255, 0) AS INT) / 255.0
                 * (mxs[i] - mns[i])) AS rv
      FROM embeddings CROSS JOIN st),
    brute AS (
      SELECT CAST(5 * (count(*) - 1) AS BIGINT) AS n_brute
      FROM embeddings),
    trc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
    {','.join(arms)}
    SELECT r.codec, CAST(r.nprobe AS INT) AS nprobe,
           r.n_scored, r.hits,
           CAST(r.hits * 1000 // t.n_truth AS BIGINT) AS recall_milli,
           CAST(r.n_scored * 1000 // b.n_brute AS BIGINT)
             AS scan_share_milli,
           CAST(CASE WHEN r.n_scored = 0 THEN 0
             ELSE (r.hits * 1000 // t.n_truth) * 1000
                  // (r.n_scored * 1000 // b.n_brute) END AS BIGINT)
             AS recall_per_scan_milli
    FROM ({unions}) r CROSS JOIN brute b CROSS JOIN trc t
"""


@register(
    "ann_pareto_frontier",
    _pareto_frontier_sql(),
    "the consolidated ANN tuning frontier (verdict r11 #4): recall@10 "
    "AND scan cost per (codec, nprobe) in ONE relation — "
    "ann_nprobe_tradeoff sweeps the probe axis at raw precision, "
    "ann_codec_recall sweeps the codec at full scan; this crosses "
    "them, answering whether quantization loss COMPOUNDS with probe "
    "loss and what a recall point costs in scanned candidates "
    "(recall_per_scan is the Pareto sort key). Asymmetric ADC: raw "
    "query against the codec-reconstructed corpus, candidates from "
    "the RAW coarse assignment (indexes assign on raw at build time). "
    "Shape: ONE shared assignment + probe ranking, one cell-restricted "
    "candidate join per nprobe SHARED by both codecs, k-bounded rank "
    "tables; codebooks/stats ride broadcast closures",
)
def ann_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.vectors import cosine_similarity
    from jigsaw_spark.operators.similarity import (
        _ivf_scored_candidates,
        _to_double,
        cosine_topk,
        sq8_quantize,
    )

    emb = _t(spark, sf_dir, "embeddings")
    panel = emb.filter(F.col("vec_id") < 5)
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    ]
    truth = cosine_topk(emb, panel, k=10).select(
        "query_id", F.col("vec_id").alias("tvec")
    )
    n_brute = emb.agg(
        (F.lit(5) * (F.count(F.lit(1)) - 1))
        .cast("bigint")
        .alias("n_brute")
    )
    # recall denominator derived from the truth relation itself, not a
    # hardcoded 5x10 (advisor r12 #3): if the panel or corpus ever
    # shrinks below k+1 vectors, recall stays exact on both engines
    n_truth = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth")
    )

    # SQ8 reconstruction (the ann_codec_recall recipe: 64-row stats
    # collect -> map-only JVM transform, corpus never shuffled)
    stats = (
        emb.select(
            F.posexplode(
                F.col("embedding").cast("array<double>")
            ).alias("d", "x")
        )
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    mns = F.array(*[F.lit(r["mn"]) for r in stats])
    mxs = F.array(*[F.lit(r["mx"]) for r in stats])

    def _recon(c, i):
        mn, mx = F.element_at(mns, i + 1), F.element_at(mxs, i + 1)
        return mn + c.cast("double") / 255 * (mx - mn)

    sq8r = sq8_quantize(emb).select(
        "vec_id", F.transform(F.col("codes"), _recon).alias("rv")
    )
    rawr = emb.select("vec_id", _to_double("embedding").alias("rv"))

    # probe lists nest (nprobe n = probe_rank <= n of ONE ranking), so
    # the corpus-side assignment kernel and the cell join run ONCE at
    # max nprobe with probe_rank carried; per-nprobe candidate sets are
    # filters, and each codec rescoring joins the corpus once instead
    # of once per nprobe (guide §2.4: 3 preludes + 6 joins → 1 + 2)
    scored_all = _ivf_scored_candidates(
        emb,
        panel,
        centroids,
        max(_FRONTIER_NPROBES),
        "vec_id",
        "embedding",
        keep_probe_rank=True,
    ).localCheckpoint()
    # single-window form (r14, guide §2.4): the per-arm top-10 rank is
    # a RUNNING COUNT of arm members over the one total order
    # (round(cos,9) desc, vec_id) — identical to row_number over the
    # filtered arm because candidate rows are unique per (query, vec)
    # — so ONE window pass per codec replaces the 3 per-arm windows,
    # the truth membership rides as a broadcast-join marker instead of
    # 3 semi-join count jobs, and the 6 hit counts + 3 n_scored counts
    # fold into one aggregate per codec + one over the candidate list
    wopen = (
        Window.partitionBy("query_id")
        .orderBy(F.round("cos", 9).desc(), F.col("vec_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tmark = F.broadcast(
        truth.select(
            "query_id",
            F.col("tvec").alias("vec_id"),
            F.lit(1).alias("_t"),
        )
    )
    n_scored_row = scored_all.agg(
        *[
            F.sum(
                F.when(F.col("probe_rank") <= np_, 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"ns{np_}")
            for np_ in _FRONTIER_NPROBES
        ]
    )
    per_codec = []
    for codec, corpus in (("raw", rawr), ("sq8", sq8r)):
        rescored = (
            scored_all.select("query_id", "qv", "vec_id", "probe_rank")
            .join(corpus, "vec_id")
            .withColumn("cos", cosine_similarity("qv", "rv"))
            .select("query_id", "vec_id", "probe_rank", "cos")
        )
        ranked = rescored.select(
            "query_id",
            "vec_id",
            "probe_rank",
            *[
                F.sum(
                    F.when(F.col("probe_rank") <= np_, 1).otherwise(0)
                )
                .over(wopen)
                .alias(f"rn{np_}")
                for np_ in _FRONTIER_NPROBES
            ],
        )
        hits_row = ranked.join(tmark, ["query_id", "vec_id"], "left").agg(
            *[
                F.sum(
                    F.when(
                        (F.col("probe_rank") <= np_)
                        & (F.col(f"rn{np_}") <= 10)
                        & F.col("_t").isNotNull(),
                        1,
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"h{np_}")
                for np_ in _FRONTIER_NPROBES
            ]
        )
        per_codec.append(
            hits_row.crossJoin(F.broadcast(n_scored_row)).select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(codec).alias("codec"),
                                F.lit(np_).cast("int").alias("nprobe"),
                                F.col(f"ns{np_}").alias("n_scored"),
                                F.col(f"h{np_}").alias("hits"),
                            )
                            for np_ in _FRONTIER_NPROBES
                        ]
                    )
                ).alias("r")
            ).select("r.codec", "r.nprobe", "r.n_scored", "r.hits")
        )
    out = per_codec[0].unionByName(per_codec[1])
    return (
        out.crossJoin(F.broadcast(n_brute))
        .crossJoin(F.broadcast(n_truth))
        .select(
            "codec",
            "nprobe",
            "n_scored",
            "hits",
            F.expr("CAST(hits * 1000 div n_truth AS BIGINT)").alias(
                "recall_milli"
            ),
            F.expr(
                "CAST(n_scored * 1000 div n_brute AS BIGINT)"
            ).alias("scan_share_milli"),
            F.expr(
                "CAST(CASE WHEN n_scored = 0 THEN 0"
                " ELSE (hits * 1000 div n_truth) * 1000"
                " div (n_scored * 1000 div n_brute) END AS BIGINT)"
            ).alias("recall_per_scan_milli"),
        )
    )


# ---------------------------------------------------------------------------
# emb_label_coherence
# ---------------------------------------------------------------------------

_LABEL_COHERENCE_SQL = """
    WITH m AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             list_transform(embedding, x ->
               CAST(round(x::DOUBLE * 1000000, 0) AS BIGINT)) AS vm
      FROM embeddings),
    comp AS (
      SELECT label, generate_subscripts(vm, 1) AS d, unnest(vm) AS x
      FROM m),
    cent AS MATERIALIZED (
      SELECT label AS clabel, list(s ORDER BY d) AS cvec
      FROM (SELECT label, d, CAST(sum(x) AS DOUBLE) AS s
            FROM comp GROUP BY label, d) t
      GROUP BY label),
    cc AS MATERIALIZED (
      SELECT m.label, c.clabel,
             CAST(round(round(list_cosine_similarity(m.v, c.cvec), 9)
               * 1000000000, 0) AS BIGINT) AS nano
      FROM m CROSS JOIN cent c),
    per AS (
      SELECT label, clabel, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(nano) AS BIGINT) AS nano_sum
      FROM cc GROUP BY 1, 2),
    own AS (
      SELECT label, n,
             CAST(nano_sum // (n * 1000000) AS BIGINT)
               AS coherence_milli
      FROM per WHERE label = clabel),
    oth AS (
      SELECT label, clabel,
             CAST(nano_sum // (n * 1000000) AS BIGINT) AS o_milli,
             row_number() OVER (PARTITION BY label
               ORDER BY nano_sum // (n * 1000000) DESC, clabel) AS rk
      FROM per WHERE label <> clabel)
    SELECT CAST(o.label AS INT) AS label,
           o.n AS n_vectors,
           o.coherence_milli,
           CAST(t.clabel AS INT) AS best_other,
           t.o_milli AS best_other_milli,
           CAST(o.coherence_milli - t.o_milli AS BIGINT)
             AS margin_milli
    FROM own o JOIN oth t ON o.label = t.label AND t.rk = 1
"""


@register(
    "emb_label_coherence",
    _LABEL_COHERENCE_SQL,
    "label separability audit over the embedding space: per "
    "ground-truth label, the mean member-to-own-centroid cosine "
    "(integer nano sums, one trunc division — the ann_ivf_balance "
    "coherence recipe pointed at LABELS instead of learned IVF "
    "cells), the most confusable OTHER label with its mean cosine, "
    "and the margin. A label whose members sit closer to another "
    "label's centroid than their own cannot be learned from these "
    "embeddings — the audit run before `label` becomes a training "
    "target. Centroids are integer-micro component SUMS (cosine is "
    "scale-invariant; integer sums are exact and order-independent "
    "where float means are not — sums stay < 2^53 per shard at any "
    "realistic members-per-label; shard-and-rescale beyond). Shape: "
    "one posexplode hash-agg to a |labels|x64 centroid dim broadcast "
    "back over the corpus (|labels| fan-out), a (label, label) "
    "bounded rollup, rank window over the <=|labels| dim",
)
def emb_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.vectors import cosine_similarity
    from jigsaw_spark.operators.similarity import _to_double

    emb = _t(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id",
        "label",
        _to_double("embedding").alias("v"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000, 0).cast(
                "bigint"
            ),
        ).alias("vm"),
    )
    comp = m.select("label", F.posexplode("vm").alias("d", "x"))
    cent = (
        comp.groupBy("label", "d")
        .agg(F.sum("x").cast("double").alias("s"))
        .groupBy(F.col("label").alias("clabel"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("d"), F.col("s")))
                ),
                lambda st: st["s"],
            ).alias("cvec")
        )
    )
    cc = (
        m.crossJoin(F.broadcast(cent))
        .withColumn(
            "nano",
            F.round(
                F.round(cosine_similarity("v", "cvec"), 9)
                * 1000000000,
                0,
            ).cast("bigint"),
        )
        .select("label", "clabel", "nano")
    )
    per = cc.groupBy("label", "clabel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("nano").cast("bigint").alias("nano_sum"),
    )
    own = per.filter(F.col("label") == F.col("clabel")).select(
        "label",
        F.col("n").alias("n_vectors"),
        F.expr("CAST(nano_sum div (n * 1000000) AS BIGINT)").alias(
            "coherence_milli"
        ),
    )
    w = Window.partitionBy("label").orderBy(
        F.expr("nano_sum div (n * 1000000)").desc(), F.col("clabel")
    )
    oth = (
        per.filter(F.col("label") != F.col("clabel"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "label",
            F.col("clabel").cast("int").alias("best_other"),
            F.expr(
                "CAST(nano_sum div (n * 1000000) AS BIGINT)"
            ).alias("best_other_milli"),
        )
    )
    return own.join(oth, "label").select(
        F.col("label").cast("int").alias("label"),
        "n_vectors",
        "coherence_milli",
        "best_other",
        "best_other_milli",
        (F.col("coherence_milli") - F.col("best_other_milli"))
        .cast("bigint")
        .alias("margin_milli"),
    )


# ---------------------------------------------------------------------------
# ann_recall_under_dedup
# ---------------------------------------------------------------------------


def _recall_under_dedup_sql() -> str:
    return f"""
    WITH RECURSIVE {_KEEPER_EDGES_CTE},
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u),
    keeper_of AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keeper
      FROM fpt),
    clust AS MATERIALIZED (
      SELECT k.doc_id, coalesce(c.component, k.keeper) AS cluster
      FROM keeper_of k LEFT JOIN comp c ON k.keeper = c.doc_id),
    surv AS MATERIALIZED (
      SELECT doc_id FROM clust WHERE doc_id = cluster),
    q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
    truth AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(
                   q.qv, c.embedding::DOUBLE[]), 9) DESC, c.vec_id)
                 AS rank
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id) t
      WHERE rank <= 10),
    after AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(
                   q.qv, c.embedding::DOUBLE[]), 9) DESC, c.vec_id)
                 AS rank
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id
        JOIN surv s ON c.vec_id = s.doc_id) t
      WHERE rank <= 10),
    tl AS (
      SELECT t.query_id, t.vec_id,
             s.doc_id IS NOT NULL AS kept, cl.cluster AS rep
      FROM truth t
      LEFT JOIN surv s ON t.vec_id = s.doc_id
      JOIN clust cl ON t.vec_id = cl.doc_id),
    rh AS (
      SELECT DISTINCT tl.query_id, tl.vec_id
      FROM tl JOIN after a
        ON a.query_id = tl.query_id AND a.vec_id = tl.rep
      WHERE NOT tl.kept)
    SELECT CAST(tl.query_id AS BIGINT) AS query_id,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN tl.kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN tl.kept THEN 0 ELSE 1 END) AS BIGINT)
             AS n_lost,
           CAST(sum(CASE WHEN NOT tl.kept AND r.vec_id IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_rep,
           CAST(sum(CASE WHEN tl.kept THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS recall_milli,
           CAST((sum(CASE WHEN tl.kept THEN 1 ELSE 0 END)
             + sum(CASE WHEN NOT tl.kept AND r.vec_id IS NOT NULL
               THEN 1 ELSE 0 END)) * 1000 // count(*) AS BIGINT)
             AS rep_recall_milli
    FROM tl LEFT JOIN rh r
      ON tl.query_id = r.query_id AND tl.vec_id = r.vec_id
    GROUP BY tl.query_id
"""


@register(
    "ann_recall_under_dedup",
    _recall_under_dedup_sql(),
    "retrieval under keeper collapse — does dedup hurt search: for "
    "the 5-query eval panel, the brute-force cosine top-10 over the "
    "FULL corpus (truth) vs the top-10 over the SURVIVOR corpus "
    "(docs equal to their near-dup cluster id, the p_leakage_safe_"
    "split keeper convention on the vec_id==doc_id identity). "
    "Reports per query: truth neighbors kept, lost, and lost-but-"
    "REPRESENTED (the lost neighbor's cluster keeper ranks in the "
    "collapsed top-10) — rep_recall above recall is the cluster-"
    "representative argument that keeper collapse preserves "
    "retrieval semantics even as it drops vectors. Shape: the keeper "
    "machinery's banded pairs + components, two Arrow top-k corpus "
    "scans with the 5-row broadcast panel, hash joins on the "
    "k-bounded rank tables",
)
def ann_recall_under_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_frames,
    )
    from jigsaw_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # one exact-dedup pass shared by the keeper fold and the pair graph
    ded, kpairs = keeper_frames(docs, "doc_id")
    keeper_of = ded.select("doc_id", "keeper")
    comp = connected_components(
        kpairs.localCheckpoint()
    ).select(
        F.col("doc_id").alias("keeper"),
        F.col("component").alias("c0"),
    )
    clust = (
        keeper_of.join(comp, "keeper", "left")
        .select(
            "doc_id",
            F.coalesce("c0", F.col("keeper")).alias("cluster"),
        )
        .localCheckpoint()
    )
    surv = clust.filter(F.col("doc_id") == F.col("cluster")).select(
        F.col("doc_id").alias("vec_id")
    )
    panel = emb.filter(F.col("vec_id") < 5)
    truth = cosine_topk(emb, panel, k=10).select(
        "query_id", "vec_id"
    )
    after = (
        cosine_topk(emb.join(surv, "vec_id", "left_semi"), panel, k=10)
        .select(
            F.col("query_id").alias("aq"),
            F.col("vec_id").alias("av"),
        )
        .localCheckpoint()
    )
    tl = (
        truth.join(
            surv.withColumn("s", F.lit(1)), "vec_id", "left"
        )
        .join(
            clust.select(
                F.col("doc_id").alias("vec_id"),
                F.col("cluster").alias("rep"),
            ),
            "vec_id",
        )
        .select(
            "query_id",
            "vec_id",
            F.col("s").isNotNull().alias("kept"),
            "rep",
        )
    )
    rh = (
        tl.filter(~F.col("kept"))
        .join(
            after,
            (tl["query_id"] == after["aq"])
            & (tl["rep"] == after["av"]),
            "left_semi",
        )
        .select("query_id", "vec_id")
        .distinct()
        .withColumn("rhit", F.lit(1))
    )
    return (
        tl.join(rh, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_lost"),
            F.sum(
                F.when(
                    ~F.col("kept") & F.col("rhit").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_lost_rep"),
        )
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            "n_truth",
            "n_kept",
            "n_lost",
            "n_lost_rep",
            F.expr(
                "CAST(n_kept * 1000 div n_truth AS BIGINT)"
            ).alias("recall_milli"),
            F.expr(
                "CAST((n_kept + n_lost_rep) * 1000 div n_truth"
                " AS BIGINT)"
            ).alias("rep_recall_milli"),
        )
    )
