"""Model and evaluation queries (``ml_*``, ``mine_*``): trainers,
classification and ranking metrics, calibration, drift.

Metrics run their cumulative windows over the distinct-score dim (the
``ml_auc_exact`` discipline), bounded by the value domain, never by facts.
Squared and product sums accumulate in DECIMAL(38,0): bigint would wrap at
about 1e6 rows times a 1e12 term. Log loss rounds each term to integer
nano-nats before summing, so equal double inputs give equal integers and
the sum is order-free; a raw float sum over unbounded rows would drift past
any snap.

``ml_ks_statistic`` is the classifier-separation KS; ``dq_ks_2sample`` runs
the same statistic as a drift screen and reports no attaining threshold.
The retrieval metrics grade the fixed-panel candidate stage of
eval_panel.py; at scale the candidate generator swaps to ``ivf_topk`` with
the evaluation arithmetic unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.plans.agg import _BOOT_B, _POIS_CDF, _pois_case_sql
from jigsaw_spark.plans.eval_panel import PANEL_TOPK_CTE
from jigsaw_spark.plans.registry import QUERIES, _TDIV, _t, register
from jigsaw_spark.plans.rel import _exact_rank


# DEREGISTERED (r6, verdict #6): float-centroid twin of the driver-green
# `ml_kmeans_exact` (integer-quantized Lloyd, exact DuckDB oracle). The
# float demo could only ever produce a permanent `no_oracle` err row in
# the correctness gate, and the capability it exercises (kmeans_lloyd,
# operators/similarity.py) is covered by the exact variant + unit tests.
# Kept as a library entry point for API callers.
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.vectors import l2_norm
    from jigsaw_spark.operators.similarity import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_lloyd(emb, k=8, iters=3)
    cent_df = spark.createDataFrame(
        [(c, v) for c, v in centroids], "cell long, centroid array<double>"
    )
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    return (
        sizes.join(cent_df, "cell")
        .select("cell", "n", F.round(l2_norm("centroid"), 6).alias("c_norm"))
        .orderBy("cell")
    )


# DEREGISTERED (r6, verdict #6): float-GD twin whose trainer
# (operators/ml.logreg_train) is numpy-parity-tested in
# tests/test_r4_ops.py; as a registered query it could only produce a
# permanent `no_oracle` err row. Kept as a library entry point.
def ml_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.ml import logreg_train

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "y", (F.col("label") >= 2).cast("int")
    )
    w, b, history = logreg_train(
        emb, "y", "embedding", n_iters=5, lr=0.5, l2=0.01
    )
    rows = [(-1, float(b))] + [(d, float(x)) for d, x in enumerate(w)]
    return spark.createDataFrame(rows, "dim int, weight double")


@register(
    "ml_hash_features",
    None,  # filled below after import to keep the SQL twin adjacent
    "feature hashing (hashing trick): md5-stream index+sign per "
    "col=value token, pure map-side JVM transform — no vocabulary "
    "table, no shuffle, unbounded categorical domains. The ±1-sum "
    "vector is emitted as an int CSV string (values are exact signed "
    "counts): the driver's pandas canonicalizer cannot sort array "
    "columns (r2 ERR).",
)
def ml_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.ml import hash_features

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return hash_features(docs, ["lang", "source"], dims=16).select(
        "doc_id",
        F.array_join(
            F.transform(F.col("features"), lambda x: x.cast("int")), ","
        ).alias("features_csv"),
    )


def _install_hash_features_oracle() -> None:
    from jigsaw_spark.operators.ml import hash_features_sql

    QUERIES["ml_hash_features"].oracle = f"""
    SELECT doc_id,
           array_to_string(
             list_transform({hash_features_sql(['lang', 'source'], dims=16)},
                            x -> x::INT),
             ',') AS features_csv
    FROM documents
    """


_install_hash_features_oracle()


@register(
    "mine_assoc_pairs",
    """
    WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    sup AS (SELECT event_type, count(*) AS s FROM b GROUP BY event_type),
    pair AS (
      SELECT a.event_type AS lhs, c.event_type AS rhs, count(*) AS s_ab
      FROM b a JOIN b c ON a.user_id = c.user_id
                       AND a.event_type < c.event_type
      GROUP BY 1, 2)
    SELECT lhs, rhs, s_ab,
           round(CAST(s_ab AS DOUBLE) / n_users, 6) AS support,
           round(CAST(s_ab AS DOUBLE) / sa.s, 6) AS confidence,
           round(CAST(s_ab AS DOUBLE) * n_users / (sa.s * sb.s), 6) AS lift
    FROM pair
    JOIN sup sa ON sa.event_type = lhs
    JOIN sup sb ON sb.event_type = rhs
    CROSS JOIN n
    """,
    "market-basket pair mining (frequent itemsets k=2): baskets = "
    "distinct (user, type) — ONE dedup agg, a basket-keyed self-join "
    "bounded by basket size (|types| small), support/confidence/lift "
    "from broadcast 1-row total + item-support dims",
)
def mine_assoc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    b = events.select("user_id", "event_type").distinct()
    n_users = b.select("user_id").distinct().count()
    sup = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("s"))
    a, c = b.alias("a"), b.alias("c")
    pair = (
        a.join(
            c,
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("a.event_type") < F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("lhs"),
            F.col("c.event_type").alias("rhs"),
        )
        .agg(F.count(F.lit(1)).alias("s_ab"))
    )
    sa = F.broadcast(sup.select(F.col("event_type").alias("lhs"), F.col("s").alias("sa")))
    sb = F.broadcast(sup.select(F.col("event_type").alias("rhs"), F.col("s").alias("sb")))
    return (
        pair.join(sa, "lhs")
        .join(sb, "rhs")
        .select(
            "lhs",
            "rhs",
            "s_ab",
            F.round(F.col("s_ab").cast("double") / n_users, 6).alias("support"),
            F.round(F.col("s_ab").cast("double") / F.col("sa"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("s_ab").cast("double") * n_users
                / (F.col("sa") * F.col("sb")),
                6,
            ).alias("lift"),
        )
    )


# DEREGISTERED (r6, verdict #6): float twin of the driver-green
# `ml_pca_pc1_exact` (n²-scaled integer covariance power method with an
# exact DuckDB oracle); numpy eigendecomposition parity stays in
# tests/test_r4_ops.py. Kept as a library entry point.
def ml_pca_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.ml import power_iteration_pc1

    # deterministic 10% subset: the leading direction of a large cloud is
    # stable under subsampling (the standard sketch for PCA at scale),
    # and the query's job is the operator's plan shape, not a full fit
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    v, lam = power_iteration_pc1(emb, n_iters=6)
    rows = [(-1, float(lam))] + [(d, float(x)) for d, x in enumerate(v)]
    return spark.createDataFrame(rows, "dim int, component double")


# fixed linear scorer: exact rational weights, deterministic on both
# engines (products/sums run in identical array order)
_CAL_DIMS = 64

_CAL_W = [((i * 7) % 13 - 6) / 10.0 for i in range(_CAL_DIMS)]


@register(
    "ml_calibration_bins",
    f"""
    WITH w AS (SELECT {_CAL_W} ::DOUBLE[] AS wv),
    scored AS (
      SELECT CASE WHEN label >= 2 THEN 1 ELSE 0 END AS y,
             1.0 / (1.0 + exp(-list_sum(list_transform(
               range(1, {_CAL_DIMS} + 1),
               i -> embedding[i]::DOUBLE * wv[i])))) AS p
      FROM embeddings CROSS JOIN w),
    binned AS (
      SELECT y,
             CAST(least(floor(round(p, 9) * 10), 9) AS BIGINT) AS bin,
             CAST(round(round(p, 9) * 1000000) AS BIGINT) AS p_micro
      FROM scored)
    SELECT bin,
           count(*) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(sum(p_micro) / (1000000.0 * count(*)), 4) AS mean_p,
           round(sum(y) / CAST(count(*) AS DOUBLE), 4) AS frac_pos
    FROM binned GROUP BY bin
    """,
    "reliability-diagram calibration bins for a fixed linear scorer "
    "over embeddings (the model-ops check downstream of ml_logreg): "
    "sigmoid score snapped via round(.,9) before binning AND before "
    "micro-unit conversion, so bin membership and mean_p are exact-"
    "integer derived — no float boundary can move a row between bins; "
    "one map-only projection + ONE 10-row hash agg",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    wv = F.array(*[F.lit(x) for x in _CAL_W])
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            wv,
            lambda x, w: x * w,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    p = F.round(1.0 / (1.0 + F.exp(-dot)), 9)
    scored = emb.select(
        (F.col("label") >= 2).cast("int").alias("y"),
        F.least(F.floor(p * 10), F.lit(9)).cast("bigint").alias("bin"),
        F.round(p * 1000000).cast("bigint").alias("p_micro"),
    )
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.round(
            F.sum("p_micro") / (F.lit(1000000.0) * F.count(F.lit(1))), 4
        ).alias("mean_p"),
        F.round(
            F.sum("y") / F.count(F.lit(1)).cast("double"), 4
        ).alias("frac_pos"),
    )


_PCA_D = 64

_PCA_ITERS = 10


def _pca_exact_sql() -> str:
    """Replay the integer PC1 power iteration as SQL: covariance from one
    scan, then _PCA_ITERS unrolled CTE stages over the d-squared matrix.
    Every step is truncated-integer arithmetic, so this reproduces the
    operator's Python-int fixpoint bit-for-bit."""
    head = f"""
    WITH ex AS MATERIALIZED (
      SELECT vec_id, d,
             CAST(round(embedding[d + 1]::DOUBLE * 1000000) AS BIGINT) AS xq
      FROM embeddings, LATERAL (SELECT unnest(range({_PCA_D})) AS d) dd),
    nn AS (SELECT count(*) AS n FROM embeddings),
    sv AS (SELECT d, sum(xq) AS s FROM ex GROUP BY d),
    pv AS MATERIALIZED (
      SELECT a.d AS i, b.d AS j, sum(CAST(a.xq AS HUGEINT) * b.xq) AS p
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
    cm AS MATERIALIZED (
      SELECT i, j,
             CASE WHEN cp >= 0 THEN cp // (n * n)
                  ELSE -((-cp) // (n * n)) END AS c
      FROM (SELECT p.i, p.j,
                   CAST(nn.n AS HUGEINT) * p.p
                     - CAST(sa.s AS HUGEINT) * sb.s AS cp,
                   nn.n AS n
            FROM pv p
            JOIN sv sa ON p.i = sa.d
            JOIN sv sb ON p.j = sb.d
            CROSS JOIN nn)),
    v0 AS (SELECT unnest(range({_PCA_D})) AS j,
                  CAST(1000000 AS HUGEINT) AS v)"""
    iters = []
    for k in range(1, _PCA_ITERS + 1):
        iters.append(f"""
    w{k} AS MATERIALIZED (
      SELECT c.i AS j, sum(c.c * v.v) AS w
      FROM cm c JOIN v{k - 1} v ON c.j = v.j GROUP BY c.i),
    m{k} AS MATERIALIZED (SELECT greatest(max(abs(w)), 1) AS m FROM w{k}),
    v{k} AS MATERIALIZED (
      SELECT j, CASE WHEN w >= 0 THEN (w * 1000000) // m
                     ELSE -(((-w) * 1000000) // m) END AS v
      FROM w{k} CROSS JOIN m{k})""")
    tail = f"""
    , vk AS (SELECT v AS kv FROM v{_PCA_ITERS}
             ORDER BY abs(v) DESC, j LIMIT 1)
    SELECT CAST(f.j AS INT) AS dim,
           CAST(CASE WHEN vk.kv < 0 THEN -f.v ELSE f.v END AS BIGINT)
             AS pc1_micro
    FROM v{_PCA_ITERS} f CROSS JOIN vk"""
    return head + "," + ",".join(iters) + tail


@register(
    "ml_pca_pc1_exact",
    _pca_exact_sql(),
    "leading principal component with the power iteration DEFINED in "
    "truncated-integer arithmetic (micro-unit coordinates, n^2-scaled "
    "integer covariance, per-round max-component renormalization by "
    "truncated division): the fixpoint trajectory is bit-identical "
    "across engines — the second iterative algorithm upgraded from "
    "rows-only to EXACT-oracle (after graph_pagerank_exact). Scale win "
    "over the float variant: ONE corpus scan total (not one per "
    "iteration); the d^2 covariance is KB-scale driver metadata (the "
    "codebook pattern) and the O(d^2 x iters) fixpoint runs on exact "
    "Python ints",
)
def ml_pca_pc1_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.ml import pca_pc1_exact

    emb = _t(spark, sf_dir, "embeddings")
    rows = pca_pc1_exact(emb, "embedding", n_iters=_PCA_ITERS)
    return spark.createDataFrame(rows, "dim int, pc1_micro long")


_KM_K = 8

_KM_ITERS = 5


def _kmeans_exact_sql() -> str:
    """Replay the exact-integer Lloyd trajectory as SQL: md5-ordered
    seeds, then _KM_ITERS unrolled (assign -> update) CTE stage pairs.
    MATERIALIZED throughout — DuckDB would otherwise re-inline the whole
    upstream chain at every stage."""
    head = f"""
    WITH ex AS MATERIALIZED (
      SELECT vec_id, d,
             CAST(round(embedding[d + 1]::DOUBLE * 1000000) AS BIGINT) AS xq
      FROM embeddings, LATERAL (SELECT unnest(range(64)) AS d) dd),
    seeds AS MATERIALIZED (
      SELECT vec_id,
             row_number() OVER (
               ORDER BY md5(concat_ws('|', 'kmeans-exact-init',
                                      CAST(vec_id AS VARCHAR))), vec_id)
               - 1 AS cid
      FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT s.cid, e.d, e.xq AS cq
      FROM seeds s JOIN ex e USING (vec_id) WHERE s.cid < {_KM_K})"""
    iters = []
    for t in range(1, _KM_ITERS + 1):
        iters.append(f"""
    dist{t} AS MATERIALIZED (
      SELECT e.vec_id, c.cid,
             sum((e.xq - c.cq) * (e.xq - c.cq)) AS dist
      FROM ex e JOIN c{t - 1} c ON e.d = c.d
      GROUP BY 1, 2),
    asg{t} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM dist{t}) WHERE rn = 1),
    agg{t} AS MATERIALIZED (
      SELECT a.cid, e.d, sum(e.xq) AS s, count(*) AS n
      FROM asg{t} a JOIN ex e USING (vec_id)
      GROUP BY 1, 2),
    c{t} AS MATERIALIZED (
      SELECT p.cid, p.d,
             CASE WHEN g.n IS NULL THEN p.cq
                  WHEN g.s >= 0 THEN g.s // g.n
                  ELSE -((-g.s) // g.n) END AS cq
      FROM c{t - 1} p
      LEFT JOIN agg{t} g ON p.cid = g.cid AND p.d = g.d)""")
    tail = f"""
    , sizes AS MATERIALIZED (
      SELECT cid, count(*) AS n FROM asg{_KM_ITERS} GROUP BY cid)
    SELECT c.cid, CAST(c.d AS INT) AS dim,
           CAST(c.cq AS BIGINT) AS c_micro,
           CAST(coalesce(z.n, 0) AS BIGINT) AS cluster_n
    FROM c{_KM_ITERS} c LEFT JOIN sizes z USING (cid)"""
    return head + "," + ",".join(iters) + tail


@register(
    "ml_kmeans_exact",
    _kmeans_exact_sql(),
    "Euclidean Lloyd k-means (k=8, 5 rounds) with the whole trajectory "
    "in exact integer arithmetic: micro-unit coordinates, integer "
    "squared-distance argmin with (dist, cid) tie-break, truncated-"
    "division centroid updates — bit-identical assignments/codebook "
    "across engines and partitionings (the float kmeans_lloyd is only "
    "fixed-partitioning-stable), replayed by 5 unrolled SQL stage "
    "pairs. The third iterative algorithm upgraded to EXACT-oracle. "
    "Quantized corpus localCheckpoints once; per round a map-only "
    "Arrow argmin kernel (codebook in the task closure, JVM plan "
    "identical across rounds -> one codegen compile) + ONE (cid,dim) "
    "agg",
)
def ml_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.similarity import kmeans_lloyd_exact

    emb = _t(spark, sf_dir, "embeddings")
    _assigned, triples, sizes = kmeans_lloyd_exact(
        emb, k=_KM_K, iters=_KM_ITERS
    )
    rows = [
        (cid, d, cq, sizes.get(cid, 0)) for cid, d, cq in triples
    ]
    return spark.createDataFrame(
        rows, "cid int, dim int, c_micro long, cluster_n long"
    )


# ---------------------------------------------------------------------------
# ml_auc_exact
# ---------------------------------------------------------------------------

_AUC_SQL = """
    WITH s AS (
      SELECT n_chars AS score,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS c0
      FROM documents GROUP BY n_chars),
    p AS (
      SELECT c1, c0,
             coalesce(sum(c0) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c0_below
      FROM s),
    t AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
             CAST(sum(c0) AS BIGINT) AS n_neg,
             sum(CAST(2 * c0_below * c1 + c0 * c1 AS DECIMAL(38,0)))
               AS num
      FROM p)
    SELECT n_pos, n_neg,
           round(CAST(num AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)),
                 6) AS auc
    FROM t
"""


@register(
    "ml_auc_exact",
    _AUC_SQL,
    "exact ROC AUC (Mann-Whitney with half-credit ties) of score "
    "n_chars against label lang='en' — computed on the GROUP-BY-SCORE "
    "contingency table, so the only ordered walk is a prefix sum over "
    "the distinct-score aggregate (bounded by the value domain, never "
    "the corpus): corpus -> ONE hash agg -> |scores|-row window -> ONE "
    "final agg; numerator carried in decimal(38,0) so 1e9-row classes "
    "cannot wrap int64",
)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("c0"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    p = s.select(
        "c1",
        "c0",
        F.coalesce(F.sum("c0").over(w), F.lit(0)).alias("c0_below"),
    )
    t = p.agg(
        F.sum("c1").cast("bigint").alias("n_pos"),
        F.sum("c0").cast("bigint").alias("n_neg"),
        F.sum(
            (2 * F.col("c0_below") * F.col("c1") + F.col("c0") * F.col("c1"))
            .cast("decimal(38,0)")
        ).alias("num"),
    )
    return t.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("num").cast("double")
            / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# ml_best_split
# ---------------------------------------------------------------------------

_SPLIT_SQL = """
    WITH v AS (
      SELECT p_size AS x,
             sum(CASE WHEN p_retailprice > 1500 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN p_retailprice > 1500 THEN 0 ELSE 1 END) AS c0
      FROM part GROUP BY p_size),
    pre AS (
      SELECT x,
             sum(c1) OVER (ORDER BY x) AS l1,
             sum(c0) OVER (ORDER BY x) AS l0,
             sum(c1) OVER () AS t1,
             sum(c0) OVER () AS t0
      FROM v),
    cand AS (
      SELECT x AS threshold, l0, l1, (t0 - l0) AS r0, (t1 - l1) AS r1,
             round(round(
               (CAST((l0 + l1) * (l0 + l1) - l0 * l0 - l1 * l1 AS DOUBLE)
                  / (l0 + l1)
                + CAST((t0 - l0 + t1 - l1) * (t0 - l0 + t1 - l1)
                       - (t0 - l0) * (t0 - l0) - (t1 - l1) * (t1 - l1)
                       AS DOUBLE)
                  / (t0 - l0 + t1 - l1))
               / (t0 + t1), 9), 6) AS gini
      FROM pre
      WHERE (t0 - l0) + (t1 - l1) > 0),
    best AS (
      SELECT threshold, gini,
             CAST(l0 AS BIGINT) AS left_neg, CAST(l1 AS BIGINT) AS left_pos,
             CAST(r0 AS BIGINT) AS right_neg, CAST(r1 AS BIGINT) AS right_pos,
             row_number() OVER (ORDER BY gini, threshold) AS rn
      FROM cand)
    SELECT CAST(threshold AS INT) AS threshold, gini,
           left_neg, left_pos, right_neg, right_pos
    FROM best WHERE rn = 1
"""


@register(
    "ml_best_split",
    _SPLIT_SQL,
    "exact best binary split (decision stump): weighted Gini impurity "
    "of 'p_size <= t' against label p_retailprice>1500, evaluated for "
    "every candidate threshold via prefix sums over the DISTINCT-VALUE "
    "aggregate (|domain| rows, never the fact table) — the inner loop "
    "of a distributed tree learner. Impurity computed from exact "
    "integer counts through one shared expression, double-round "
    "snapped (9 then 6) so the argmin is engine-stable; ties break on "
    "the smaller threshold",
)
def ml_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    v = part.groupBy(F.col("p_size").alias("x")).agg(
        F.sum(F.when(F.col("p_retailprice") > 1500, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("p_retailprice") > 1500, 0).otherwise(1)).alias("c0"),
    )
    wo = Window.orderBy("x")
    wt = Window.partitionBy()
    pre = v.select(
        "x",
        F.sum("c1").over(wo).alias("l1"),
        F.sum("c0").over(wo).alias("l0"),
        F.sum("c1").over(wt).alias("t1"),
        F.sum("c0").over(wt).alias("t0"),
    )
    l0, l1 = F.col("l0"), F.col("l1")
    r0, r1 = F.col("t0") - l0, F.col("t1") - l1
    gini = F.round(
        F.round(
            (
                ((l0 + l1) * (l0 + l1) - l0 * l0 - l1 * l1).cast("double")
                / (l0 + l1)
                + ((r0 + r1) * (r0 + r1) - r0 * r0 - r1 * r1).cast("double")
                / (r0 + r1)
            )
            / (F.col("t0") + F.col("t1")),
            9,
        ),
        6,
    )
    cand = pre.filter(r0 + r1 > 0).select(
        F.col("x").alias("threshold"),
        l0.alias("l0"),
        l1.alias("l1"),
        r0.alias("r0"),
        r1.alias("r1"),
        gini.alias("gini"),
    )
    best = cand.withColumn(
        "rn", F.row_number().over(Window.orderBy("gini", "threshold"))
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("threshold").cast("int").alias("threshold"),
        "gini",
        F.col("l0").cast("bigint").alias("left_neg"),
        F.col("l1").cast("bigint").alias("left_pos"),
        F.col("r0").cast("bigint").alias("right_neg"),
        F.col("r1").cast("bigint").alias("right_pos"),
    )


# ---------------------------------------------------------------------------
# ml_nbayes_classify — fit on even doc_ids, classify odd doc_ids
# ---------------------------------------------------------------------------

_NB_B = 4096


def _nb_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (
      SELECT doc_id, CAST(lang = 'en' AS INT) AS is_en,
             {tokens_sql('text')} AS t
      FROM documents),
    grams AS (
      SELECT doc_id, is_en, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT doc_id, is_en, t[i] || ' ' || t[i+1] AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
      WHERE len(t) >= 2),
    bucketed AS (
      SELECT doc_id, is_en,
             ('0x' || substr(md5(gram), 1, 12))::UBIGINT % {_NB_B} AS bucket
      FROM grams),
    fit AS MATERIALIZED (
      SELECT bucket,
             sum(CASE WHEN is_en = 1 THEN 1 ELSE 0 END) AS ce,
             sum(CASE WHEN is_en = 1 THEN 0 ELSE 1 END) AS co
      FROM bucketed WHERE doc_id % 2 = 0 GROUP BY bucket),
    tot AS MATERIALIZED (
      SELECT sum(ce) AS te, sum(co) AS tco,
             (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
              FROM documents WHERE doc_id % 2 = 0) AS ne,
             (SELECT sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
              FROM documents WHERE doc_id % 2 = 0) AS no
      FROM fit),
    llr AS MATERIALIZED (
      SELECT f.bucket,
             CAST(round((ln((f.ce + 1.0) / (t.te + {_NB_B}))
                       - ln((f.co + 1.0) / (t.tco + {_NB_B}))) * 1e6)
                  AS BIGINT) AS llr_micro
      FROM fit f CROSS JOIN tot t),
    sc AS (
      SELECT doc_id, bucket FROM bucketed WHERE doc_id % 2 = 1),
    per_doc AS (
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(coalesce(l.llr_micro, 0)) AS BIGINT) AS feat_micro
      FROM sc s LEFT JOIN llr l ON s.bucket = l.bucket
      GROUP BY s.doc_id)
    SELECT p.doc_id, p.n_grams,
           CAST(p.feat_micro
                + CAST(round((ln(t.ne + 1.0) - ln(t.no + 1.0)) * 1e6)
                       AS BIGINT) AS BIGINT) AS score_micro,
           CASE WHEN p.feat_micro
                     + CAST(round((ln(t.ne + 1.0) - ln(t.no + 1.0)) * 1e6)
                            AS BIGINT) > 0
                THEN 'en' ELSE 'other' END AS pred
    FROM per_doc p CROSS JOIN tot t
    """


@register(
    "ml_nbayes_classify",
    _nb_sql(),
    "multinomial Naive Bayes (the classic quality/domain classifier "
    "for data curation): FIT class-conditional hashed-gram likelihoods "
    "+ priors on even docs, CLASSIFY odd docs by log-likelihood-ratio "
    "sign. Per-bucket LLR and the prior snap to integer micro-units "
    "(one libm pair per BUCKET / one for the prior — the DSIR "
    "discipline), so per-doc scores are exact integer sums and the "
    "argmax is an integer sign test. Shape: ONE gram explode + hash "
    "agg to fit the 4096-row dim, broadcast-joined back — no second "
    "corpus scan, linear at any scale; OOV buckets contribute 0",
)
def ml_nbayes_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.samples import dsir_gram_buckets

    docs = _t(spark, sf_dir, "documents")
    # materialized ONCE: the fit half and the scoring half both consume
    # the gram-bucket explode, and their different downstream keys mean
    # no exchange is shared — uncheckpointed, the full explode ran twice
    # (r13; the rows are narrow (doc_id, bucket, is_en) ints, so the
    # checkpoint is cheap relative to a second corpus tokenize+explode)
    buckets = dsir_gram_buckets(docs, "doc_id", buckets=_NB_B).join(
        docs.select(
            "doc_id", (F.col("lang") == "en").cast("int").alias("is_en")
        ),
        "doc_id",
    ).localCheckpoint()
    fit = buckets.filter(F.col("doc_id") % 2 == 0).groupBy("bucket").agg(
        F.sum(F.when(F.col("is_en") == 1, 1).otherwise(0)).alias("ce"),
        F.sum(F.when(F.col("is_en") == 1, 0).otherwise(1)).alias("co"),
    )
    priors = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ne"),
            F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("no"),
        )
    )
    tot = fit.agg(
        F.sum("ce").alias("te"), F.sum("co").alias("tco")
    ).crossJoin(priors)
    llr = fit.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("ce") + 1.0) / (F.col("te") + _NB_B))
                - F.log((F.col("co") + 1.0) / (F.col("tco") + _NB_B))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("llr_micro"),
    )
    per_doc = (
        buckets.filter(F.col("doc_id") % 2 == 1)
        .join(F.broadcast(llr), "bucket", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("llr_micro", F.lit(0)))
            .cast("bigint")
            .alias("feat_micro"),
        )
    )
    prior_micro = (
        F.round((F.log(F.col("ne") + 1.0) - F.log(F.col("no") + 1.0)) * 1e6)
        .cast("bigint")
    )
    return per_doc.crossJoin(F.broadcast(priors)).select(
        "doc_id",
        "n_grams",
        (F.col("feat_micro") + prior_micro).cast("bigint").alias("score_micro"),
        F.when(F.col("feat_micro") + prior_micro > 0, "en")
        .otherwise("other")
        .alias("pred"),
    )


# ---------------------------------------------------------------------------
# ml_linreg_by_group
# ---------------------------------------------------------------------------

_OLS_SQL = """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2),
    rel AS (
      SELECT event_type,
             day_id - min(day_id) OVER (PARTITION BY event_type) AS x,
             y
      FROM daily),
    m AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
      FROM rel GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6)
             AS slope_per_day,
           round((CAST(sy AS DOUBLE) / n
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * (CAST(sx AS DOUBLE) / n)) / 100.0, 4) AS intercept,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM m
"""


@register(
    "ml_linreg_by_group",
    _OLS_SQL,
    "per-group closed-form OLS trend (slope $/day, intercept, r^2) of "
    "daily revenue vs day index — the grouped regression primitive "
    "behind every 'trend per segment' report. Moments are exact "
    "decimal(38,0) sums of integer (day-index, cents) pairs (x "
    "re-based per group so products stay small), finals are one shared "
    "double expression rounded once — bit-identical across engines. "
    "Corpus -> ONE (type, day) hash agg -> ONE moment agg per group",
)
def ml_linreg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        ),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("y"))
    rel = daily.select(
        "event_type",
        (
            F.col("day_id")
            - F.min("day_id").over(Window.partitionBy("event_type"))
        ).alias("x"),
        "y",
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = rel.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("x"))).alias("sx"),
        F.sum(d(F.col("y"))).alias("sy"),
        F.sum(d(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(d(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(d(F.col("y")) * d(F.col("y"))).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov = (n * sxy - sx * sy).cast("double")
    varx = (n * sxx - sx * sx).cast("double")
    vary = (n * syy - sy * sy).cast("double")
    slope = cov / varx
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        F.round(slope / 100.0, 6).alias("slope_per_day"),
        F.round(
            (sy.cast("double") / n - slope * (sx.cast("double") / n)) / 100.0,
            4,
        ).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# ml_confusion_metrics
# ---------------------------------------------------------------------------


def _confusion_sql() -> str:
    return f"""
    WITH nb AS ({_nb_sql()}),
    j AS (
      SELECT nb.pred = 'en' AS p, d.lang = 'en' AS t
      FROM nb JOIN documents d ON nb.doc_id = d.doc_id),
    cm AS (
      SELECT
        CAST(sum(CASE WHEN p AND t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN p AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN NOT p AND t THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN NOT p AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
          AS tn
      FROM j),
    pr AS (
      SELECT tp, fp, fn, tn,
             CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp)
                  ELSE 0 END AS precision_micro,
             CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn)
                  ELSE 0 END AS recall_micro,
             (tp + tn) * 1000000 // (tp + fp + fn + tn) AS accuracy_micro
      FROM cm)
    SELECT tp, fp, fn, tn,
           CAST(precision_micro AS BIGINT) AS precision_micro,
           CAST(recall_micro AS BIGINT) AS recall_micro,
           CAST(CASE WHEN precision_micro + recall_micro > 0
                     THEN 2 * precision_micro * recall_micro
                          // (precision_micro + recall_micro)
                     ELSE 0 END AS BIGINT) AS f1_micro,
           CAST(accuracy_micro AS BIGINT) AS accuracy_micro
    FROM pr
"""


@register(
    "ml_confusion_metrics",
    _confusion_sql(),
    "classifier evaluation report for the Naive Bayes domain gate: "
    "confusion matrix (TP/FP/FN/TN) vs ground-truth language labels "
    "on the held-out odd half, with precision/recall/F1/accuracy as "
    "EXACT floor-division micro-units (F1 is the harmonic mean of the "
    "micro-unit P and R — integer in, integer out, zero-denominator "
    "guarded). The eval every curation classifier ships with. Shape: "
    "the classifier's per-doc output joins truth on doc_id, ONE "
    "4-counter agg; the report is a 1-row frame",
)
def ml_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    nb = ml_nbayes_classify(spark, sf_dir).select("doc_id", "pred")
    j = nb.join(docs.select("doc_id", "lang"), "doc_id").select(
        (F.col("pred") == "en").alias("p"), (F.col("lang") == "en").alias("t")
    )
    cm = j.agg(
        F.sum(F.when(F.col("p") & F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("p") & ~F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~F.col("p") & F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~F.col("p") & ~F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    pr = cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "CASE WHEN tp + fp > 0 THEN tp * 1000000 div (tp + fp)"
            " ELSE 0 END"
        ).alias("precision_micro"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN tp * 1000000 div (tp + fn)"
            " ELSE 0 END"
        ).alias("recall_micro"),
        F.expr("(tp + tn) * 1000000 div (tp + fp + fn + tn)").alias(
            "accuracy_micro"
        ),
    )
    return pr.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.col("precision_micro").cast("bigint").alias("precision_micro"),
        F.col("recall_micro").cast("bigint").alias("recall_micro"),
        F.expr(
            "CAST(CASE WHEN precision_micro + recall_micro > 0"
            " THEN 2 * precision_micro * recall_micro"
            " div (precision_micro + recall_micro)"
            " ELSE 0 END AS BIGINT)"
        ).alias("f1_micro"),
        F.col("accuracy_micro").cast("bigint").alias("accuracy_micro"),
    )


# ---------------------------------------------------------------------------
# ml_knn_classify
# ---------------------------------------------------------------------------

_KNN_K = 15

_KNN_NQ = 10

_KNN_SQL = f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS v
      FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS true_label, v AS qv
          FROM e WHERE vec_id < {_KNN_NQ}),
    c AS (SELECT vec_id AS cid, label, v AS cv
          FROM e WHERE vec_id >= {_KNN_NQ}),
    d AS (
      SELECT q.qid, q.true_label, c.cid, c.label,
             list_sum(list_transform(list_zip(q.qv, c.cv),
                      s -> (s[1] - s[2]) * (s[1] - s[2]))) AS l2
      FROM q CROSS JOIN c),
    topk AS (
      SELECT qid, true_label, label,
             row_number() OVER (PARTITION BY qid ORDER BY l2, cid) AS rn
      FROM d),
    votes AS (
      SELECT qid, true_label, label, count(*) AS n_votes
      FROM topk WHERE rn <= {_KNN_K} GROUP BY 1, 2, 3),
    best AS (
      SELECT qid, true_label, label, n_votes,
             row_number() OVER (PARTITION BY qid
                                ORDER BY n_votes DESC, label) AS vr
      FROM votes)
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(true_label AS INT) AS true_label,
           CAST(label AS INT) AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM best WHERE vr = 1
"""


@register(
    "ml_knn_classify",
    _KNN_SQL,
    "k-NN majority-vote classification (k=15) over the embeddings "
    "table: components quantize to micro-unit integers so squared L2 "
    "distances are EXACT int64 (dim 64 x (4e6)^2 ~ 1e15 < 2^63) — the "
    "neighbor ranking (l2, cid) and the vote (count desc, label) are "
    "total orders, bit-deterministic on any cluster, no float "
    "accumulation anywhere. Shape: the 10-row query set broadcasts "
    "against the candidate corpus (map-only distance kernel), per-"
    "query top-k is a qid-partitioned rank window; votes are a "
    "|Q|xk-row agg. The exact-integer twin of the float cosine ANN "
    "suite (ann_cosine_topk etc.)",
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x ->"
            " CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("v"),
    )
    q = e.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
    )
    c = e.filter(F.col("vec_id") >= _KNN_NQ).select(
        F.col("vec_id").alias("cid"),
        "label",
        F.col("v").alias("cv"),
    )
    d = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "true_label",
        "cid",
        "label",
        F.expr(
            "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("l2"),
    )
    topk = d.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("qid").orderBy("l2", "cid")),
    ).filter(F.col("rn") <= _KNN_K)
    votes = topk.groupBy("qid", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    best = votes.withColumn(
        "vr",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("n_votes"), "label")
        ),
    ).filter(F.col("vr") == 1)
    return best.select(
        F.col("qid").cast("bigint").alias("query_id"),
        F.col("true_label").cast("int").alias("true_label"),
        F.col("label").cast("int").alias("pred_label"),
        F.col("n_votes").cast("bigint").alias("n_votes"),
    )


# ---------------------------------------------------------------------------
# ml_tree_depth2
# ---------------------------------------------------------------------------

_TREE_SQL = """
    WITH pts AS (
      SELECT p_size AS f1, length(p_name) AS f2,
             CASE WHEN p_retailprice > 1500 THEN 1 ELSE 0 END AS y
      FROM part),
    v1 AS (
      SELECT f1, sum(y) AS c1, count(*) - sum(y) AS c0
      FROM pts GROUP BY f1),
    p1 AS (
      SELECT f1,
             sum(c1) OVER w AS l1, sum(c0) OVER w AS l0,
             sum(c1) OVER () AS t1, sum(c0) OVER () AS t0
      FROM v1 WINDOW w AS (ORDER BY f1)),
    cand1 AS (
      SELECT f1 AS t_root,
             least(l0, l1) + least(t0 - l0, t1 - l1) AS err
      FROM p1 WHERE (t0 - l0) + (t1 - l1) > 0),
    root AS MATERIALIZED (
      SELECT t_root FROM (
        SELECT t_root,
               row_number() OVER (ORDER BY err, t_root) AS rn
        FROM cand1) z
      WHERE rn = 1),
    sided AS (
      SELECT CASE WHEN pts.f1 <= root.t_root THEN 'L' ELSE 'R' END AS side,
             f2, y
      FROM pts CROSS JOIN root),
    v2 AS (
      SELECT side, f2, sum(y) AS c1, count(*) - sum(y) AS c0
      FROM sided GROUP BY 1, 2),
    p2 AS (
      SELECT side, f2,
             sum(c1) OVER w AS l1, sum(c0) OVER w AS l0,
             sum(c1) OVER (PARTITION BY side) AS t1,
             sum(c0) OVER (PARTITION BY side) AS t0
      FROM v2 WINDOW w AS (PARTITION BY side ORDER BY f2)),
    cand2 AS (
      SELECT side, f2 AS t_child,
             least(l0, l1) + least(t0 - l0, t1 - l1) AS err,
             l0, l1, t0 - l0 AS r0, t1 - l1 AS r1
      FROM p2 WHERE (t0 - l0) + (t1 - l1) > 0),
    best2 AS (
      SELECT side, t_child, err, l0, l1, r0, r1,
             row_number() OVER (PARTITION BY side
                                ORDER BY err, t_child) AS rn
      FROM cand2)
    SELECT b.side, CAST(r.t_root AS INT) AS root_threshold,
           CAST(b.t_child AS INT) AS child_threshold,
           CAST(b.err AS BIGINT) AS misclass,
           CAST(b.l0 AS BIGINT) AS ll_neg, CAST(b.l1 AS BIGINT) AS ll_pos,
           CAST(b.r0 AS BIGINT) AS lr_neg, CAST(b.r1 AS BIGINT) AS lr_pos
    FROM best2 b CROSS JOIN root r WHERE b.rn = 1
"""


@register(
    "ml_tree_depth2",
    _TREE_SQL,
    "exact depth-2 decision tree: best root split on p_size, then "
    "best per-child split on length(p_name), under the "
    "MISCLASSIFICATION impurity err = min(l0,l1) + min(r0,r1) — an "
    "ALL-INTEGER criterion (no float gini), so every argmin is an "
    "integer comparison with (err, threshold) tie-break. Each level "
    "is the ml_best_split shape: one distinct-value hash agg + prefix "
    "windows over the |domain| dim (the root's global window spans "
    "~50 distinct sizes; child windows partition by side) — the fact "
    "table is scanned twice total, the distributed tree-learner "
    "recursion pattern",
)
def ml_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_size").alias("f1"),
        F.length("p_name").alias("f2"),
        F.when(F.col("p_retailprice") > 1500, 1).otherwise(0).alias("y"),
    )
    v1 = pts.groupBy("f1").agg(
        F.sum("y").alias("c1"),
        (F.count(F.lit(1)) - F.sum("y")).alias("c0"),
    )
    wo = Window.orderBy("f1").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    p1 = v1.select(
        "f1",
        F.sum("c1").over(wo).alias("l1"),
        F.sum("c0").over(wo).alias("l0"),
        F.sum("c1").over(wt).alias("t1"),
        F.sum("c0").over(wt).alias("t0"),
    )
    err1 = F.least(F.col("l0"), F.col("l1")) + F.least(
        F.col("t0") - F.col("l0"), F.col("t1") - F.col("l1")
    )
    cand1 = p1.filter(
        (F.col("t0") - F.col("l0")) + (F.col("t1") - F.col("l1")) > 0
    ).select(F.col("f1").alias("t_root"), err1.alias("err"))
    root = (
        cand1.withColumn(
            "rn", F.row_number().over(Window.orderBy("err", "t_root"))
        )
        .filter(F.col("rn") == 1)
        .select("t_root")
    )
    sided = pts.crossJoin(F.broadcast(root)).select(
        F.when(F.col("f1") <= F.col("t_root"), "L")
        .otherwise("R")
        .alias("side"),
        "f2",
        "y",
    )
    v2 = sided.groupBy("side", "f2").agg(
        F.sum("y").alias("c1"),
        (F.count(F.lit(1)) - F.sum("y")).alias("c0"),
    )
    w2 = (
        Window.partitionBy("side")
        .orderBy("f2")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w2t = Window.partitionBy("side")
    p2 = v2.select(
        "side",
        "f2",
        F.sum("c1").over(w2).alias("l1"),
        F.sum("c0").over(w2).alias("l0"),
        F.sum("c1").over(w2t).alias("t1"),
        F.sum("c0").over(w2t).alias("t0"),
    )
    cand2 = p2.filter(
        (F.col("t0") - F.col("l0")) + (F.col("t1") - F.col("l1")) > 0
    ).select(
        "side",
        F.col("f2").alias("t_child"),
        (
            F.least(F.col("l0"), F.col("l1"))
            + F.least(
                F.col("t0") - F.col("l0"), F.col("t1") - F.col("l1")
            )
        ).alias("err"),
        "l0",
        "l1",
        (F.col("t0") - F.col("l0")).alias("r0"),
        (F.col("t1") - F.col("l1")).alias("r1"),
    )
    best2 = cand2.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("side").orderBy("err", "t_child")
        ),
    ).filter(F.col("rn") == 1)
    return best2.crossJoin(F.broadcast(root)).select(
        "side",
        F.col("t_root").cast("int").alias("root_threshold"),
        F.col("t_child").cast("int").alias("child_threshold"),
        F.col("err").cast("bigint").alias("misclass"),
        F.col("l0").cast("bigint").alias("ll_neg"),
        F.col("l1").cast("bigint").alias("ll_pos"),
        F.col("r0").cast("bigint").alias("lr_neg"),
        F.col("r1").cast("bigint").alias("lr_pos"),
    )


# ---------------------------------------------------------------------------
# ml_ols_2feature
# ---------------------------------------------------------------------------

_OLS2_SQL = f"""
    WITH pts AS (
      SELECT l_returnflag AS grp,
             CAST(round(l_quantity, 0) AS BIGINT) AS x1,
             CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
      FROM lineitem),
    anchors AS MATERIALIZED (
      SELECT grp, count(*) AS n,
             CAST(sum(x1) AS BIGINT) // count(*) AS m1,
             CAST(sum(x2) AS BIGINT) // count(*) AS m2,
             CAST(sum(y) AS BIGINT) // count(*) AS my
      FROM pts GROUP BY grp),
    c AS (
      SELECT p.grp, a.n, a.m1, a.m2, a.my,
             p.x1 - a.m1 AS u, p.x2 - a.m2 AS v, p.y - a.my AS d
      FROM pts p JOIN anchors a ON p.grp = a.grp),
    m AS (
      SELECT grp, any_value(n) AS n,
             any_value(m1) AS m1, any_value(m2) AS m2,
             any_value(my) AS my,
             CAST(sum(u * u) AS HUGEINT) AS suu,
             CAST(sum(v * v) AS HUGEINT) AS svv,
             CAST(sum(u * v) AS HUGEINT) AS suv,
             CAST(sum(u * d) AS HUGEINT) AS suy,
             CAST(sum(v * d) AS HUGEINT) AS svy
      FROM c GROUP BY grp),
    sol AS (
      SELECT grp, n, m1, m2, my,
             suu * svv - suv * suv AS det,
             (suy * svv - svy * suv) * 1000000 AS n1,
             (svy * suu - suy * suv) * 1000000 AS n2
      FROM m)
    SELECT grp AS l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN det > 0
                     THEN {_TDIV.format(x='n1', d='det')}
                     ELSE 0 END AS BIGINT) AS b1_micro,
           CAST(CASE WHEN det > 0
                     THEN {_TDIV.format(x='n2', d='det')}
                     ELSE 0 END AS BIGINT) AS b2_micro,
           CAST(my * 1000000
                - CASE WHEN det > 0
                       THEN {_TDIV.format(x='n1', d='det')} ELSE 0 END * m1
                - CASE WHEN det > 0
                       THEN {_TDIV.format(x='n2', d='det')} ELSE 0 END * m2
                AS BIGINT) AS b0_micro
    FROM sol
"""


@register(
    "ml_ols_2feature",
    _OLS2_SQL,
    "per-group TWO-feature closed-form OLS (price-cents ~ quantity + "
    "discount-pct per return flag) via the 2x2 normal equations on "
    "ANCHOR-CENTERED integers: group means snap to integers by floor "
    "division, centered moments accumulate in decimal(38,0)/HUGEINT "
    "(exact, order-independent), and coefficients are Cramer-rule "
    "ratios emitted as truncated-division micro-units — the tdiv "
    "discipline, so Spark div and the DuckDB CASE form agree on "
    "negatives. Degenerate groups (det<=0) emit 0. ONE moment agg per "
    "group after one fact scan — the multivariate extension of "
    "ml_linreg_by_group",
)
def ml_ols_2feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round("l_quantity", 0).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )
    anchors = pts.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(sum(x1) AS BIGINT) div count(*)").alias("m1"),
        F.expr("CAST(sum(x2) AS BIGINT) div count(*)").alias("m2"),
        F.expr("CAST(sum(y) AS BIGINT) div count(*)").alias("my"),
    )
    c = pts.join(F.broadcast(anchors), "grp").select(
        "grp",
        "n",
        "m1",
        "m2",
        "my",
        (F.col("x1") - F.col("m1")).alias("u"),
        (F.col("x2") - F.col("m2")).alias("v"),
        (F.col("y") - F.col("my")).alias("d"),
    )
    dec = "decimal(38,0)"
    m = c.groupBy("grp").agg(
        F.first("n").alias("n"),
        F.first("m1").alias("m1"),
        F.first("m2").alias("m2"),
        F.first("my").alias("my"),
        F.sum((F.col("u") * F.col("u")).cast(dec)).alias("suu"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).alias("svv"),
        F.sum((F.col("u") * F.col("v")).cast(dec)).alias("suv"),
        F.sum((F.col("u") * F.col("d")).cast(dec)).alias("suy"),
        F.sum((F.col("v") * F.col("d")).cast(dec)).alias("svy"),
    )
    sol = m.select(
        "grp",
        "n",
        "m1",
        "m2",
        "my",
        (F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv")).alias(
            "det"
        ),
        (
            (F.col("suy") * F.col("svv") - F.col("svy") * F.col("suv"))
            * F.lit(1000000).cast(dec)
        ).alias("n1"),
        (
            (F.col("svy") * F.col("suu") - F.col("suy") * F.col("suv"))
            * F.lit(1000000).cast(dec)
        ).alias("n2"),
    )
    b1 = F.expr("CASE WHEN det > 0 THEN n1 div det ELSE 0 END")
    b2 = F.expr("CASE WHEN det > 0 THEN n2 div det ELSE 0 END")
    return sol.select(
        F.col("grp").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n"),
        b1.cast("bigint").alias("b1_micro"),
        b2.cast("bigint").alias("b2_micro"),
        (
            F.col("my") * 1000000
            - b1.cast("bigint") * F.col("m1")
            - b2.cast("bigint") * F.col("m2")
        )
        .cast("bigint")
        .alias("b0_micro"),
    )


# ---------------------------------------------------------------------------
# ml_target_encode_loo
# ---------------------------------------------------------------------------

_TE_M = 10  # additive-smoothing pseudo-count

_TE_SQL = f"""
    WITH pts AS (
      SELECT p_partkey, p_brand AS cat,
             CASE WHEN p_retailprice > 1500 THEN 1 ELSE 0 END AS y
      FROM part),
    g AS (SELECT cat, count(*) AS nc, sum(y) AS sc FROM pts GROUP BY cat),
    pri AS (
      SELECT CAST(sum(y) AS BIGINT) * 1000000 // count(*) AS prior_micro
      FROM pts)
    SELECT p.p_partkey, p.cat, CAST(p.y AS INT) AS y,
           CAST(((g.sc - p.y) * 1000000 + {_TE_M} * pri.prior_micro)
                // (g.nc - 1 + {_TE_M}) AS BIGINT) AS enc_micro
    FROM pts p
    JOIN g ON p.cat = g.cat
    CROSS JOIN pri
"""


@register(
    "ml_target_encode_loo",
    _TE_SQL,
    "leave-one-out target encoding with additive smoothing (m=10) of "
    "the brand category against the price>1500 label — the "
    "tabular-ML category encoder, LOO so a row never sees its own "
    "label (the leakage guard) and smoothed toward the global prior "
    "for rare categories. EXACT integer micro-units throughout "
    "(numerators are non-negative so floor division is engine-"
    "stable). Shape: one category agg broadcast back + a 1-row prior "
    "scalar — one fact scan, map-only encode",
)
def ml_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.col("p_brand").alias("cat"),
        F.when(F.col("p_retailprice") > 1500, 1).otherwise(0).alias("y"),
    )
    g = pts.groupBy("cat").agg(
        F.count(F.lit(1)).alias("nc"), F.sum("y").alias("sc")
    )
    pri = pts.agg(
        F.expr(
            "CAST(sum(y) AS BIGINT) * 1000000 div count(*)"
        ).alias("prior_micro")
    )
    return (
        pts.join(F.broadcast(g), "cat")
        .crossJoin(F.broadcast(pri))
        .select(
            "p_partkey",
            "cat",
            F.col("y").cast("int").alias("y"),
            F.expr(
                f"CAST(((sc - y) * 1000000 + {_TE_M} * prior_micro)"
                f" div (nc - 1 + {_TE_M}) AS BIGINT)"
            ).alias("enc_micro"),
        )
    )


# ---------------------------------------------------------------------------
# ml_pr_curve
# ---------------------------------------------------------------------------


def _pr_sql() -> str:
    return f"""
    WITH nb AS ({_nb_sql()}),
    scored AS (
      SELECT nb.score_micro AS s, CAST(d.lang = 'en' AS INT) AS pos
      FROM nb JOIN documents d ON nb.doc_id = d.doc_id),
    g AS (
      SELECT s, sum(pos) AS np, count(*) - sum(pos) AS nn
      FROM scored GROUP BY s),
    cum AS (
      SELECT s,
             sum(np) OVER (ORDER BY s DESC) AS tp,
             sum(nn) OVER (ORDER BY s DESC) AS fp,
             sum(np) OVER () AS p
      FROM g)
    SELECT CAST(s AS BIGINT) AS threshold_micro,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_micro,
           CAST(tp * 1000000 // p AS BIGINT) AS recall_micro
    FROM cum
"""


@register(
    "ml_pr_curve",
    _pr_sql(),
    "precision-recall curve of the Naive Bayes gate at every distinct "
    "score threshold: cumulative tp/fp prefix sums over the "
    "score-DESC distinct-value dim, precision/recall as exact "
    "floor-division micro-units — the threshold-tuning companion to "
    "ml_auc_exact (same contingency discipline, per-point output, no "
    "cross-row float sums). The global windows run on the bounded "
    "distinct-score dim, the ml_auc_exact precedent; tp+fp >= 1 at "
    "every emitted threshold by construction",
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    nb = ml_nbayes_classify(spark, sf_dir).select(
        "doc_id", F.col("score_micro").alias("s")
    )
    scored = nb.join(docs.select("doc_id", "lang"), "doc_id").select(
        "s", (F.col("lang") == "en").cast("int").alias("pos")
    )
    g = scored.groupBy("s").agg(
        F.sum("pos").alias("np"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("nn"),
    )
    wd = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = g.select(
        "s",
        F.sum("np").over(wd).alias("tp"),
        F.sum("nn").over(wd).alias("fp"),
        F.sum("np").over(Window.partitionBy()).alias("p"),
    )
    return cum.select(
        F.col("s").cast("bigint").alias("threshold_micro"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.expr("CAST(tp * 1000000 div (tp + fp) AS BIGINT)").alias(
            "precision_micro"
        ),
        F.expr("CAST(tp * 1000000 div p AS BIGINT)").alias("recall_micro"),
    )


# ---------------------------------------------------------------------------
# ml_boost_2rounds
# ---------------------------------------------------------------------------

def _round_sql(feat: str, target: str, rnd: int, src: str) -> str:
    """One boosting round: best-SSE stump on `feat` over `target`."""
    return f"""
    v{rnd} AS (
      SELECT {feat} AS x, count(*) AS n,
             sum(CAST({target} AS DECIMAL(38,0))) AS s
      FROM {src} GROUP BY {feat}),
    p{rnd} AS (
      SELECT x,
             sum(n) OVER w AS ln_, sum(s) OVER w AS ls,
             sum(n) OVER () AS tn, sum(s) OVER () AS ts_
      FROM v{rnd} WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
    cand{rnd} AS (
      SELECT x AS threshold, ln_, tn,
             CAST(ls AS BIGINT) AS lsb,
             CAST(ts_ AS BIGINT) AS tsb,
             round(round(
               CAST(ls AS DOUBLE) * CAST(ls AS DOUBLE) / ln_
               + (CAST(ts_ AS DOUBLE) - CAST(ls AS DOUBLE))
                 * (CAST(ts_ AS DOUBLE) - CAST(ls AS DOUBLE)) / (tn - ln_)
               - CAST(ts_ AS DOUBLE) * CAST(ts_ AS DOUBLE) / tn, 6), 2)
               AS gain
      FROM p{rnd} WHERE ln_ < tn),
    best{rnd} AS MATERIALIZED (
      SELECT threshold, gain,
             CAST(ln_ AS BIGINT) AS left_n,
             CAST(tn - ln_ AS BIGINT) AS right_n,
             CAST({_TDIV.format(x='lsb', d='ln_')} AS BIGINT) AS left_value,
             CAST({_TDIV.format(x='(tsb - lsb)', d='(tn - ln_)')} AS BIGINT)
               AS right_value
      FROM (SELECT *, row_number() OVER (ORDER BY gain DESC, threshold)
                      AS rn
            FROM cand{rnd}) z
      WHERE rn = 1)"""


def _boost_sql() -> str:
    return f"""
    WITH pts AS (
      SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
             CAST(round(l_discount * 100, 0) AS BIGINT) AS dpct,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
      FROM lineitem),
    {_round_sql('q', 'y', 1, 'pts')},
    resid AS (
      SELECT pts.dpct,
             pts.y - CASE WHEN pts.q <= b.threshold
                          THEN b.left_value ELSE b.right_value END AS r
      FROM pts CROSS JOIN best1 b),
    {_round_sql('dpct', 'r', 2, 'resid')}
    SELECT 1 AS boost_round, CAST(threshold AS BIGINT) AS threshold,
           left_n, right_n, left_value, right_value, gain
    FROM best1
    UNION ALL
    SELECT 2, CAST(threshold AS BIGINT), left_n, right_n,
           left_value, right_value, gain
    FROM best2
"""


@register(
    "ml_boost_2rounds",
    _boost_sql(),
    "two rounds of gradient boosting with stump weak learners — the "
    "GBDT inner loop: round 1 fits the best SSE split on quantity "
    "(gain from exact decimal(38,0) prefix sums over the distinct-"
    "value dim, double-round snapped, argmax tie-broken on the "
    "smaller threshold — the ts_best_changepoint discipline), leaf "
    "values are FLOOR-DIVIDED integer means, so round-2 residuals "
    "are exact integers; round 2 repeats on discount over the "
    "residuals (negative sums use the tdiv CASE on the oracle side). "
    "Shape per round: one distinct-value hash agg + prefix windows "
    "over the ~50-row dim, then a 1-row split broadcast back — two "
    "fact scans total",
)
def ml_boost_2rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round("l_quantity", 0).cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("dpct"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )

    def best_split(df, feat: str, target: str):
        v = df.groupBy(F.col(feat).alias("x")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(target).cast("decimal(38,0)")).alias("s"),
        )
        wo = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        wt = Window.partitionBy()
        p = v.select(
            "x",
            F.sum("n").over(wo).alias("ln_"),
            F.sum("s").over(wo).alias("ls"),
            F.sum("n").over(wt).alias("tn"),
            F.sum("s").over(wt).alias("ts_"),
        )
        ls, ts_ = F.col("ls").cast("double"), F.col("ts_").cast("double")
        ln_, tn = F.col("ln_"), F.col("tn")
        gain = F.round(
            F.round(
                ls * ls / ln_
                + (ts_ - ls) * (ts_ - ls) / (tn - ln_)
                - ts_ * ts_ / tn,
                6,
            ),
            2,
        )
        cand = p.filter(ln_ < tn).select(
            F.col("x").alias("threshold"),
            "ln_",
            "tn",
            F.col("ls").cast("bigint").alias("lsb"),
            F.col("ts_").cast("bigint").alias("tsb"),
            gain.alias("gain"),
        )
        return (
            cand.withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(F.desc("gain"), "threshold")
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                "threshold",
                "gain",
                F.col("ln_").cast("bigint").alias("left_n"),
                (F.col("tn") - F.col("ln_")).cast("bigint").alias("right_n"),
                F.expr("CAST(lsb div ln_ AS BIGINT)").alias("left_value"),
                F.expr(
                    "CAST((tsb - lsb) div (tn - ln_) AS BIGINT)"
                ).alias("right_value"),
            )
        )

    b1 = best_split(pts, "q", "y")
    resid = pts.crossJoin(F.broadcast(b1)).select(
        "dpct",
        (
            F.col("y")
            - F.when(
                F.col("q") <= F.col("threshold"), F.col("left_value")
            ).otherwise(F.col("right_value"))
        ).alias("r"),
    )
    b2 = best_split(resid, "dpct", "r")
    out1 = b1.select(
        F.lit(1).alias("boost_round"),
        F.col("threshold").cast("bigint").alias("threshold"),
        "left_n",
        "right_n",
        "left_value",
        "right_value",
        "gain",
    )
    out2 = b2.select(
        F.lit(2).alias("boost_round"),
        F.col("threshold").cast("bigint").alias("threshold"),
        "left_n",
        "right_n",
        "left_value",
        "right_value",
        "gain",
    )
    return out1.unionByName(out2)


# ---------------------------------------------------------------------------
# ml_learning_curve
# ---------------------------------------------------------------------------

_LC_B = 4096  # hashed-gram buckets (the NB/DSIR bucket count)


def _lc_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH toks AS (
      SELECT doc_id, CAST(lang = 'en' AS INT) AS is_en,
             {tokens_sql('text')} AS t
      FROM documents),
    grams AS (
      SELECT doc_id, is_en, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT doc_id, is_en, t[i] || ' ' || t[i+1] AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
      WHERE len(t) >= 2),
    bucketed AS MATERIALIZED (
      SELECT doc_id, is_en,
             ('0x' || substr(md5(gram), 1, 12))::UBIGINT % {_LC_B} AS bucket
      FROM grams),
    evens AS MATERIALIZED (
      SELECT doc_id, CAST(lang = 'en' AS INT) AS is_en,
             CAST(((row_number() OVER (
                      ORDER BY md5('lc|' || CAST(doc_id AS VARCHAR)),
                               doc_id) - 1) * 4)
                  // (count(*) OVER ()) AS INT) + 1 AS quartile
      FROM documents
      WHERE doc_id % 2 = 0),
    fitg AS (
      SELECT b.bucket, e.quartile, b.is_en
      FROM bucketed b JOIN evens e ON b.doc_id = e.doc_id),
    qc AS (
      SELECT bucket, quartile,
             sum(CASE WHEN is_en = 1 THEN 1 ELSE 0 END) AS ce,
             sum(CASE WHEN is_en = 1 THEN 0 ELSE 1 END) AS co
      FROM fitg GROUP BY bucket, quartile),
    cumc AS MATERIALIZED (
      SELECT bucket, quartile AS k,
             sum(ce) OVER w AS ce, sum(co) OVER w AS co
      FROM qc WINDOW w AS (PARTITION BY bucket ORDER BY quartile
                           ROWS UNBOUNDED PRECEDING)),
    -- zero-fill: every (bucket-with-any-count, k) pair needs a row
    grid AS (
      SELECT b.bucket, kk.k,
             coalesce((SELECT max(c.ce) FROM cumc c
                       WHERE c.bucket = b.bucket AND c.k <= kk.k), 0) AS ce,
             coalesce((SELECT max(c.co) FROM cumc c
                       WHERE c.bucket = b.bucket AND c.k <= kk.k), 0) AS co
      FROM (SELECT DISTINCT bucket FROM cumc) b
      CROSS JOIN (SELECT unnest(range(1, 5)) AS k) kk),
    tot AS MATERIALIZED (
      SELECT g.k, sum(g.ce) AS te, sum(g.co) AS tco,
             (SELECT sum(CASE WHEN e.is_en = 1 THEN 1 ELSE 0 END)
              FROM evens e WHERE e.quartile <= g.k) AS ne,
             (SELECT sum(CASE WHEN e.is_en = 1 THEN 0 ELSE 1 END)
              FROM evens e WHERE e.quartile <= g.k) AS no
      FROM grid g GROUP BY g.k),
    llr AS MATERIALIZED (
      SELECT g.bucket, g.k,
             CAST(round((ln((g.ce + 1.0) / (t.te + {_LC_B}))
                       - ln((g.co + 1.0) / (t.tco + {_LC_B}))) * 1e6)
                  AS BIGINT) AS llr_micro
      FROM grid g JOIN tot t ON g.k = t.k),
    sc AS (
      SELECT b.doc_id, b.is_en, b.bucket, kk.k
      FROM bucketed b
      CROSS JOIN (SELECT unnest(range(1, 5)) AS k) kk
      WHERE b.doc_id % 2 = 1),
    per_doc AS (
      SELECT s.doc_id, s.k, any_value(s.is_en) AS is_en,
             CAST(sum(coalesce(l.llr_micro, 0)) AS BIGINT) AS feat_micro
      FROM sc s LEFT JOIN llr l ON s.bucket = l.bucket AND s.k = l.k
      GROUP BY s.doc_id, s.k),
    scored AS (
      SELECT p.k, p.is_en,
             CASE WHEN p.feat_micro
                       + CAST(round((ln(t.ne + 1.0) - ln(t.no + 1.0)) * 1e6)
                              AS BIGINT) > 0
                  THEN 1 ELSE 0 END AS pred_en
      FROM per_doc p JOIN tot t ON p.k = t.k)
    SELECT CAST(k AS INT) AS k_quarters,
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(CASE WHEN pred_en = is_en THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(sum(CASE WHEN pred_en = is_en THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS accuracy_micro
    FROM scored GROUP BY k
"""


@register(
    "ml_learning_curve",
    _lc_sql(),
    "learning curve of the Naive Bayes gate — accuracy on the held-out "
    "odd half after fitting on the md5-first 25/50/75/100% of the even "
    "half. ONE gram pass serves all four fits: per-(bucket, quartile) "
    "class counts roll up through a bucket-partitioned cumulative "
    "window, so fit k is a cumsum slice; scoring fans held-out grams "
    "x4 against the (bucket, k) LLR dim (integer micro-units, one "
    "libm pair per dim row). Accuracy is exact integer counts + one "
    "floor division. The 'do we need more data' curve every curation "
    "loop consults; all heavy work is the single gram explode",
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.hashing import md5_key
    from jigsaw_spark.operators.samples import dsir_gram_buckets

    docs = _t(spark, sf_dir, "documents")
    # the gram explode is the query's only heavy pass and BOTH halves
    # consume it (fit side + scoring side): localCheckpoint materializes
    # it once instead of re-exploding per consumer (r5 verdict perf item
    # — "share gram partials across curve points")
    bucketed = (
        dsir_gram_buckets(docs, "doc_id", buckets=_LC_B)
        .join(
            docs.select(
                "doc_id", (F.col("lang") == "en").cast("int").alias("is_en")
            ),
            "doc_id",
        )
        .localCheckpoint()
    )
    ev = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("is_en")
    )
    # banded exact rank (verdict r11 #2): the md5 key is uniform hex by
    # construction, so its first two hex chars cut the fit half into 256
    # fixed-width bands that cannot skew. Rank = per-band offset
    # (exclusive prefix over the <=256-row band dim) + row_number
    # PARTITIONED by band; band order == md5 lexicographic order, so the
    # composed rank is bit-identical to the oracle's single row_number —
    # same driver hash, but no raw-fact single-partition window (the
    # _exact_rank_banded shape of queries_r27, keyed on the hex prefix
    # instead of an integer width). n_even comes from the same band
    # counts as a broadcast 1-row cross, not a count-over-empty-window.
    keyed = ev.withColumn(
        "_h", md5_key(F.col("doc_id"), seed="lc")
    ).withColumn("_band", F.substring("_h", 1, 2))
    bcounts = keyed.groupBy("_band").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wb = Window.orderBy("_band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = bcounts.select(
        "_band",
        F.coalesce(F.sum("_c").over(wb), F.lit(0)).alias("_off"),
    )
    ntot = bcounts.agg(F.sum("_c").cast("bigint").alias("n_even"))
    wrank = Window.partitionBy("_band").orderBy("_h", "doc_id")
    evens = (
        keyed.join(F.broadcast(boff), "_band")
        .withColumn("rn", F.col("_off") + F.row_number().over(wrank))
        .crossJoin(F.broadcast(ntot))
        .selectExpr(
            "doc_id",
            "is_en",
            # integer floor division on both engines — a double `/` +
            # cast would ROUND in DuckDB and TRUNCATE in Spark
            "CAST(((rn - 1) * 4) div n_even AS INT) + 1 AS quartile",
        )
    )
    fitg = bucketed.join(
        evens.select("doc_id", "quartile"), "doc_id"
    ).select("bucket", "quartile", "is_en")
    qc = fitg.groupBy("bucket", "quartile").agg(
        F.sum(F.when(F.col("is_en") == 1, 1).otherwise(0)).alias("ce"),
        F.sum(F.when(F.col("is_en") == 1, 0).otherwise(1)).alias("co"),
    )
    wc = (
        Window.partitionBy("bucket")
        .orderBy("quartile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cumc = qc.select(
        "bucket",
        F.col("quartile").alias("k"),
        F.sum("ce").over(wc).alias("ce"),
        F.sum("co").over(wc).alias("co"),
    )
    ks = spark.range(1, 5).select(F.col("id").cast("int").alias("k"))
    # zero-fill: every (bucket, k) needs a row even when the bucket's
    # first count arrives at a LATER quartile — the inequality must live
    # in the join condition (a post-join filter would drop the
    # unmatched-at-this-k rows and desync from the oracle's grid)
    cumc2 = cumc.select(
        F.col("bucket").alias("cb"),
        F.col("k").alias("ck"),
        F.col("ce").alias("cce"),
        F.col("co").alias("cco"),
    )
    base = cumc.select("bucket").distinct().crossJoin(F.broadcast(ks))
    grid = (
        base.join(
            cumc2,
            (base["bucket"] == cumc2["cb"]) & (cumc2["ck"] <= base["k"]),
            "left_outer",
        )
        .groupBy("bucket", "k")
        .agg(
            F.coalesce(F.max("cce"), F.lit(0)).alias("ce"),
            F.coalesce(F.max("cco"), F.lit(0)).alias("co"),
        )
    )
    etot = (
        evens.crossJoin(F.broadcast(ks))
        .filter(F.col("quartile") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("is_en") == 1, 1).otherwise(0)).alias("ne"),
            F.sum(F.when(F.col("is_en") == 1, 0).otherwise(1)).alias("no"),
        )
    )
    btot = grid.groupBy("k").agg(
        F.sum("ce").alias("te"), F.sum("co").alias("tco")
    )
    tot = btot.join(etot, "k")
    llr = grid.join(F.broadcast(tot), "k").select(
        "bucket",
        "k",
        F.round(
            (
                F.log((F.col("ce") + 1.0) / (F.col("te") + _LC_B))
                - F.log((F.col("co") + 1.0) / (F.col("tco") + _LC_B))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("llr_micro"),
    )
    sc = (
        bucketed.filter(F.col("doc_id") % 2 == 1)
        .crossJoin(F.broadcast(ks))
        .select("doc_id", "is_en", "bucket", "k")
    )
    per_doc = (
        sc.join(F.broadcast(llr), ["bucket", "k"], "left_outer")
        .groupBy("doc_id", "k")
        .agg(
            F.first("is_en").alias("is_en"),
            F.sum(F.coalesce("llr_micro", F.lit(0)))
            .cast("bigint")
            .alias("feat_micro"),
        )
    )
    prior = (
        F.round(
            (F.log(F.col("ne") + 1.0) - F.log(F.col("no") + 1.0)) * 1e6
        ).cast("bigint")
    )
    scored = per_doc.join(F.broadcast(tot), "k").select(
        "k",
        "is_en",
        F.when(F.col("feat_micro") + prior > 0, 1).otherwise(0).alias(
            "pred_en"
        ),
    )
    return scored.groupBy(F.col("k").cast("int").alias("k_quarters")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum(F.when(F.col("pred_en") == F.col("is_en"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.expr(
            "CAST(sum(CASE WHEN pred_en = is_en THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("accuracy_micro"),
    )


# ---------------------------------------------------------------------------
# ml_feature_importance
# ---------------------------------------------------------------------------

_FI_SQL = """
    WITH pts AS (
      SELECT CAST(p_size AS BIGINT) AS f_size,
             CAST(length(p_name) AS BIGINT) AS f_namelen,
             CAST(length(p_type) AS BIGINT) AS f_typelen,
             CASE WHEN p_retailprice > 1500 THEN 1 ELSE 0 END AS y
      FROM part),
    base AS (
      SELECT count(*) AS n, sum(y) AS pos FROM pts),
    long AS (
      SELECT 'p_size' AS feature, f_size AS x, y FROM pts
      UNION ALL
      SELECT 'len_p_name', f_namelen, y FROM pts
      UNION ALL
      SELECT 'len_p_type', f_typelen, y FROM pts),
    v AS (
      SELECT feature, x, sum(y) AS c1, count(*) - sum(y) AS c0
      FROM long GROUP BY feature, x),
    p AS (
      SELECT feature, x,
             sum(c1) OVER w AS l1, sum(c0) OVER w AS l0,
             sum(c1) OVER (PARTITION BY feature) AS t1,
             sum(c0) OVER (PARTITION BY feature) AS t0
      FROM v WINDOW w AS (PARTITION BY feature ORDER BY x
                          ROWS UNBOUNDED PRECEDING)),
    cand AS (
      SELECT feature, x AS threshold,
             least(l0, l1) + least(t0 - l0, t1 - l1) AS err
      FROM p WHERE (t0 - l0) + (t1 - l1) > 0),
    best AS (
      SELECT feature, threshold, err,
             row_number() OVER (PARTITION BY feature
                                ORDER BY err, threshold) AS rn
      FROM cand)
    SELECT b.feature,
           CAST(b.threshold AS BIGINT) AS threshold,
           CAST(b.err AS BIGINT) AS split_misclass,
           CAST(least(bb.pos, bb.n - bb.pos) AS BIGINT) AS null_misclass,
           CAST(least(bb.pos, bb.n - bb.pos) - b.err AS BIGINT)
             AS importance
    FROM best b CROSS JOIN base bb
    WHERE b.rn = 1
"""


@register(
    "ml_feature_importance",
    _FI_SQL,
    "single-split feature screen: for each candidate feature (size, "
    "name length, type length) the best decision-stump "
    "misclassification under the ALL-INTEGER impurity (ml_tree_depth2 "
    "discipline) and its improvement over the majority-class baseline "
    "— the cheap screen that ranks features before growing any tree. "
    "Features unpivot into one long relation, so ONE distinct-value "
    "agg + feature-partitioned prefix windows serve every feature; "
    "the fact table is scanned once",
)
def ml_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_size").cast("bigint").alias("f_size"),
        F.length("p_name").cast("bigint").alias("f_namelen"),
        F.length("p_type").cast("bigint").alias("f_typelen"),
        F.when(F.col("p_retailprice") > 1500, 1).otherwise(0).alias("y"),
    )
    base = pts.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    long = pts.selectExpr(
        "stack(3, 'p_size', f_size, 'len_p_name', f_namelen,"
        " 'len_p_type', f_typelen) AS (feature, x)",
        "y",
    )
    v = long.groupBy("feature", "x").agg(
        F.sum("y").alias("c1"),
        (F.count(F.lit(1)) - F.sum("y")).alias("c0"),
    )
    wo = (
        Window.partitionBy("feature")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("feature")
    p = v.select(
        "feature",
        "x",
        F.sum("c1").over(wo).alias("l1"),
        F.sum("c0").over(wo).alias("l0"),
        F.sum("c1").over(wt).alias("t1"),
        F.sum("c0").over(wt).alias("t0"),
    )
    cand = p.filter(
        (F.col("t0") - F.col("l0")) + (F.col("t1") - F.col("l1")) > 0
    ).select(
        "feature",
        F.col("x").alias("threshold"),
        (
            F.least(F.col("l0"), F.col("l1"))
            + F.least(F.col("t0") - F.col("l0"), F.col("t1") - F.col("l1"))
        ).alias("err"),
    )
    best = cand.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("feature").orderBy("err", "threshold")
        ),
    ).filter(F.col("rn") == 1)
    return best.crossJoin(F.broadcast(base)).select(
        "feature",
        F.col("threshold").cast("bigint").alias("threshold"),
        F.col("err").cast("bigint").alias("split_misclass"),
        F.least(F.col("pos"), F.col("n") - F.col("pos"))
        .cast("bigint")
        .alias("null_misclass"),
        (
            F.least(F.col("pos"), F.col("n") - F.col("pos")) - F.col("err")
        )
        .cast("bigint")
        .alias("importance"),
    )


# ---------------------------------------------------------------------------
# ml_ridge_2feature
# ---------------------------------------------------------------------------

_RIDGE_LAMBDA = 1_000_000_000  # in centered-cents² units; demo shrinkage


# CTE chain (pts -> anchors -> m -> sol) shared verbatim with
# ml_linear_shap, which explains this model's predictions.
_RIDGE_WITH = f"""
    WITH pts AS (
      SELECT l_linestatus AS grp,
             CAST(round(l_quantity, 0) AS BIGINT) AS x1,
             CAST(round(l_tax * 100, 0) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
      FROM lineitem),
    anchors AS (
      SELECT grp, count(*) AS n,
             CAST(sum(x1) AS BIGINT) // count(*) AS m1,
             CAST(sum(x2) AS BIGINT) // count(*) AS m2,
             CAST(sum(y) AS BIGINT) // count(*) AS my
      FROM pts GROUP BY grp),
    m AS (
      SELECT p.grp, any_value(a.n) AS n,
             any_value(a.m1) AS m1, any_value(a.m2) AS m2,
             any_value(a.my) AS my,
             sum(CAST((p.x1 - a.m1) * (p.x1 - a.m1) AS HUGEINT)) AS suu,
             sum(CAST((p.x2 - a.m2) * (p.x2 - a.m2) AS HUGEINT)) AS svv,
             sum(CAST((p.x1 - a.m1) * (p.x2 - a.m2) AS HUGEINT)) AS suv,
             sum(CAST((p.x1 - a.m1) * (p.y - a.my) AS HUGEINT)) AS suy,
             sum(CAST((p.x2 - a.m2) * (p.y - a.my) AS HUGEINT)) AS svy
      FROM pts p JOIN anchors a ON p.grp = a.grp
      GROUP BY p.grp),
    sol AS (
      SELECT grp, n, m1, m2, my,
             (suu + {_RIDGE_LAMBDA}) * (svv + {_RIDGE_LAMBDA})
               - suv * suv AS det,
             (suy * (svv + {_RIDGE_LAMBDA}) - svy * suv) * 1000000 AS n1,
             (svy * (suu + {_RIDGE_LAMBDA}) - suy * suv) * 1000000 AS n2
      FROM m)
"""

_RIDGE_SQL = f"""{_RIDGE_WITH}
    SELECT grp AS l_linestatus,
           CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN n1 >= 0 THEN n1 // det
                     ELSE -((-n1) // det) END AS BIGINT) AS b1_micro,
           CAST(CASE WHEN n2 >= 0 THEN n2 // det
                     ELSE -((-n2) // det) END AS BIGINT) AS b2_micro,
           CAST(my * 1000000
                - (CASE WHEN n1 >= 0 THEN n1 // det
                        ELSE -((-n1) // det) END) * m1
                - (CASE WHEN n2 >= 0 THEN n2 // det
                        ELSE -((-n2) // det) END) * m2 AS BIGINT)
             AS b0_micro
    FROM sol
"""


@register(
    "ml_ridge_2feature",
    _RIDGE_SQL,
    "closed-form RIDGE regression (2 features, per line status: price-"
    "cents ~ quantity + tax-pct) on anchor-centered exact integers — "
    "the regularized twin of ml_ols_2feature: beta = (C + lambda*I)^-1 "
    "s with integer lambda, Cramer-rule ratios as truncated-division "
    "micro-units (the tdiv CASE discipline on the DuckDB side; Spark "
    "div truncates natively). Cauchy-Schwarz gives suv² <= suu*svv < "
    "det for lambda > 0, so the determinant is strictly positive — no "
    "degenerate branch. ONE moment agg per group after one fact scan",
)
def ml_ridge_2feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _ridge_fit(spark, sf_dir)
    return f.select(
        F.col("grp").alias("l_linestatus"),
        "n",
        "b1_micro",
        "b2_micro",
        "b0_micro",
    )


def _ridge_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml_ridge_2feature's fitted-model frame with the anchor means
    kept: (grp, n, m1, m2, b1_micro, b2_micro, b0_micro). Shared with
    ml_linear_shap (r14) so the SHAP query reuses the fit's anchors
    instead of re-scanning lineitem for an identical moment agg."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_linestatus").alias("grp"),
        F.round("l_quantity", 0).cast("bigint").alias("x1"),
        F.round(F.col("l_tax") * 100, 0).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )
    anchors = pts.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(sum(x1) AS BIGINT) div count(*)").alias("m1"),
        F.expr("CAST(sum(x2) AS BIGINT) div count(*)").alias("m2"),
        F.expr("CAST(sum(y) AS BIGINT) div count(*)").alias("my"),
    )
    dec = "decimal(38,0)"
    c = pts.join(F.broadcast(anchors), "grp").select(
        "grp",
        "n",
        "m1",
        "m2",
        "my",
        (F.col("x1") - F.col("m1")).alias("u"),
        (F.col("x2") - F.col("m2")).alias("v"),
        (F.col("y") - F.col("my")).alias("d"),
    )
    m = c.groupBy("grp").agg(
        F.first("n").alias("n"),
        F.first("m1").alias("m1"),
        F.first("m2").alias("m2"),
        F.first("my").alias("my"),
        F.sum((F.col("u") * F.col("u")).cast(dec)).alias("suu"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).alias("svv"),
        F.sum((F.col("u") * F.col("v")).cast(dec)).alias("suv"),
        F.sum((F.col("u") * F.col("d")).cast(dec)).alias("suy"),
        F.sum((F.col("v") * F.col("d")).cast(dec)).alias("svy"),
    )
    lam = F.lit(_RIDGE_LAMBDA).cast(dec)
    sol = m.select(
        "grp",
        "n",
        "m1",
        "m2",
        "my",
        ((F.col("suu") + lam) * (F.col("svv") + lam)
         - F.col("suv") * F.col("suv")).alias("det"),
        (
            (F.col("suy") * (F.col("svv") + lam) - F.col("svy") * F.col("suv"))
            * F.lit(1000000).cast(dec)
        ).alias("n1"),
        (
            (F.col("svy") * (F.col("suu") + lam) - F.col("suy") * F.col("suv"))
            * F.lit(1000000).cast(dec)
        ).alias("n2"),
    )
    b1 = F.expr("n1 div det")
    b2 = F.expr("n2 div det")
    return sol.select(
        "grp",
        F.col("n").cast("bigint").alias("n"),
        "m1",
        "m2",
        b1.cast("bigint").alias("b1_micro"),
        b2.cast("bigint").alias("b2_micro"),
        (
            F.col("my") * 1000000
            - b1.cast("bigint") * F.col("m1")
            - b2.cast("bigint") * F.col("m2")
        )
        .cast("bigint")
        .alias("b0_micro"),
    )


# ---------------------------------------------------------------------------
# ml_lift_gains
# ---------------------------------------------------------------------------

_LIFT_SQL = """
    WITH s AS (
      SELECT event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    t AS MATERIALIZED (
      SELECT count(*) AS n, sum(pos) AS npos FROM s),
    r AS (
      SELECT pos,
             (row_number() OVER (ORDER BY cents DESC, event_id) - 1)
               * 10 // (SELECT n FROM t) AS decile
      FROM s),
    g AS (
      SELECT decile, count(*) AS n_rows, sum(pos) AS n_pos
      FROM r GROUP BY decile)
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(CASE WHEN (SELECT npos FROM t) = 0 THEN 0
                ELSE sum(n_pos) OVER (ORDER BY decile) * 1000000
                     // (SELECT npos FROM t) END AS BIGINT)
             AS cum_gains_micro,
           CAST(CASE WHEN (SELECT npos FROM t) = 0 THEN 0
                ELSE n_pos * (SELECT n FROM t) * 1000000
                     // (n_rows * (SELECT npos FROM t)) END AS BIGINT)
             AS lift_micro
    FROM g
"""


@register(
    "ml_lift_gains",
    _LIFT_SQL,
    "exact decile lift & cumulative-gains table (score = value cents "
    "descending, positives = purchases): per decile n/positives, "
    "cumulative gains and lift in exact integer micro-units — the "
    "model-targeting diagnostic behind every 'top-decile capture' "
    "claim. Global decile ranks come from the cumulative-DIM pattern "
    "(_exact_rank): dim prefix + per-value row_number — NO "
    "single-partition window over the facts; the only unpartitioned "
    "windows run over |distinct cents| dim rows and the 10-row decile "
    "summary. Integer magnitudes stay below 2^63 up to ~1e12 rows x "
    "1e6 positives; beyond that lift the products to DECIMAL(38,0). "
    "npos=0 is guarded to 0 on both engines (otherwise DuckDB raises "
    "division-by-zero while Spark div yields NULL)",
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    # inlined _exact_rank with a pos-aware dim: the totals (n, npos)
    # come from the SAME per-cents hash-agg the rank needs, so events is
    # scanned twice (dim + join-back) instead of three times — the old
    # separate s.agg() was a third full pass over the fact table
    dim = s.groupBy("cents").agg(
        F.count(F.lit(1)).alias("_c"), F.sum("pos").alias("_p")
    )
    wdim = Window.orderBy(F.col("cents").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = dim.select(
        "cents", F.coalesce(F.sum("_c").over(wdim), F.lit(0)).alias("_off")
    )
    tot = dim.agg(
        F.sum("_c").alias("n"), F.sum("_p").alias("npos")
    )
    win = Window.partitionBy("cents").orderBy("event_id")
    ranked = s.join(off, "cents").withColumn(
        "_rn", F.col("_off") + F.row_number().over(win)
    )
    r = ranked.crossJoin(F.broadcast(tot)).select(
        "pos",
        "n",
        "npos",
        F.expr("(_rn - 1) * 10 div n").alias("decile"),
    )
    g = r.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("pos").alias("n_pos"),
        F.max("n").alias("n"),
        F.max("npos").alias("npos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        (F.sum("n_pos").over(w) * 1000000)
        .cast("bigint")
        .alias("_cum"),
        F.expr(
            "CAST(CASE WHEN npos = 0 THEN 0 ELSE"
            " n_pos * n * 1000000 div (n_rows * npos) END AS BIGINT)"
        ).alias("lift_micro"),
        F.col("npos").alias("_npos"),
    ).select(
        "decile",
        "n_rows",
        "n_pos",
        F.expr(
            "CAST(CASE WHEN _npos = 0 THEN 0"
            " ELSE _cum div _npos END AS BIGINT)"
        ).alias("cum_gains_micro"),
        "lift_micro",
    )


# ---------------------------------------------------------------------------
# ml_brier_log_loss
# ---------------------------------------------------------------------------

_BRIER_SQL = """
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi, count(*) AS n FROM s),
    p AS (
      SELECT y,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) END AS p_micro
      FROM s),
    terms AS (
      SELECT y, p_micro,
             least(greatest(p_micro, 1), 999999) AS p1
      FROM p),
    nano AS (
      SELECT (p_micro - y * 1000000) * (p_micro - y * 1000000) AS sq_e12,
             CAST(round(CASE WHEN y = 1
                    THEN -ln(CAST(p1 AS DOUBLE) / 1000000.0)
                    ELSE -ln(CAST(1000000 - p1 AS DOUBLE) / 1000000.0)
                  END * 1000000000.0, 0) AS BIGINT) AS ll_nano
      FROM terms)
    SELECT CAST((SELECT n FROM t) AS BIGINT) AS n,
           CAST(sum(sq_e12) // (SELECT n FROM t) AS BIGINT) AS brier_e12,
           CAST(sum(ll_nano) // ((SELECT n FROM t) * 1000) AS BIGINT)
             AS log_loss_micro
    FROM nano
"""


@register(
    "ml_brier_log_loss",
    _BRIER_SQL,
    "proper scoring rules for the min-max-normalized value score vs "
    "the purchase outcome: Brier score in exact integer micro^2 units "
    "(mean squared (p - y), floor division) and log loss in integer "
    "micro-nats — each row's -ln term is computed from identical "
    "integer-derived doubles on both engines and ROUNDED TO INTEGER "
    "NANO-NATS BEFORE SUMMING, so the sum is order-free exact integer "
    "arithmetic at any row count (a raw float sum over unbounded rows "
    "drifts past any snap; this is the scalable form of the MI/ln "
    "discipline). p clamped to [1e-6, 1-1e-6] for the logs only. "
    "Shape: ONE events scan, broadcast min/max/n, one map pass, one "
    "agg — sums in DECIMAL(38,0) (DuckDB HUGEINT) so nothing wraps at "
    "1e12 rows x 1e12 max term",
)
def ml_brier_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    t = s.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    p = s.crossJoin(F.broadcast(t)).select(
        "y",
        "n",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN CAST(500000 AS BIGINT)"
            " ELSE (cents - lo) * 1000000 div (hi - lo) END"
        ).alias("p_micro"),
    )
    terms = p.withColumn(
        "p1", F.expr("least(greatest(p_micro, 1), 999999)")
    )
    nano = terms.select(
        "n",
        F.expr(
            "CAST((p_micro - y * 1000000) * (p_micro - y * 1000000)"
            " AS DECIMAL(38,0))"
        ).alias("sq_e12"),
        F.expr(
            "CAST(CAST(round(CASE WHEN y = 1"
            " THEN -ln(CAST(p1 AS DOUBLE) / 1000000.0)"
            " ELSE -ln(CAST(1000000 - p1 AS DOUBLE) / 1000000.0)"
            " END * 1000000000.0, 0) AS BIGINT) AS DECIMAL(38,0))"
        ).alias("ll_nano"),
    )
    return nano.agg(
        F.max("n").cast("bigint").alias("n"),
        F.expr("CAST(sum(sq_e12) div max(n) AS BIGINT)").alias("brier_e12"),
        F.expr(
            "CAST(sum(ll_nano) div (max(n) * 1000) AS BIGINT)"
        ).alias("log_loss_micro"),
    )


# ---------------------------------------------------------------------------
# ml_ndcg_exact
# ---------------------------------------------------------------------------

_NDCG_SQL = """
    WITH u AS (
      SELECT event_type, user_id,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS spend
      FROM events GROUP BY 1, 2),
    rel AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS r
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    c AS (
      SELECT u.event_type, u.user_id, u.spend,
             coalesce(rel.r, 0) AS r
      FROM u LEFT JOIN rel ON u.user_id = rel.user_id),
    ranked AS (
      SELECT event_type, r,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY spend DESC, user_id) AS rn,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY r DESC, user_id) AS irn
      FROM c),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_users,
             sum(CASE WHEN rn <= 10 THEN
                   CAST(r AS DOUBLE) * ln(2.0)
                   / ln(CAST(rn + 1 AS DOUBLE)) ELSE 0 END) AS dcg,
             sum(CASE WHEN irn <= 10 THEN
                   CAST(r AS DOUBLE) * ln(2.0)
                   / ln(CAST(irn + 1 AS DOUBLE)) ELSE 0 END) AS idcg
      FROM ranked GROUP BY 1)
    SELECT event_type, n_users,
           round(round(dcg, 9), 6) AS dcg_at10,
           round(round(idcg, 9), 6) AS idcg_at10,
           CASE WHEN idcg = 0 THEN 0.0
                ELSE round(round(dcg / idcg, 9), 6) END AS ndcg_at10
    FROM g
"""


@register(
    "ml_ndcg_exact",
    _NDCG_SQL,
    "NDCG@10 per event_type: users ranked by exact spend cents (tie: "
    "user_id), graded relevance = the user's purchase count; DCG = sum "
    "rel_i * ln(2)/ln(i+1) over the top 10, IDCG from the "
    "relevance-ideal ordering of the SAME candidate set, NDCG guarded "
    "at idcg=0 — the ranking-quality metric behind search/reco eval. "
    "log2 is spelled ln(2)/ln(x) IDENTICALLY on both engines (Spark's "
    "log2 and DuckDB's log2 need not agree to the ulp; the explicit "
    "ln ratio does). Both rank windows partition by event_type — the "
    "classic per-group top-k; sums are <=10 libm terms per group, "
    "snapped round(round(x,9),6). Integer ranks/relevance elsewhere",
)
def ml_ndcg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(
        F.sum(
            F.round(F.col("value") * 100, 0).cast("bigint")
        ).alias("spend")
    )
    rel = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    c = u.join(rel, "user_id", "left").select(
        "event_type",
        "user_id",
        "spend",
        F.coalesce("r", F.lit(0).cast("bigint")).alias("r"),
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.desc("spend"), F.col("user_id")
    )
    wi = Window.partitionBy("event_type").orderBy(
        F.desc("r"), F.col("user_id")
    )
    ranked = c.select(
        "event_type",
        "r",
        F.row_number().over(wd).alias("rn"),
        F.row_number().over(wi).alias("irn"),
    )
    term = "CAST(r AS DOUBLE) * ln(2.0) / ln(CAST({i} + 1 AS DOUBLE))"
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(
            F.expr(
                f"CASE WHEN rn <= 10 THEN {term.format(i='rn')}"
                " ELSE 0 END"
            )
        ).alias("dcg"),
        F.sum(
            F.expr(
                f"CASE WHEN irn <= 10 THEN {term.format(i='irn')}"
                " ELSE 0 END"
            )
        ).alias("idcg"),
    )
    return g.select(
        "event_type",
        "n_users",
        F.round(F.round("dcg", 9), 6).alias("dcg_at10"),
        F.round(F.round("idcg", 9), 6).alias("idcg_at10"),
        F.when(F.col("idcg") == 0, F.lit(0.0))
        .otherwise(F.round(F.round(F.col("dcg") / F.col("idcg"), 9), 6))
        .alias("ndcg_at10"),
    )


# ---------------------------------------------------------------------------
# ml_survival_km
# ---------------------------------------------------------------------------

_KM_SQL = """
    WITH life AS (
      SELECT user_id,
             min(epoch_us(ts) // 86400000000) AS fd,
             max(epoch_us(ts) // 86400000000) AS ld,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) // 86400000000 END) AS pd
      FROM events GROUP BY 1),
    t AS MATERIALIZED (SELECT count(*) AS n_users FROM life),
    obs AS (
      SELECT CASE WHEN pd IS NOT NULL THEN pd - fd ELSE ld - fd END AS dur,
             CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM life),
    g AS (
      SELECT dur,
             CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS m
      FROM obs GROUP BY 1),
    risk AS (
      SELECT dur, d,
             (SELECT n_users FROM t)
               - coalesce(sum(m) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g),
    lns AS (
      SELECT dur, d, n_risk,
             CASE WHEN d > 0 AND d < n_risk
                  THEN ln(CAST(n_risk - d AS DOUBLE)
                          / CAST(n_risk AS DOUBLE))
                  ELSE 0.0 END AS lnt,
             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
      FROM risk),
    surv AS (
      SELECT dur, d, n_risk,
             sum(lnt) OVER (ORDER BY dur) AS cln,
             max(dead) OVER (ORDER BY dur) AS anydead
      FROM lns)
    SELECT CAST(dur AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events,
           CASE WHEN anydead = 1 THEN 0.0
                ELSE round(round(exp(cln), 9), 6) END AS survival
    FROM surv WHERE d > 0
"""


@register(
    "ml_survival_km",
    _KM_SQL,
    "Kaplan-Meier time-to-first-purchase: duration = days from the "
    "user's first event to their first purchase; users who never "
    "purchase are right-CENSORED at their last activity day (their "
    "conversion clock is still running); per event time: at-risk "
    "count, events, and the product-limit survival estimate — "
    "conversion as the censoring-aware survival curve "
    "rel_funnel_conversion cannot express. S(t) is "
    "computed as exp(cumulative sum of ln((n-d)/n)) along the day dim "
    "— identical integer-ratio ln arguments, identical accumulation "
    "order on both engines, round(round(x,9),6) snap; n_risk hits 0 -> "
    "survival pinned to exactly 0. The only unpartitioned window runs "
    "over DISTINCT LIFETIME DAYS (calendar-span bounded, not |users|); "
    "everything upstream is one user-keyed hash agg. Positive-epoch "
    "domain (events are post-1970; floor/trunc day division agrees)",
)
def ml_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.expr("min(unix_micros(ts) div 86400000000)").alias("fd"),
        F.expr("max(unix_micros(ts) div 86400000000)").alias("ld"),
        F.expr(
            "min(CASE WHEN event_type = 'purchase'"
            " THEN unix_micros(ts) div 86400000000 END)"
        ).alias("pd"),
    )
    t = life.agg(F.count(F.lit(1)).alias("n_users"))
    obs = life.crossJoin(F.broadcast(t)).select(
        F.expr(
            "CASE WHEN pd IS NOT NULL THEN pd - fd ELSE ld - fd END"
        ).alias("dur"),
        F.expr("CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END").alias("ev"),
        "n_users",
    )
    g = obs.groupBy("dur").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.max("n_users").alias("n_users"),
    )
    wprev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = g.select(
        "dur",
        "d",
        (
            F.col("n_users")
            - F.coalesce(F.sum("m").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    lns = risk.select(
        "dur",
        "d",
        "n_risk",
        F.expr(
            "CASE WHEN d > 0 AND d < n_risk"
            " THEN ln(CAST(n_risk - d AS DOUBLE)"
            " / CAST(n_risk AS DOUBLE)) ELSE 0.0 END"
        ).alias("lnt"),
        F.expr("CASE WHEN d >= n_risk THEN 1 ELSE 0 END").alias("dead"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, 0
    )
    surv = lns.select(
        "dur",
        "d",
        "n_risk",
        F.sum("lnt").over(wcum).alias("cln"),
        F.max("dead").over(wcum).alias("anydead"),
    )
    return surv.filter(F.col("d") > 0).select(
        F.col("dur").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.when(F.col("anydead") == 1, F.lit(0.0))
        .otherwise(F.round(F.round(F.exp("cln"), 9), 6))
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# ml_kappa_mcc
# ---------------------------------------------------------------------------


def _kappa_sql() -> str:
    return f"""
    WITH nb AS ({_nb_sql()}),
    j AS (
      SELECT nb.pred = 'en' AS p, d.lang = 'en' AS t
      FROM nb JOIN documents d ON nb.doc_id = d.doc_id),
    cm AS (
      SELECT
        CAST(sum(CASE WHEN p AND t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN p AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN NOT p AND t THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN NOT p AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
          AS tn
      FROM j),
    k AS (
      SELECT tp, fp, fn, tn,
             CAST(tp + fp + fn + tn AS DECIMAL(38,0)) AS n,
             CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
               + CAST(fn + tn AS DECIMAL(38,0)) * (fp + tn) AS x
      FROM cm),
    o AS (
      SELECT tp, fp, fn, tn,
             n * (tp + tn) - x AS knum,
             n * n - x AS kden,
             CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn AS mnum,
             sqrt((CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE))
                  * (CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)))
               AS mden
      FROM k)
    SELECT tp, fp, fn, tn,
           CAST(CASE WHEN kden = 0 THEN 0
                WHEN knum < 0 THEN -((-knum * 1000000) // kden)
                ELSE (knum * 1000000) // kden END AS BIGINT)
             AS kappa_micro,
           CASE WHEN mden = 0 THEN 0.0
                ELSE round(round(mnum / mden, 9), 6) END AS mcc
    FROM o
"""


@register(
    "ml_kappa_mcc",
    _kappa_sql(),
    "chance-corrected agreement for the Naive Bayes domain gate's "
    "confusion matrix: Cohen's kappa as EXACT integer micro-units "
    "((N*(tp+tn) - X) / (N^2 - X) with X the chance-agreement product "
    "sum, DECIMAL(38,0) so N^2 never wraps, truncation-toward-zero "
    "spelled as the CASE-guarded // on the DuckDB side to match "
    "Spark's div on negatives) and the Matthews correlation from the "
    "same four counters (products as doubles — identical operands -> "
    "identical IEEE results — with the round(round(x,9),6) snap; "
    "mden=0 guarded). Completes ml_confusion_metrics' P/R/F1 report "
    "with the two metrics that survive class imbalance. Shape: the "
    "classifier pipeline + ONE 4-counter agg; the report is 1 row",
)
def ml_kappa_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    nb = ml_nbayes_classify(spark, sf_dir).select("doc_id", "pred")
    j = nb.join(docs.select("doc_id", "lang"), "doc_id").select(
        (F.col("pred") == "en").alias("p"),
        (F.col("lang") == "en").alias("t"),
    )
    cm = j.agg(
        F.sum(F.when(F.col("p") & F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("p") & ~F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~F.col("p") & F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~F.col("p") & ~F.col("t"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    k = cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("CAST(tp + fp + fn + tn AS DECIMAL(38,0))").alias("n"),
        F.expr(
            "CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)"
            " + CAST(fn + tn AS DECIMAL(38,0)) * (fp + tn)"
        ).alias("x"),
    )
    o = k.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("n * (tp + tn) - x").alias("knum"),
        F.expr("n * n - x").alias("kden"),
        F.expr("CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn").alias(
            "mnum"
        ),
        F.expr(
            "sqrt((CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE))"
            " * (CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)))"
        ).alias("mden"),
    )
    return o.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "CAST(CASE WHEN kden = 0 THEN 0"
            " ELSE (knum * 1000000) div kden END AS BIGINT)"
        ).alias("kappa_micro"),
        F.when(F.col("mden") == 0, F.lit(0.0))
        .otherwise(F.round(F.round(F.col("mnum") / F.col("mden"), 9), 6))
        .alias("mcc"),
    )


# ---------------------------------------------------------------------------
# ml_isotonic_decile
# ---------------------------------------------------------------------------

_ISOTONIC_SQL = """
    WITH s AS (
      SELECT event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    t AS MATERIALIZED (SELECT count(*) AS n FROM s),
    r AS (
      SELECT pos,
             (row_number() OVER (ORDER BY cents DESC, event_id) - 1)
               * 10 // (SELECT n FROM t) AS decile
      FROM s),
    bins AS MATERIALIZED (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS npos
      FROM r GROUP BY decile),
    iv AS MATERIALIZED (
      SELECT j.decile AS jd, k.decile AS kd,
             CAST(sum(m.npos) * 1000000000000 // sum(m.n) AS BIGINT)
               AS r12
      FROM bins j
      JOIN bins k ON j.decile <= k.decile
      JOIN bins m ON m.decile BETWEEN j.decile AND k.decile
      GROUP BY 1, 2),
    mins AS (
      SELECT b.decile AS decile, iv.jd, min(iv.r12) AS minr
      FROM bins b
      JOIN iv ON iv.jd <= b.decile AND iv.kd >= b.decile
      GROUP BY 1, 2),
    iso AS (SELECT decile, max(minr) AS iso_r12 FROM mins GROUP BY 1)
    SELECT CAST(b.decile AS INT) AS decile,
           b.n, b.npos,
           CAST(b.npos * 1000000 // b.n AS BIGINT) AS raw_rate_micro,
           CAST(iso.iso_r12 // 1000000 AS BIGINT) AS iso_rate_micro
    FROM bins b JOIN iso ON b.decile = iso.decile
"""


@register(
    "ml_isotonic_decile",
    _ISOTONIC_SQL,
    "isotonic (PAV) calibration of the decile bins (score = value "
    "cents desc, outcome = purchase): the pool-adjacent-violators fit "
    "computed EXACTLY via the closed minimax form iso(i) = max_{j<=i} "
    "min_{k>=i} rate(j..k) — interval rates enter as the scaled "
    "integers y*1e12 div n, and because min/max commute with floor "
    "(min of floors IS the floor of the min), the result is exactly "
    "floor(isotonic_value * 1e6) with no precision caveat at any "
    "scale (npos*1e12 needs DECIMAL(38,0) past ~9e6 positives per "
    "bin), so the monotone fit is bit-identical on both engines with "
    "NO iterative pooling loop anywhere. "
    "ml_calibration_bins shows raw miscalibration; this is the "
    "monotone-regression repair every calibrated scorer ships. Shape: "
    "decile assignment reuses the cumulative-dim rank (windows over "
    "the distinct-cents dim); everything after is joins/aggs over the "
    "10-row bin dim (<=1000 interval rows) — constant in data size",
)
def ml_isotonic_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    tot = s.agg(F.count(F.lit(1)).alias("n"))
    r = (
        _exact_rank(s, "cents", "event_id", desc=True)
        .crossJoin(F.broadcast(tot))
        .select("pos", F.expr("(_rn - 1) * 10 div n").alias("decile"))
    )
    bins = r.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    j = bins.select(F.col("decile").alias("jd"))
    k = bins.select(F.col("decile").alias("kd"))
    m = bins.select(
        F.col("decile").alias("md"), F.col("n").alias("mn"),
        F.col("npos").alias("mp"),
    )
    iv = (
        j.join(F.broadcast(k), F.col("jd") <= F.col("kd"))
        .join(
            F.broadcast(m),
            (F.col("md") >= F.col("jd")) & (F.col("md") <= F.col("kd")),
        )
        .groupBy("jd", "kd")
        .agg(
            F.expr(
                "CAST(sum(mp) * 1000000000000 div sum(mn) AS BIGINT)"
            ).alias("r12")
        )
    )
    mins = (
        bins.select(F.col("decile"))
        .join(
            F.broadcast(iv),
            (F.col("jd") <= F.col("decile"))
            & (F.col("kd") >= F.col("decile")),
        )
        .groupBy("decile", "jd")
        .agg(F.min("r12").alias("minr"))
    )
    iso = mins.groupBy("decile").agg(F.max("minr").alias("iso_r12"))
    return bins.join(iso, "decile").select(
        F.col("decile").cast("int").alias("decile"),
        "n",
        "npos",
        F.expr("CAST(npos * 1000000 div n AS BIGINT)").alias(
            "raw_rate_micro"
        ),
        F.expr("CAST(iso_r12 div 1000000 AS BIGINT)").alias(
            "iso_rate_micro"
        ),
    )


_WEEK_US = 7 * 86_400_000_000


# ---------------------------------------------------------------------------
# ml_lag_features
# ---------------------------------------------------------------------------

_LAG_SQL = f"""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             epoch_us(ts) AS us,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    feat AS (
      SELECT event_id, user_id,
             coalesce(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) OVER w7, 0) AS n_purch_7d,
             coalesce(sum(CASE WHEN event_type = 'purchase'
                          THEN cents ELSE 0 END) OVER w7, 0)
               AS sum_purch_cents_7d,
             coalesce(count(*) OVER wtd, 0) AS n_events_before
      FROM e
      WINDOW
        w7 AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN {_WEEK_US} PRECEDING AND 1 PRECEDING),
        wtd AS (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(n_purch_7d AS BIGINT) AS n_purch_7d,
           CAST(sum_purch_cents_7d AS BIGINT) AS sum_purch_cents_7d,
           CAST(n_events_before AS BIGINT) AS n_events_before
    FROM feat WHERE event_id % 50 = 0
"""


@register(
    "ml_lag_features",
    _LAG_SQL,
    "leakage-free trailing features: for each event, the SAME user's "
    "purchase count and cents over the 7 days strictly before it, "
    "plus lifetime events to date — the point-in-time-correct feature "
    "join every training-set builder needs. The RANGE (-7d, -1us) "
    "frame excludes the current microsecond entirely, so even "
    "same-timestamp sibling events cannot leak into each other's "
    "features (a ROWS frame or a <=-bounded RANGE both would). "
    "Emitted for the 2%-sampled event keyspace; all exact integers. "
    "Shape: ONE user-partitioned window pass over the events scan — "
    "parallel across users, per-user history is the frame; at 100 TB "
    "this is the canonical sorted-within-partition sweep",
)
def ml_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_WEEK_US, -1)
    )
    wtd = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    feat = ev.select(
        "event_id",
        "user_id",
        F.coalesce(F.sum(is_p).over(w7), F.lit(0)).alias("n_purch_7d"),
        F.coalesce(
            F.sum(is_p * F.col("cents")).over(w7), F.lit(0)
        ).alias("sum_purch_cents_7d"),
        F.coalesce(F.count(F.lit(1)).over(wtd), F.lit(0)).alias(
            "n_events_before"
        ),
    )
    return feat.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("n_purch_7d").cast("bigint").alias("n_purch_7d"),
        F.col("sum_purch_cents_7d")
        .cast("bigint")
        .alias("sum_purch_cents_7d"),
        F.col("n_events_before").cast("bigint").alias("n_events_before"),
    )


# ---------------------------------------------------------------------------
# ml_hash_collisions
# ---------------------------------------------------------------------------


def _hash_coll_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH vocab AS MATERIALIZED (
      SELECT DISTINCT unnest({tokens_sql('text')}) AS term
      FROM documents),
    hashed AS (
      -- UBIGINT -> BIGINT immediately (48 bits fit; signed arithmetic
      -- only from here, avoiding DuckDB's unsigned-op traps)
      SELECT term,
             CAST(CAST(('0x' || substr(md5('feat|' || term), 1, 12))
                  AS UBIGINT) AS BIGINT) AS h
      FROM vocab),
    ks AS (SELECT unnest([8, 12, 16]) AS k),
    b AS (
      SELECT ks.k, h % (1 << ks.k) AS bucket
      FROM hashed, ks)
    SELECT CAST(k AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(count(DISTINCT bucket) AS BIGINT) AS n_buckets_used,
           CAST((count(*) - count(DISTINCT bucket)) * 1000000
                // count(*) AS BIGINT) AS collision_rate_micro
    FROM b GROUP BY k
"""


@register(
    "ml_hash_collisions",
    _hash_coll_sql(),
    "feature-hashing capacity check: the document vocabulary hashed "
    "into 2^8 / 2^12 / 2^16 buckets (md5 stream, seed 'feat') — "
    "distinct terms vs occupied buckets and the collision rate in "
    "exact micro-units. Run before trusting ml_hash_features' "
    "unbounded-categorical path: a collision rate that climbs past a "
    "few percent at the chosen width silently merges features. "
    "Shape: corpus reduces to its vocabulary ONCE (explode + distinct "
    "hash-agg); the three bucket widths explode the KB-scale vocab "
    "x3, then one agg. Exact integers throughout (the 48-bit md5 "
    "slice fits bigint after the power-of-two mod)",
)
def ml_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens_expr("text")).alias("term"))
        .distinct()
    )
    hashed = vocab.select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("feat|"), F.col("term"))), 1, 12
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    ks = spark.createDataFrame([(8,), (12,), (16,)], "k int")
    b = hashed.crossJoin(F.broadcast(ks)).select(
        "k", F.expr("pmod(h, CAST(shiftleft(1, k) AS BIGINT))").alias("bucket")
    )
    return b.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.countDistinct("bucket").cast("bigint").alias("n_buckets_used"),
        F.expr(
            "CAST((count(1) - count(DISTINCT bucket)) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("collision_rate_micro"),
    ).select(
        F.col("k").cast("int").alias("k"),
        "n_terms",
        "n_buckets_used",
        "collision_rate_micro",
    )

# ---------------------------------------------------------------------------
# ml_woe_iv
# ---------------------------------------------------------------------------

_WOE_SQL = """
    WITH s AS (
      SELECT event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    t AS MATERIALIZED (SELECT count(*) AS n FROM s),
    r AS (
      SELECT pos,
             (row_number() OVER (ORDER BY cents DESC, event_id) - 1)
               * 10 // (SELECT n FROM t) AS decile
      FROM s),
    bins AS MATERIALIZED (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS pos
      FROM r GROUP BY decile),
    tot AS MATERIALIZED (
      SELECT sum(pos) AS tp, sum(n - pos) AS tn FROM bins),
    terms AS (
      SELECT decile, n, pos, n - pos AS neg,
             CAST(round(ln(
               ((CAST(pos AS DOUBLE) + 0.5) / (SELECT tp FROM tot))
               / ((CAST(n - pos AS DOUBLE) + 0.5) / (SELECT tn FROM tot)))
               * 1000000000.0, 0) AS BIGINT) AS woe_nano,
             CAST(round(
               (((CAST(pos AS DOUBLE) + 0.5) / (SELECT tp FROM tot))
                - ((CAST(n - pos AS DOUBLE) + 0.5) / (SELECT tn FROM tot)))
               * ln(
               ((CAST(pos AS DOUBLE) + 0.5) / (SELECT tp FROM tot))
               / ((CAST(n - pos AS DOUBLE) + 0.5) / (SELECT tn FROM tot)))
               * 1000000000.0, 0) AS BIGINT) AS iv_nano
      FROM bins)
    SELECT CAST(decile AS INT) AS decile,
           n, pos,
           CAST(woe_nano // 1000 AS BIGINT) AS woe_micro,
           CAST(sum(iv_nano) OVER () // 1000 AS BIGINT) AS iv_micro
    FROM terms
"""


@register(
    "ml_woe_iv",
    _WOE_SQL,
    "weight of evidence per score decile (score = value cents desc, "
    "outcome = purchase) + the feature's information value — the "
    "credit-scoring / feature-selection standard (IV < 0.02 useless, "
    "> 0.5 too good to be true). The 0.5-adjusted form "
    "ln(((pos+.5)/TP) / ((neg+.5)/TN)) never logs zero; WoE and the "
    "IV term are computed from identical integer-derived doubles on "
    "both engines and PRE-ROUNDED to integer nano-units, so the "
    "10-term IV sum is order-free exact integer arithmetic (the "
    "ml_brier_log_loss ln discipline). Deciles reuse the "
    "cumulative-dim rank; the only other global window is the 10-row "
    "bin frame. Floor-div to micro on output",
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    tot_n = s.agg(F.count(F.lit(1)).alias("n"))
    r = (
        _exact_rank(s, "cents", "event_id", desc=True)
        .crossJoin(F.broadcast(tot_n))
        .select("pos", F.expr("(_rn - 1) * 10 div n").alias("decile"))
    )
    bins = r.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("pos"),
    )
    tot = bins.agg(
        F.sum("pos").alias("tp"),
        F.sum(F.col("n") - F.col("pos")).alias("tn"),
    )
    woe = (
        "ln(((CAST(pos AS DOUBLE) + 0.5) / tp)"
        " / ((CAST(n - pos AS DOUBLE) + 0.5) / tn))"
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "pos",
        F.expr(
            f"CAST(round({woe} * 1000000000.0, 0) AS BIGINT)"
        ).alias("woe_nano"),
        F.expr(
            "CAST(round((((CAST(pos AS DOUBLE) + 0.5) / tp)"
            " - ((CAST(n - pos AS DOUBLE) + 0.5) / tn))"
            f" * {woe} * 1000000000.0, 0) AS BIGINT)"
        ).alias("iv_nano"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )  # the 10-row bin frame
    return terms.select(
        F.col("decile").cast("int").alias("decile"),
        "n",
        "pos",
        F.expr("CAST(woe_nano div 1000 AS BIGINT)").alias("woe_micro"),
        F.sum("iv_nano").over(w).cast("bigint").alias("_iv_nano_sum"),
    ).select(
        "decile",
        "n",
        "pos",
        "woe_micro",
        F.expr("CAST(_iv_nano_sum div 1000 AS BIGINT)").alias("iv_micro"),
    )


# ---------------------------------------------------------------------------
# ml_reliability_ece
# ---------------------------------------------------------------------------

_ECE_SQL = """
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(count(*) AS BIGINT) AS n
      FROM s),
    p AS (
      SELECT y,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) END AS p_micro
      FROM s),
    b AS (
      SELECT least(p_micro // 100000, 9) AS bin,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(p_micro) AS BIGINT) AS sum_p_micro,
             CAST(sum(y) AS BIGINT) AS pos
      FROM p GROUP BY 1)
    SELECT CAST(bin AS INT) AS bin, n_b, sum_p_micro, pos,
           CAST(sum_p_micro // n_b AS BIGINT) AS conf_micro,
           CAST(pos * 1000000 // n_b AS BIGINT) AS acc_micro,
           CAST(abs(sum_p_micro - 1000000 * pos) AS BIGINT) AS gap_abs,
           CAST(sum(abs(sum_p_micro - 1000000 * pos)) OVER ()
                // (SELECT n FROM t) AS BIGINT) AS ece_micro
    FROM b
"""


@register(
    "ml_reliability_ece",
    _ECE_SQL,
    "reliability diagram + Expected Calibration Error over the "
    "min-max score model shared with ml_brier_log_loss: 10 "
    "confidence-decile bins each reporting mean predicted confidence "
    "vs observed accuracy, plus the global ECE — Brier answers 'how "
    "wrong', ECE answers 'can the probabilities be trusted', the "
    "standard pre-deployment calibration gate. EXACT: the per-bin "
    "|avg_conf - acc| * n_b terms share the common denominator "
    "1e6 * n, so ece_micro = sum_b |sum_p_micro - 1e6*pos_b| div n "
    "is pure integer arithmetic end-to-end. Shape: one fact-scan "
    "hash-agg into <= 10 bins; the unpartitioned window runs over "
    "those 10 bounded rows only (bin count is a constant of the "
    "metric, not of the data)",
)
def ml_reliability_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    t = s.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    p = s.crossJoin(F.broadcast(t)).select(
        "y",
        "n",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN 500000"
            " ELSE (cents - lo) * 1000000 div (hi - lo) END"
        ).alias("p_micro"),
    )
    b = p.groupBy(
        F.least(F.expr("p_micro div 100000"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("p_micro").cast("bigint").alias("sum_p_micro"),
        F.sum("y").cast("bigint").alias("pos"),
        F.first("n").alias("n"),
    )
    w = Window.partitionBy()
    return b.select(
        F.col("bin").cast("int").alias("bin"),
        "n_b",
        "sum_p_micro",
        "pos",
        F.expr("CAST(sum_p_micro div n_b AS BIGINT)").alias("conf_micro"),
        F.expr("CAST(pos * 1000000 div n_b AS BIGINT)").alias("acc_micro"),
        F.abs(F.col("sum_p_micro") - 1000000 * F.col("pos"))
        .cast("bigint")
        .alias("gap_abs"),
        F.sum(F.abs(F.col("sum_p_micro") - 1000000 * F.col("pos")))
        .over(w)
        .cast("bigint")
        .alias("_gap_total"),
        F.col("n"),
    ).select(
        "bin",
        "n_b",
        "sum_p_micro",
        "pos",
        "conf_micro",
        "acc_micro",
        "gap_abs",
        F.expr("CAST(_gap_total div n AS BIGINT)").alias("ece_micro"),
    )


# ---------------------------------------------------------------------------
# ml_linear_shap
# ---------------------------------------------------------------------------


def _linear_shap_sql() -> str:
    return f"""{_RIDGE_WITH},
    weights AS (
      SELECT grp, n,
             CAST(CASE WHEN n1 >= 0 THEN n1 // det
                       ELSE -((-n1) // det) END AS BIGINT) AS b1_micro,
             CAST(CASE WHEN n2 >= 0 THEN n2 // det
                       ELSE -((-n2) // det) END AS BIGINT) AS b2_micro,
             m1, m2
      FROM sol),
    phi AS (
      SELECT p.grp,
             abs(w.b1_micro * (p.x1 - w.m1)) AS a1,
             abs(w.b2_micro * (p.x2 - w.m2)) AS a2
      FROM pts p JOIN weights w ON p.grp = w.grp),
    sums AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a1) AS HUGEINT) AS s1,
             CAST(sum(a2) AS HUGEINT) AS s2
      FROM phi GROUP BY 1),
    longf AS (
      SELECT s.grp, f.feature,
             CASE f.feature WHEN 'quantity' THEN w.b1_micro
                            ELSE w.b2_micro END AS weight_micro,
             CASE f.feature WHEN 'quantity' THEN s.s1 ELSE s.s2 END AS sa,
             s.n, s.s1 + s.s2 AS st
      FROM sums s
      JOIN weights w ON s.grp = w.grp
      CROSS JOIN (SELECT unnest(['quantity', 'tax_pct']) AS feature) f)
    SELECT grp AS l_linestatus, feature,
           CAST(weight_micro AS BIGINT) AS weight_micro,
           CAST(sa // n AS BIGINT) AS mean_abs_phi_micro,
           CAST(CASE WHEN st = 0 THEN 0
                ELSE sa * 1000 // st END AS BIGINT) AS share_milli
    FROM longf
"""


@register(
    "ml_linear_shap",
    _linear_shap_sql(),
    "exact SHAP attributions for the fitted ml_ridge_2feature model: "
    "for a linear model under feature independence the Shapley value "
    "is closed-form phi_i(x) = b_i * (x_i - mean_i), so global "
    "importance (mean |phi| per feature, in the model's micro units) "
    "and each feature's share of total attribution are EXACT integers "
    "on the same anchor-centered quantities the trainer used — the "
    "explainability companion run before anyone acts on fitted "
    "coefficients (answers 'which feature actually drives the "
    "predictions', which raw coefficients cannot: b is per-unit, phi "
    "is per-unit x realized spread). The oracle re-derives the "
    "weights through the CTE chain shared verbatim with the trainer. "
    "Shape: the ridge's one-scan moment agg + one broadcast weights "
    "join; per-row phi is map-only; output is 2 features x |groups|",
)
def ml_linear_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_linestatus").alias("grp"),
        F.round("l_quantity", 0).cast("bigint").alias("x1"),
        F.round(F.col("l_tax") * 100, 0).cast("bigint").alias("x2"),
    )
    # the fit frame carries the SAME anchor means the ridge trainer
    # used (identical agg over identical projections), so the SHAP
    # side reuses them instead of re-scanning lineitem for its own
    # moment agg; checkpointed lazily — the two broadcast projections
    # below would otherwise each re-run the 2-scan fit lineage (r14)
    fit = _ridge_fit(spark, sf_dir).localCheckpoint(eager=False)
    anchors = fit.select("grp", "m1", "m2")
    weights = fit.select("grp", "b1_micro", "b2_micro")
    phi = (
        pts.join(F.broadcast(anchors), "grp")
        .join(F.broadcast(weights), "grp")
        .select(
            "grp",
            F.abs(F.col("b1_micro") * (F.col("x1") - F.col("m1"))).alias(
                "a1"
            ),
            F.abs(F.col("b2_micro") * (F.col("x2") - F.col("m2"))).alias(
                "a2"
            ),
        )
    )
    dec = "decimal(38,0)"
    sums = phi.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a1").cast(dec)).alias("s1"),
        F.sum(F.col("a2").cast(dec)).alias("s2"),
    )
    fdim = F.broadcast(
        spark.createDataFrame(
            [("quantity",), ("tax_pct",)], "feature string"
        )
    )
    longf = (
        sums.join(F.broadcast(weights), "grp")
        .crossJoin(fdim)
        .select(
            F.col("grp").alias("l_linestatus"),
            "feature",
            F.when(F.col("feature") == "quantity", F.col("b1_micro"))
            .otherwise(F.col("b2_micro"))
            .cast("bigint")
            .alias("weight_micro"),
            F.when(F.col("feature") == "quantity", F.col("s1"))
            .otherwise(F.col("s2"))
            .alias("sa"),
            "n",
            (F.col("s1") + F.col("s2")).alias("st"),
        )
    )
    return longf.select(
        "l_linestatus",
        "feature",
        "weight_micro",
        F.expr("CAST(sa div n AS BIGINT)").alias("mean_abs_phi_micro"),
        F.expr(
            "CAST(CASE WHEN st = 0 THEN 0"
            " ELSE sa * 1000 div st END AS BIGINT)"
        ).alias("share_milli"),
    )


# ---------------------------------------------------------------------------
# ml_auprc_exact
# ---------------------------------------------------------------------------

_AUPRC_SQL = """
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS npos
      FROM s),
    p AS (
      SELECT y,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) END AS p_micro
      FROM s),
    g AS (
      SELECT p_micro, CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS pos_k
      FROM p GROUP BY 1),
    c AS (
      SELECT p_micro, pos_k,
             sum(pos_k) OVER (ORDER BY p_micro DESC) AS tp,
             sum(n_k) OVER (ORDER BY p_micro DESC) AS pred
      FROM g),
    terms AS (
      SELECT CAST(pos_k AS HUGEINT) * tp * 1000000000
             // ((SELECT npos FROM t) * pred) AS term_nano
      FROM c WHERE pos_k > 0)
    SELECT CAST((SELECT n FROM t) AS BIGINT) AS n,
           CAST((SELECT npos FROM t) AS BIGINT) AS npos,
           CAST((SELECT count(*) FROM g) AS BIGINT) AS n_thresholds,
           CAST(sum(term_nano) AS BIGINT) AS ap_nano
    FROM terms
"""


@register(
    "ml_auprc_exact",
    _AUPRC_SQL,
    "area under the precision-recall curve (average precision, step "
    "form AP = sum over distinct-score thresholds of dR_k * P_k with "
    "ties grouped) for the shared min-max score model — THE metric "
    "for imbalanced classes where ROC-AUC flatters (a classifier can "
    "score 0.95 ROC on a 1% class while its precision is garbage; AP "
    "weights exactly where precision lives). Completes the eval "
    "family: ml_auc_exact is the ROC area, ml_pr_curve the PR points, "
    "this the PR area. EXACT: each term dtp * tp * 1e9 div (npos * "
    "pred) is floor-divided to integer nano-units BEFORE the sum — no "
    "libm, no rounding discipline needed, bit-identical by "
    "construction. Shape: one fact hash-agg into the distinct-score "
    "dim; the cumulative windows run over that value-domain-bounded "
    "dim (the ml_auc_exact discipline), never over rows",
)
def ml_auprc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    t = s.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
    )
    p = s.crossJoin(F.broadcast(t)).select(
        "y",
        "n",
        "npos",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN 500000"
            " ELSE (cents - lo) * 1000000 div (hi - lo) END"
        ).alias("p_micro"),
    )
    g = p.groupBy("p_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("pos_k"),
        F.first("n").alias("n"),
        F.first("npos").alias("npos"),
    )
    w = (
        Window.orderBy(F.desc("p_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "pos_k",
        "n",
        "npos",
        F.sum("pos_k").over(w).alias("tp"),
        F.sum("n_k").over(w).alias("pred"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_thresholds"),
    )
    terms = c.filter(F.col("pos_k") > 0).select(
        "n",
        "npos",
        "n_thresholds",
        F.expr(
            "CAST(pos_k AS DECIMAL(38,0)) * tp * 1000000000"
            " div (npos * pred)"
        ).alias("term_nano"),
    )
    return terms.groupBy().agg(
        F.first("n").alias("n"),
        F.first("npos").alias("npos"),
        F.first("n_thresholds").cast("bigint").alias("n_thresholds"),
        F.sum("term_nano").cast("bigint").alias("ap_nano"),
    )


# ---------------------------------------------------------------------------
# ml_cost_threshold
# ---------------------------------------------------------------------------

_COST_FP = 1

_COST_FN = 5

_COST_THRESHOLD_SQL = f"""
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS npos
      FROM s),
    p AS (
      SELECT y,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) END AS p_micro
      FROM s),
    g AS (
      SELECT p_micro, CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS pos_k
      FROM p GROUP BY 1),
    c AS (
      SELECT p_micro,
             sum(pos_k) OVER (ORDER BY p_micro DESC) AS tp,
             sum(n_k - pos_k) OVER (ORDER BY p_micro DESC) AS fp
      FROM g),
    costs AS (
      SELECT p_micro, tp, fp,
             (SELECT npos FROM t) - tp AS fn,
             {_COST_FP} * fp
               + {_COST_FN} * ((SELECT npos FROM t) - tp) AS cost
      FROM c),
    best AS (
      SELECT * FROM costs
      ORDER BY cost, p_micro DESC LIMIT 1)
    SELECT CAST(b.p_micro AS BIGINT) AS best_threshold_micro,
           CAST(b.tp AS BIGINT) AS tp,
           CAST(b.fp AS BIGINT) AS fp,
           CAST(b.fn AS BIGINT) AS fn,
           CAST(b.cost AS BIGINT) AS best_cost,
           CAST({_COST_FN} * (SELECT npos FROM t) AS BIGINT)
             AS all_negative_cost
    FROM best b
"""


@register(
    "ml_cost_threshold",
    _COST_THRESHOLD_SQL,
    "cost-sensitive operating-point selection over the shared min-max "
    "score model: with FP cost 1 and FN cost 5 (the asymmetric-cost "
    "reality of fraud/abuse/medical screens), sweep EVERY distinct "
    "score threshold (predict positive at p >= t) and return the "
    "argmin-cost point — highest threshold on ties — next to the "
    "all-negative baseline cost. The step AFTER the curves: "
    "ml_auc_exact / ml_pr_curve / ml_auprc_exact grade the ranking, "
    "this picks where to cut it, and it is the number a deployment "
    "actually configures. Exact integers end-to-end (costs are "
    "integer counts times literal integer costs). Shape: one fact "
    "hash-agg into the distinct-score dim; cumulative windows and the "
    "top-1 ordering run over that value-domain-bounded dim only",
)
def ml_cost_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    t = s.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
    )
    p = s.crossJoin(F.broadcast(t)).select(
        "y",
        "npos",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN 500000"
            " ELSE (cents - lo) * 1000000 div (hi - lo) END"
        ).alias("p_micro"),
    )
    g = p.groupBy("p_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("pos_k"),
        F.first("npos").alias("npos"),
    )
    w = (
        Window.orderBy(F.desc("p_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    costs = g.select(
        "p_micro",
        "npos",
        F.sum("pos_k").over(w).alias("tp"),
        F.sum(F.col("n_k") - F.col("pos_k")).over(w).alias("fp"),
    ).select(
        "p_micro",
        "npos",
        "tp",
        "fp",
        (F.col("npos") - F.col("tp")).alias("fn"),
        (
            F.lit(_COST_FP) * F.col("fp")
            + F.lit(_COST_FN) * (F.col("npos") - F.col("tp"))
        ).alias("cost"),
    )
    best = costs.orderBy("cost", F.desc("p_micro")).limit(1)
    return best.select(
        F.col("p_micro").cast("bigint").alias("best_threshold_micro"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("cost").cast("bigint").alias("best_cost"),
        (F.lit(_COST_FN) * F.col("npos"))
        .cast("bigint")
        .alias("all_negative_cost"),
    )


# ---------------------------------------------------------------------------
# ml_ks_statistic
# ---------------------------------------------------------------------------

_KS_SQL = """
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS npos,
             CAST(count(*) - sum(y) AS BIGINT) AS nneg
      FROM s),
    p AS (
      SELECT y,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) END AS p_micro
      FROM s),
    g AS (
      SELECT p_micro, CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS pos_k
      FROM p GROUP BY 1),
    c AS (
      SELECT p_micro,
             sum(pos_k) OVER (ORDER BY p_micro) AS cpos,
             sum(n_k - pos_k) OVER (ORDER BY p_micro) AS cneg
      FROM g),
    d AS (
      SELECT p_micro,
             abs(CAST(cpos AS HUGEINT) * (SELECT nneg FROM t)
                 - CAST(cneg AS HUGEINT) * (SELECT npos FROM t))
               AS d_scaled,
             row_number() OVER (
               ORDER BY abs(CAST(cpos AS HUGEINT) * (SELECT nneg FROM t)
                            - CAST(cneg AS HUGEINT)
                              * (SELECT npos FROM t)) DESC,
                        p_micro DESC) AS rn,
             count(*) OVER () AS n_thresholds
      FROM c)
    SELECT CAST((SELECT n FROM t) AS BIGINT) AS n,
           CAST((SELECT npos FROM t) AS BIGINT) AS npos,
           CAST((SELECT nneg FROM t) AS BIGINT) AS nneg,
           CAST(n_thresholds AS BIGINT) AS n_thresholds,
           CAST(p_micro AS BIGINT) AS at_threshold_micro,
           CAST(d_scaled AS BIGINT) AS d_scaled,
           CAST(CASE WHEN (SELECT npos FROM t) = 0
                       OR (SELECT nneg FROM t) = 0 THEN 0
                ELSE d_scaled * 1000000000
                     // (CAST((SELECT npos FROM t) AS HUGEINT)
                         * (SELECT nneg FROM t)) END AS BIGINT) AS ks_nano
    FROM d WHERE rn = 1
"""


@register(
    "ml_ks_statistic",
    _KS_SQL,
    "two-sample Kolmogorov-Smirnov statistic between the positive- and "
    "negative-class score distributions of the shared min-max score "
    "model: sup over distinct thresholds of |F_pos(t) - F_neg(t)|, "
    "reported with the threshold attaining it (highest on ties) — THE "
    "distribution-separation number credit-risk teams quote next to "
    "AUC (a model can rank acceptably while its score distributions "
    "barely separate at any single cut; KS finds the best cut and says "
    "how wide the gap is there — it is also max(tpr - fpr), the "
    "Youden point of the ROC). EXACT: each CDF gap is put over the "
    "common denominator npos*nneg so the sup is an integer max; only "
    "the final report divides (floor, nano units). Shape: one fact "
    "hash-agg into the distinct-score dim; the cumulative windows and "
    "the argmax run over that value-domain-bounded dim (the "
    "ml_auc_exact discipline), never over rows",
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    t = s.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("nneg"),
    )
    p = s.crossJoin(F.broadcast(t)).select(
        "y",
        "n",
        "npos",
        "nneg",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN 500000"
            " ELSE (cents - lo) * 1000000 div (hi - lo) END"
        ).alias("p_micro"),
    )
    g = p.groupBy("p_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("pos_k"),
        F.first("n").alias("n"),
        F.first("npos").alias("npos"),
        F.first("nneg").alias("nneg"),
    )
    w = Window.orderBy("p_micro").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = "decimal(38,0)"
    c = g.select(
        "p_micro",
        "n",
        "npos",
        "nneg",
        F.sum("pos_k").over(w).alias("cpos"),
        F.sum(F.col("n_k") - F.col("pos_k")).over(w).alias("cneg"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_thresholds"),
    ).select(
        "p_micro",
        "n",
        "npos",
        "nneg",
        "n_thresholds",
        F.abs(
            F.col("cpos").cast(dec) * F.col("nneg")
            - F.col("cneg").cast(dec) * F.col("npos")
        ).alias("d_scaled"),
    )
    rn = Window.orderBy(F.desc("d_scaled"), F.desc("p_micro"))
    d = c.withColumn("rn", F.row_number().over(rn)).filter(F.col("rn") == 1)
    return d.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("npos").cast("bigint").alias("npos"),
        F.col("nneg").cast("bigint").alias("nneg"),
        F.col("n_thresholds").cast("bigint").alias("n_thresholds"),
        F.col("p_micro").cast("bigint").alias("at_threshold_micro"),
        F.col("d_scaled").cast("bigint").alias("d_scaled"),
        F.expr(
            "CAST(CASE WHEN npos = 0 OR nneg = 0 THEN 0"
            " ELSE d_scaled * 1000000000"
            " div (CAST(npos AS DECIMAL(38,0)) * nneg) END AS BIGINT)"
        ).alias("ks_nano"),
    )


# ---------------------------------------------------------------------------
# ml_mrr_exact
# ---------------------------------------------------------------------------

_MRR_SQL = f"""
    WITH {PANEL_TOPK_CTE},
    hits AS (
      SELECT query_id, qlabel,
             min(CASE WHEN clabel = qlabel AND rank <= 10
                      THEN rank END) AS first_rel
      FROM ranked GROUP BY 1, 2),
    rr AS (
      SELECT qlabel,
             CASE WHEN first_rel IS NULL THEN 0
                  ELSE 2520 // first_rel END AS rr_scaled
      FROM hits)
    SELECT CAST(qlabel AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN rr_scaled > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           CAST(sum(rr_scaled) AS BIGINT) AS sum_rr_scaled,
           CAST(sum(rr_scaled) * 1000000 // (2520 * count(*)) AS BIGINT)
             AS mrr_micro
    FROM rr GROUP BY 1
"""


@register(
    "ml_mrr_exact",
    _MRR_SQL,
    "mean reciprocal rank of the first SAME-LABEL neighbor in the "
    "brute-force cosine top-10, per label, over a FIXED 200-vector "
    "eval panel querying the full corpus (self excluded) — THE "
    "find-one-relevant retrieval metric "
    "next to recall/NDCG (ml_ndcg_exact grades a graded spend ranking; "
    "MRR grades embedding-space label purity, the number that decides "
    "whether nearest-neighbor curation / kNN labeling is usable at "
    "all; queries with no top-10 hit contribute 0). EXACT: reciprocal "
    "ranks are scaled by 2520 = lcm(1..10), so 1/rank is an integer "
    "for every rank <= 10 and only the final mean divides (floor, "
    "micro units); ranking ties are round-9 + vec_id, the ANN family "
    "convention. Shape: the candidate stage is the documented "
    "brute-force baseline over the PANEL (broadcast 200-query side, "
    "corpus scanned once — cost is linear in the corpus, the panel is "
    "the eval-set convention every production metric uses; at scale "
    "the candidate generator swaps to ivf_topk and the eval "
    "arithmetic is unchanged); everything after the top-10 is "
    "label-dim-sized",
)
def ml_mrr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.plans.eval_panel import labeled_panel_topk

    hits = (
        labeled_panel_topk(spark, sf_dir, _t)
        .groupBy("query_id", "qlabel")
        .agg(
            F.min(
                F.when(
                    F.col("clabel") == F.col("qlabel"), F.col("rank")
                )
            ).alias("first_rel")
        )
    )
    rr = hits.select(
        "qlabel",
        F.expr(
            "CASE WHEN first_rel IS NULL THEN 0"
            " ELSE 2520 div first_rel END"
        ).alias("rr_scaled"),
    )
    return rr.groupBy(F.col("qlabel").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("rr_scaled") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hit"),
        F.sum("rr_scaled").cast("bigint").alias("sum_rr_scaled"),
        F.expr(
            "CAST(sum(rr_scaled) * 1000000 div (2520 * count(*))"
            " AS BIGINT)"
        ).alias("mrr_micro"),
    )


# ---------------------------------------------------------------------------
# ml_error_slices
# ---------------------------------------------------------------------------

_ERROR_SLICES_SQL = """
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             event_type,
             CAST(((((epoch_us(ts)
                      - (((epoch_us(ts) % 86400000000) + 86400000000)
                         % 86400000000))
                     // 86400000000) % 7) + 7) % 7 AS INT) AS dow
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS npos
      FROM s),
    p AS (
      SELECT y, event_type, dow,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) END AS p_micro
      FROM s),
    g AS (
      SELECT p_micro, CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS pos_k
      FROM p GROUP BY 1),
    c AS (
      SELECT p_micro,
             sum(pos_k) OVER (ORDER BY p_micro DESC) AS tp,
             sum(n_k - pos_k) OVER (ORDER BY p_micro DESC) AS fp
      FROM g),
    best AS MATERIALIZED (
      SELECT p_micro AS thr FROM (
        SELECT p_micro,
               row_number() OVER (
                 ORDER BY 1 * fp + 5 * ((SELECT npos FROM t) - tp),
                          p_micro DESC) AS rn
        FROM c) b
      WHERE rn = 1),
    sliced AS (
      SELECT event_type, dow,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN p_micro >= (SELECT thr FROM best)
                            AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS fp,
             CAST(sum(CASE WHEN p_micro < (SELECT thr FROM best)
                            AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS fn
      FROM p GROUP BY 1, 2),
    ranked AS (
      SELECT *,
             (fp + fn) * 1000 // n AS err_milli,
             row_number() OVER (
               ORDER BY (fp + fn) * 1000 // n DESC, event_type, dow)
               AS rn
      FROM sliced)
    SELECT CAST(rn AS INT) AS rn, event_type, CAST(dow AS INT) AS dow,
           n, fp, fn,
           CAST(err_milli AS BIGINT) AS err_milli,
           CAST((SELECT thr FROM best) AS BIGINT) AS threshold_micro
    FROM ranked WHERE rn <= 5
"""


@register(
    "ml_error_slices",
    _ERROR_SLICES_SQL,
    "worst-5 (event_type, day-of-week) slices of the shared min-max "
    "score model operated at its COST-OPTIMAL threshold (FP=1/FN=5, "
    "re-derived through the identical CTE chain as ml_cost_threshold, "
    "highest threshold on ties): per slice the row count, false "
    "positives, false negatives, and error rate — the error-analysis "
    "step AFTER threshold selection (aggregate cost says how good the "
    "cut is; slicing says WHERE it fails — the fairness/debug report "
    "every deployment runs before shipping a cut). EXACT: the "
    "threshold sweep is integer (the ml_cost_threshold discipline); "
    "slice confusions are integer counts; err_milli floor-divides. "
    "Day-of-week uses the subtract-pmod floor-day form (pre-1970 "
    "safe). Shape: one fact hash-agg to the distinct-score dim for "
    "the sweep (windows on that bounded dim), one fact hash-agg to "
    "the <= |types|x7 slice dim for the confusion; the top-5 window "
    "runs over 35 slice rows",
)
def ml_error_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        "event_type",
        F.expr(
            "CAST(pmod((unix_micros(ts) - pmod(unix_micros(ts), "
            "86400000000)) div 86400000000, 7) AS INT)"
        ).alias("dow"),
    )
    t = s.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
    )
    p = s.crossJoin(F.broadcast(t)).select(
        "y",
        "event_type",
        "dow",
        "npos",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN 500000"
            " ELSE (cents - lo) * 1000000 div (hi - lo) END"
        ).alias("p_micro"),
    )
    g = p.groupBy("p_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("pos_k"),
        F.first("npos").alias("npos"),
    )
    wdesc = Window.orderBy(F.desc("p_micro")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        "p_micro",
        "npos",
        F.sum("pos_k").over(wdesc).alias("tp"),
        F.sum(F.col("n_k") - F.col("pos_k")).over(wdesc).alias("fp"),
    )
    wbest = Window.orderBy(
        (F.lit(1) * F.col("fp") + F.lit(5) * (F.col("npos") - F.col("tp"))),
        F.desc("p_micro"),
    )
    best = (
        c.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(F.col("p_micro").alias("thr"))
    )
    sliced = (
        p.crossJoin(F.broadcast(best))
        .groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(
                    (F.col("p_micro") >= F.col("thr"))
                    & (F.col("y") == 0),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(
                F.when(
                    (F.col("p_micro") < F.col("thr"))
                    & (F.col("y") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("fn"),
            F.first("thr").alias("thr"),
        )
    )
    wrank = Window.orderBy(
        F.desc(F.expr("(fp + fn) * 1000 div n")),
        F.col("event_type"),
        F.col("dow"),
    )
    return (
        sliced.withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("rn").cast("int").alias("rn"),
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n",
            "fp",
            "fn",
            F.expr("CAST((fp + fn) * 1000 div n AS BIGINT)").alias(
                "err_milli"
            ),
            F.col("thr").cast("bigint").alias("threshold_micro"),
        )
    )


# ---------------------------------------------------------------------------
# ml_mcnemar_test
# ---------------------------------------------------------------------------

_MCNEMAR_SQL = """
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN CAST(((((epoch_us(ts)
                      - (((epoch_us(ts) % 86400000000) + 86400000000)
                         % 86400000000))
                     // 86400000000) % 7) + 7) % 7 AS INT) >= 5
                  THEN 1 ELSE 0 END AS pred_b
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi FROM s),
    p AS (
      SELECT y, pred_b,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 1
                  WHEN (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) >= 500000 THEN 1
                  ELSE 0 END AS pred_a
      FROM s),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pred_a = y AND pred_b = y
                           THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
             CAST(sum(CASE WHEN pred_a = y AND pred_b <> y
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN pred_a <> y AND pred_b = y
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN pred_a <> y AND pred_b <> y
                           THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong,
             CAST(sum(CASE WHEN pred_a = y THEN 1 ELSE 0 END) AS BIGINT)
               AS acc_a_n,
             CAST(sum(CASE WHEN pred_b = y THEN 1 ELSE 0 END) AS BIGINT)
               AS acc_b_n
      FROM p)
    SELECT n, both_right, b, c, both_wrong,
           CAST(acc_a_n * 1000000 // n AS BIGINT) AS acc_a_micro,
           CAST(acc_b_n * 1000000 // n AS BIGINT) AS acc_b_micro,
           CAST(CASE WHEN b + c = 0 THEN 0
                ELSE (b - c) * (b - c) * 1000 // (b + c) END AS BIGINT)
             AS mcnemar_milli
    FROM cells
"""


@register(
    "ml_mcnemar_test",
    _MCNEMAR_SQL,
    "McNemar's paired test comparing the min-max score classifier (cut "
    "at p >= 0.5) against a day-of-week heuristic baseline (weekend => "
    "positive) on IDENTICAL rows: the 2x2 agreement table "
    "(both-right / only-A / only-B / both-wrong), both accuracies, and "
    "the McNemar statistic (b-c)^2/(b+c) in milli — THE test for 'is "
    "model A actually better than model B' (comparing two standalone "
    "accuracies throws away the pairing; McNemar conditions on the "
    "discordant pairs, where exactly one classifier is right — the "
    "same 1% accuracy edge is decisive if one-sided and noise if "
    "symmetric). Completes the eval family's comparison axis: "
    "ab_ttest_welch compares METRIC MEANS across arms, this compares "
    "CLASSIFIERS on one dataset. EXACT: integer cells; the statistic "
    "is one integer ratio (b + c = 0 reports 0); day-of-week uses the "
    "subtract-pmod floor-day form. Shape: two map-side "
    "classifications (score bounds from a 1-row broadcast) and ONE "
    "global 4-cell confusion agg — the fact table is scanned once, "
    "nothing bigger than one row ever shuffles",
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.expr(
            "CASE WHEN CAST(pmod((unix_micros(ts) - pmod(unix_micros(ts),"
            " 86400000000)) div 86400000000, 7) AS INT) >= 5"
            " THEN 1 ELSE 0 END"
        ).alias("pred_b"),
    )
    t = s.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    p = s.crossJoin(F.broadcast(t)).select(
        "y",
        "pred_b",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN 1"
            " WHEN (cents - lo) * 1000000 div (hi - lo) >= 500000 THEN 1"
            " ELSE 0 END"
        ).alias("pred_a"),
    )
    cells = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("y"))
                & (F.col("pred_b") == F.col("y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("both_right"),
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("y"))
                & (F.col("pred_b") != F.col("y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("y"))
                & (F.col("pred_b") == F.col("y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("y"))
                & (F.col("pred_b") != F.col("y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("both_wrong"),
        F.sum(F.when(F.col("pred_a") == F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("acc_a_n"),
        F.sum(F.when(F.col("pred_b") == F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("acc_b_n"),
    )
    return cells.select(
        "n",
        "both_right",
        "b",
        "c",
        "both_wrong",
        F.expr("CAST(acc_a_n * 1000000 div n AS BIGINT)").alias(
            "acc_a_micro"
        ),
        F.expr("CAST(acc_b_n * 1000000 div n AS BIGINT)").alias(
            "acc_b_micro"
        ),
        F.expr(
            "CAST(CASE WHEN b + c = 0 THEN 0"
            " ELSE (b - c) * (b - c) * 1000 div (b + c) END AS BIGINT)"
        ).alias("mcnemar_milli"),
    )


# ---------------------------------------------------------------------------
# ml_threshold_transfer
# ---------------------------------------------------------------------------

_TRANSFER_SQL = """
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             epoch_us(ts) // 86400000000 // 7 AS w
      FROM events),
    span AS MATERIALIZED (
      SELECT (min(w) + max(w)) // 2 + 1 AS cut FROM s),
    train AS (SELECT * FROM s WHERE w < (SELECT cut FROM span)),
    test AS (SELECT * FROM s WHERE w >= (SELECT cut FROM span)),
    tb AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(sum(y) AS BIGINT) AS npos
      FROM train),
    tr AS (
      SELECT y,
             CASE WHEN (SELECT hi - lo FROM tb) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM tb)) * 1000000
                       // (SELECT hi - lo FROM tb) END AS p
      FROM train),
    te AS (
      SELECT y,
             CASE WHEN (SELECT hi - lo FROM tb) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM tb)) * 1000000
                       // (SELECT hi - lo FROM tb) END AS p
      FROM test),
    gtr AS (
      SELECT p, CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS pos_k
      FROM tr GROUP BY 1),
    ctr AS (
      SELECT p,
             sum(pos_k) OVER (ORDER BY p DESC) AS tp,
             sum(n_k - pos_k) OVER (ORDER BY p DESC) AS fp
      FROM gtr),
    best_tr AS MATERIALIZED (
      SELECT p AS thr FROM (
        SELECT p, row_number() OVER (
          ORDER BY fp + 5 * ((SELECT npos FROM tb) - tp), p DESC) AS rn
        FROM ctr) t
      WHERE rn = 1),
    tstats AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(y) AS BIGINT) AS npos_test,
             CAST(sum(CASE WHEN p >= (SELECT thr FROM best_tr)
                            AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS fp_at,
             CAST(sum(CASE WHEN p < (SELECT thr FROM best_tr)
                            AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS fn_at
      FROM te),
    gte AS (
      SELECT p, CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS pos_k
      FROM te GROUP BY 1),
    cte2 AS (
      SELECT p,
             sum(pos_k) OVER (ORDER BY p DESC) AS tp,
             sum(n_k - pos_k) OVER (ORDER BY p DESC) AS fp
      FROM gte),
    best_te AS MATERIALIZED (
      SELECT CAST(min(cost) AS BIGINT) AS best_cost FROM (
        SELECT fp + 5 * ((SELECT npos_test FROM tstats) - tp) AS cost
        FROM cte2) t)
    SELECT CAST((SELECT cut FROM span) AS BIGINT) AS cut_week,
           CAST((SELECT thr FROM best_tr) AS BIGINT) AS train_thr_micro,
           (SELECT n_test FROM tstats) AS n_test,
           (SELECT npos_test FROM tstats) AS npos_test,
           CAST((SELECT fp_at + 5 * fn_at FROM tstats) AS BIGINT)
             AS test_cost_at_train_thr,
           (SELECT best_cost FROM best_te) AS test_best_cost,
           CAST(CASE WHEN (SELECT best_cost FROM best_te) = 0 THEN 0
                ELSE ((SELECT fp_at + 5 * fn_at FROM tstats)
                      - (SELECT best_cost FROM best_te)) * 1000
                     // (SELECT best_cost FROM best_te) END AS BIGINT)
             AS regret_milli
"""


@register(
    "ml_threshold_transfer",
    _TRANSFER_SQL,
    "temporal generalization of the cost-optimal operating point: "
    "derive the FP=1/FN=5 optimal threshold on the TRAIN half of the "
    "timeline (weeks before the span midpoint), operate it FROZEN on "
    "the TEST half, and report the cost paid vs the test-optimal cost "
    "as regret in milli — the deployment question ml_cost_threshold "
    "cannot answer (a cut is tuned on history and operated on the "
    "future; regret is what the drift costs). Score normalization "
    "uses TRAIN bounds only — the production constraint — and the "
    "normalization is monotone, so the test-optimal sweep over "
    "train-scaled scores finds the true optimum. EXACT: both sweeps "
    "are the ml_cost_threshold integer discipline (ties: highest "
    "threshold); regret is one integer ratio (test_best = 0 reports "
    "0). Shape: two fact hash-aggs into distinct-score dims (train "
    "sweep, test sweep) plus one test confusion agg — all windows on "
    "value-domain-bounded dims, the fact table never joins itself",
)
def ml_threshold_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.expr("unix_micros(ts) div 86400000000 div 7").alias("w"),
    )
    span = s.agg(
        F.expr("(min(w) + max(w)) div 2 + 1").alias("cut")
    )
    sc = s.crossJoin(F.broadcast(span))
    train = sc.filter(F.col("w") < F.col("cut"))
    test = sc.filter(F.col("w") >= F.col("cut"))
    tb = train.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.sum("y").cast("bigint").alias("npos"),
    )
    p_expr = (
        "CASE WHEN hi - lo = 0 THEN 500000"
        " ELSE (cents - lo) * 1000000 div (hi - lo) END"
    )
    tr = train.crossJoin(F.broadcast(tb)).select(
        "y", "npos", F.expr(p_expr).alias("p")
    )
    te = test.crossJoin(F.broadcast(tb)).select(
        "y", F.expr(p_expr).alias("p")
    )
    gtr = tr.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("pos_k"),
        F.first("npos").alias("npos"),
    )
    wdesc = Window.orderBy(F.desc("p")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ctr = gtr.select(
        "p",
        "npos",
        F.sum("pos_k").over(wdesc).alias("tp"),
        F.sum(F.col("n_k") - F.col("pos_k")).over(wdesc).alias("fp"),
    )
    wbest = Window.orderBy(
        F.col("fp") + F.lit(5) * (F.col("npos") - F.col("tp")),
        F.desc("p"),
    )
    best_tr = (
        ctr.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(F.col("p").alias("thr"))
    )
    tec = te.crossJoin(F.broadcast(best_tr))
    tstats = tec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum("y").cast("bigint").alias("npos_test"),
        F.sum(
            F.when((F.col("p") >= F.col("thr")) & (F.col("y") == 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("fp_at"),
        F.sum(
            F.when((F.col("p") < F.col("thr")) & (F.col("y") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("fn_at"),
    )
    gte = te.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("pos_k"),
    )
    cte2 = gte.select(
        "p",
        F.sum("pos_k").over(wdesc).alias("tp"),
        F.sum(F.col("n_k") - F.col("pos_k")).over(wdesc).alias("fp"),
    )
    best_te = (
        cte2.crossJoin(F.broadcast(tstats.select("npos_test")))
        .select(
            (F.col("fp") + F.lit(5) * (F.col("npos_test") - F.col("tp")))
            .alias("cost")
        )
        .agg(F.min("cost").cast("bigint").alias("test_best_cost"))
    )
    return (
        span.crossJoin(F.broadcast(best_tr))
        .crossJoin(F.broadcast(tstats))
        .crossJoin(F.broadcast(best_te))
        .select(
            F.col("cut").cast("bigint").alias("cut_week"),
            F.col("thr").cast("bigint").alias("train_thr_micro"),
            "n_test",
            "npos_test",
            (F.col("fp_at") + F.lit(5) * F.col("fn_at"))
            .cast("bigint")
            .alias("test_cost_at_train_thr"),
            "test_best_cost",
            F.expr(
                "CAST(CASE WHEN test_best_cost = 0 THEN 0"
                " ELSE (fp_at + 5 * fn_at - test_best_cost) * 1000"
                " div test_best_cost END AS BIGINT)"
            ).alias("regret_milli"),
        )
    )


# ---------------------------------------------------------------------------
# ml_precision_at_k
# ---------------------------------------------------------------------------

_P_AT_K_SQL = f"""
    WITH {PANEL_TOPK_CTE},
    ks AS (SELECT unnest([1, 5, 10]) AS k),
    hits AS (
      SELECT r.qlabel, k.k, r.query_id,
             CAST(sum(CASE WHEN r.clabel = r.qlabel THEN 1 ELSE 0 END)
               AS BIGINT) AS h
      FROM ranked r JOIN ks k ON r.rank <= k.k
      GROUP BY 1, 2, 3),
    agg AS (
      SELECT qlabel, k,
             CAST(count(*) AS BIGINT) AS n_queries,
             CAST(sum(h) AS BIGINT) AS n_hits
      FROM hits GROUP BY 1, 2)
    SELECT CAST(qlabel AS INT) AS label, CAST(k AS INT) AS k,
           n_queries, n_hits,
           CAST(n_hits * 1000000 // (k * n_queries) AS BIGINT)
             AS precision_micro
    FROM agg
"""


@register(
    "ml_precision_at_k",
    _P_AT_K_SQL,
    "precision@1/5/10 of same-label retrieval over the IDENTICAL "
    "200-query brute-force panel as ml_mrr_exact: per (label, k), the "
    "query count, total same-label hits in the top k, and "
    "precision_micro = hits div (k * queries) — the set-quality "
    "companion of MRR (MRR grades where the FIRST relevant lands; P@k "
    "grades how much of the retrieved SET is relevant — a ranking can "
    "have high MRR and garbage P@10, and kNN labelers consume P@k). "
    "EXACT: integer hit counts, one floor division at the end; "
    "ranking ties are round-9 + vec_id, the ANN family convention. "
    "Shape: the fixed-panel candidate stage (cost linear in the "
    "corpus — the ml_mrr discipline; the scale swap is ivf_topk), a "
    "3-row k dim joined on rank <= k, then a (label x 3)-dim rollup",
)
def ml_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.plans.eval_panel import labeled_panel_topk

    ranked = labeled_panel_topk(spark, sf_dir, _t).select(
        "query_id",
        "qlabel",
        F.when(F.col("clabel") == F.col("qlabel"), 1)
        .otherwise(0)
        .alias("rel"),
        "rank",
    )
    ks = F.broadcast(
        spark.createDataFrame([(1,), (5,), (10,)], "k int")
    )
    hits = (
        ranked.join(ks, ranked["rank"] <= ks["k"])
        .groupBy("qlabel", "k", "query_id")
        .agg(F.sum("rel").cast("bigint").alias("h"))
    )
    agg = hits.groupBy("qlabel", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("h").cast("bigint").alias("n_hits"),
    )
    return agg.select(
        F.col("qlabel").cast("int").alias("label"),
        F.col("k").cast("int").alias("k"),
        "n_queries",
        "n_hits",
        F.expr(
            "CAST(n_hits * 1000000 div (k * n_queries) AS BIGINT)"
        ).alias("precision_micro"),
    )


# ---------------------------------------------------------------------------
# ml_calibration_drift
# ---------------------------------------------------------------------------

_CAL_DRIFT_SQL = """
    WITH s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             epoch_us(ts) // 86400000000 // 7 AS w
      FROM events),
    span AS MATERIALIZED (
      SELECT (min(w) + max(w)) // 2 + 1 AS cut FROM s),
    tb AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi
      FROM s WHERE w < (SELECT cut FROM span)),
    p AS (
      SELECT y, w >= (SELECT cut FROM span) AS is_test,
             least(CASE WHEN (SELECT hi - lo FROM tb) = 0 THEN 500000
                        ELSE (cents - (SELECT lo FROM tb)) * 1000000
                             // (SELECT hi - lo FROM tb) END, 999999)
               AS p_micro
      FROM s),
    b AS (
      SELECT CAST(least(greatest(p_micro, 0) // 100000, 9) AS INT)
               AS bin,
             is_test,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p_micro) AS BIGINT) AS sp,
             CAST(sum(y) AS BIGINT) AS pos
      FROM p GROUP BY 1, 2),
    wide AS (
      SELECT bin,
             CAST(coalesce(sum(CASE WHEN NOT is_test THEN n END), 0)
                  AS BIGINT) AS n_train,
             CAST(coalesce(sum(CASE WHEN NOT is_test THEN sp END), 0)
                  AS BIGINT) AS sp_train,
             CAST(coalesce(sum(CASE WHEN NOT is_test THEN pos END), 0)
                  AS BIGINT) AS pos_train,
             CAST(coalesce(sum(CASE WHEN is_test THEN n END), 0)
                  AS BIGINT) AS n_test,
             CAST(coalesce(sum(CASE WHEN is_test THEN pos END), 0)
                  AS BIGINT) AS pos_test
      FROM b GROUP BY 1),
    tot AS MATERIALIZED (
      SELECT CAST(sum(n_train) AS BIGINT) AS nt,
             CAST(sum(n_test) AS BIGINT) AS ne
      FROM wide)
    SELECT CAST(bin AS INT) AS bin,
           n_train, pos_train, n_test, pos_test,
           CAST(CASE WHEN n_train = 0 THEN 0
                ELSE sp_train // n_train END AS BIGINT)
             AS conf_train_micro,
           CAST(CASE WHEN n_train = 0 THEN 0
                ELSE pos_train * 1000000 // n_train END AS BIGINT)
             AS acc_train_micro,
           CAST(CASE WHEN n_test = 0 THEN 0
                ELSE pos_test * 1000000 // n_test END AS BIGINT)
             AS acc_test_micro,
           CAST(sum(abs(sp_train - 1000000 * pos_train)) OVER ()
                // (SELECT nt FROM tot) AS BIGINT) AS ece_train_micro,
           CAST(sum(CASE WHEN n_test = 0 THEN 0
                ELSE abs(sp_train * n_test // greatest(n_train, 1)
                         - 1000000 * pos_test) END) OVER ()
                // (SELECT ne FROM tot) AS BIGINT) AS ece_test_micro
    FROM wide
"""


@register(
    "ml_calibration_drift",
    _CAL_DRIFT_SQL,
    "calibration drift: the 10-bin reliability table built on the "
    "TRAIN half of the timeline (bins AND score bounds from train "
    "only — the production constraint; out-of-range test scores clamp "
    "into the edge bins) and re-filled with the TEST half — per bin "
    "train confidence vs train/test accuracy, plus both ECEs "
    "(test ECE uses the train-bin mean confidence scaled to the test "
    "fill, the frozen-calibration-card reading). "
    "ml_reliability_ece answers 'can the probabilities be trusted'; "
    "this answers 'for how long' — the temporal axis "
    "ml_threshold_transfer adds to ml_cost_threshold, applied to "
    "calibration. EXACT: integer micro units with floor division "
    "end-to-end; empty bins report 0 by convention. Shape: two fact "
    "hash-aggs into the shared 10-bin dim; the global windows run "
    "over those <= 20 bounded rows",
)
def ml_calibration_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.expr("unix_micros(ts) div 86400000000 div 7").alias("w"),
    )
    span = s.agg(F.expr("(min(w) + max(w)) div 2 + 1").alias("cut"))
    sc = s.crossJoin(F.broadcast(span))
    tb = sc.filter(F.col("w") < F.col("cut")).agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    p = sc.crossJoin(F.broadcast(tb)).select(
        "y",
        (F.col("w") >= F.col("cut")).alias("is_test"),
        F.expr(
            "least(CASE WHEN hi - lo = 0 THEN 500000"
            " ELSE (cents - lo) * 1000000 div (hi - lo) END, 999999)"
        ).alias("p_micro"),
    )
    b = p.groupBy(
        F.expr(
            "CAST(least(greatest(p_micro, 0) div 100000, 9) AS INT)"
        ).alias("bin"),
        "is_test",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p_micro").cast("bigint").alias("sp"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    wide = b.groupBy("bin").agg(
        F.coalesce(
            F.sum(F.when(~F.col("is_test"), F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_train"),
        F.coalesce(
            F.sum(F.when(~F.col("is_test"), F.col("sp"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sp_train"),
        F.coalesce(
            F.sum(F.when(~F.col("is_test"), F.col("pos"))), F.lit(0)
        )
        .cast("bigint")
        .alias("pos_train"),
        F.coalesce(
            F.sum(F.when(F.col("is_test"), F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_test"),
        F.coalesce(
            F.sum(F.when(F.col("is_test"), F.col("pos"))), F.lit(0)
        )
        .cast("bigint")
        .alias("pos_test"),
    )
    tot = wide.agg(
        F.sum("n_train").cast("bigint").alias("nt"),
        F.sum("n_test").cast("bigint").alias("ne"),
    )
    w_all = Window.partitionBy()
    return wide.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("int").alias("bin"),
        "n_train",
        "pos_train",
        "n_test",
        "pos_test",
        F.expr(
            "CAST(CASE WHEN n_train = 0 THEN 0"
            " ELSE sp_train div n_train END AS BIGINT)"
        ).alias("conf_train_micro"),
        F.expr(
            "CAST(CASE WHEN n_train = 0 THEN 0"
            " ELSE pos_train * 1000000 div n_train END AS BIGINT)"
        ).alias("acc_train_micro"),
        F.expr(
            "CAST(CASE WHEN n_test = 0 THEN 0"
            " ELSE pos_test * 1000000 div n_test END AS BIGINT)"
        ).alias("acc_test_micro"),
        F.expr(
            "CAST(sum(abs(sp_train - 1000000 * pos_train))"
            " OVER () div nt AS BIGINT)"
        ).alias("ece_train_micro"),
        F.expr(
            "CAST(sum(CASE WHEN n_test = 0 THEN 0"
            " ELSE abs(sp_train * n_test div greatest(n_train, 1)"
            " - 1000000 * pos_test) END)"
            " OVER () div ne AS BIGINT)"
        ).alias("ece_test_micro"),
    )


# ---------------------------------------------------------------------------
# ml_recall_at_k
# ---------------------------------------------------------------------------

_RECALL_SQL = f"""
    WITH {PANEL_TOPK_CTE},
    lbl AS MATERIALIZED (
      SELECT label, CAST(count(*) AS BIGINT) AS n_label
      FROM embeddings GROUP BY 1),
    ks AS (SELECT unnest([5, 10]) AS k),
    perq AS (
      SELECT r.query_id, r.qlabel, k.k,
             CAST(sum(CASE WHEN r.clabel = r.qlabel THEN 1 ELSE 0 END)
               AS BIGINT) AS h
      FROM ranked r JOIN ks k ON r.rank <= k.k
      GROUP BY 1, 2, 3),
    wit AS (
      SELECT p.qlabel, p.k, p.h,
             CAST(CASE WHEN l.n_label - 1 <= 0 THEN 0
                  ELSE p.h * 1000000 // (l.n_label - 1) END AS BIGINT)
               AS rec_micro
      FROM perq p JOIN lbl l ON l.label = p.qlabel)
    SELECT CAST(qlabel AS INT) AS label, CAST(k AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(h) AS BIGINT) AS n_hits,
           CAST(sum(rec_micro) // count(*) AS BIGINT)
             AS recall_macro_micro
    FROM wit GROUP BY 1, 2
"""


@register(
    "ml_recall_at_k",
    _RECALL_SQL,
    "recall@5/10 of same-label retrieval over the SHARED 200-query "
    "brute-force panel (plans/eval_panel.py — the single definition "
    "behind ml_mrr_exact and ml_precision_at_k, advisor r9 #3): per "
    "(label, k), query count, total same-label hits in the top k, and "
    "macro recall in micro where each query's denominator is its "
    "label's corpus population minus self — precision grades the "
    "retrieved set, MRR grades the first hit, recall grades how much "
    "of the RELEVANT CORPUS top-k surfaces (the dedup-sweep and "
    "coverage question; top-10 against a 50-member class caps at "
    "20%, and that cap is the point — it prices k against class "
    "size). EXACT: per-query floor recall averaged by floor division; "
    "labels with a single member report 0 by convention. Shape: the "
    "shared panel candidate stage (linear in the corpus, Arrow matmul "
    "kernel) plus a label-dim broadcast join and a (label x 2)-dim "
    "rollup",
)
def ml_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.plans.eval_panel import labeled_panel_topk

    emb = _t(spark, sf_dir, "embeddings")
    lbl = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_label")
    )
    ks = F.broadcast(spark.createDataFrame([(5,), (10,)], "k int"))
    ranked = labeled_panel_topk(spark, sf_dir, _t)
    perq = (
        ranked.join(ks, ranked["rank"] <= ks["k"])
        .groupBy("query_id", "qlabel", "k")
        .agg(
            F.sum(
                F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("h")
        )
    )
    wit = perq.join(
        F.broadcast(lbl), perq["qlabel"] == lbl["label"]
    ).select(
        "qlabel",
        "k",
        "h",
        F.expr(
            "CAST(CASE WHEN n_label - 1 <= 0 THEN 0"
            " ELSE h * 1000000 div (n_label - 1) END AS BIGINT)"
        ).alias("rec_micro"),
    )
    return wit.groupBy(
        F.col("qlabel").cast("int").alias("label"),
        F.col("k").cast("int").alias("k"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("h").cast("bigint").alias("n_hits"),
        F.expr(
            "CAST(sum(rec_micro) div count(1) AS BIGINT)"
        ).alias("recall_macro_micro"),
    )


# Shared events score model (the ml_reliability_ece convention): cents =
# round(value*100), y = purchase, p_micro = min-max over full data.
_SCORE_CTE = """s AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             user_id
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(count(*) AS BIGINT) AS n
      FROM s),
    p AS (
      SELECT y, user_id,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 500000
                  ELSE (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) END AS p_micro
      FROM s)"""


def _score_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        "user_id",
    )
    t = s.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "y",
        "user_id",
        "n",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN 500000"
            " ELSE (cents - lo) * 1000000 div (hi - lo) END"
        ).alias("p_micro"),
    )


# ---------------------------------------------------------------------------
# ml_fairness_parity
# ---------------------------------------------------------------------------

_FAIR_SQL = f"""
    WITH {_SCORE_CTE},
    g AS (
      SELECT CAST(user_id % 5 AS INT) AS cohort,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN p_micro >= 500000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_predpos,
             CAST(sum(CASE WHEN p_micro >= 500000 AND y = 1
               THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM p GROUP BY 1),
    rates AS (
      SELECT cohort, n, n_pos, n_predpos, tp,
             CAST(n_predpos - tp AS BIGINT) AS fp,
             CAST(n_predpos * 1000000 // n AS BIGINT) AS sel_micro,
             CAST(CASE WHEN n_pos = 0 THEN 0
               ELSE tp * 1000000 // n_pos END AS BIGINT) AS tpr_micro,
             CAST(CASE WHEN n - n_pos = 0 THEN 0
               ELSE (n_predpos - tp) * 1000000 // (n - n_pos) END
               AS BIGINT) AS fpr_micro
      FROM g)
    SELECT cohort, n, n_pos, n_predpos, tp, fp,
           sel_micro, tpr_micro, fpr_micro,
           CAST(max(sel_micro) OVER () - min(sel_micro) OVER ()
             AS BIGINT) AS dp_gap_micro,
           CAST(greatest(
             max(tpr_micro) OVER () - min(tpr_micro) OVER (),
             max(fpr_micro) OVER () - min(fpr_micro) OVER ())
             AS BIGINT) AS eo_gap_micro
    FROM rates
"""


@register(
    "ml_fairness_parity",
    _FAIR_SQL,
    "group-fairness audit over the shared min-max score model at the "
    "fixed 0.5 operating point, cohorts = user_id % 5 (deterministic "
    "protected-attribute stand-in): per cohort — population, positive "
    "base, selected count, TP/FP, selection rate, TPR, FPR in micro — "
    "plus the global demographic-parity gap (max-min selection rate) "
    "and equalized-odds gap (worse of the TPR and FPR spreads): the "
    "pre-deployment fairness gate next to the calibration gate "
    "(ml_reliability_ece) and the cost gate (ml_cost_threshold); "
    "empty classes report 0 rates by convention. EXACT: integer "
    "counts and floor-division rates end-to-end. Shape: ONE fact "
    "hash-agg into a 5-row cohort dim; the gap windows run over those "
    "5 bounded rows",
)
def ml_fairness_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _score_df(spark, sf_dir)
    g = p.groupBy(
        F.pmod(F.col("user_id"), F.lit(5)).cast("int").alias("cohort")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("p_micro") >= 500000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_predpos"),
        F.sum(
            F.when((F.col("p_micro") >= 500000) & (F.col("y") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
    )
    rates = g.select(
        "cohort",
        "n",
        "n_pos",
        "n_predpos",
        "tp",
        (F.col("n_predpos") - F.col("tp")).cast("bigint").alias("fp"),
        F.expr("CAST(n_predpos * 1000000 div n AS BIGINT)").alias(
            "sel_micro"
        ),
        F.expr(
            "CAST(CASE WHEN n_pos = 0 THEN 0"
            " ELSE tp * 1000000 div n_pos END AS BIGINT)"
        ).alias("tpr_micro"),
        F.expr(
            "CAST(CASE WHEN n - n_pos = 0 THEN 0"
            " ELSE (n_predpos - tp) * 1000000 div (n - n_pos) END"
            " AS BIGINT)"
        ).alias("fpr_micro"),
    )
    w = Window.partitionBy()
    return rates.select(
        "*",
        (F.max("sel_micro").over(w) - F.min("sel_micro").over(w))
        .cast("bigint")
        .alias("dp_gap_micro"),
        F.greatest(
            F.max("tpr_micro").over(w) - F.min("tpr_micro").over(w),
            F.max("fpr_micro").over(w) - F.min("fpr_micro").over(w),
        )
        .cast("bigint")
        .alias("eo_gap_micro"),
    )


# ---------------------------------------------------------------------------
# ml_brier_decomp
# ---------------------------------------------------------------------------

_BRIER_DECOMP_SQL = f"""
    WITH {_SCORE_CTE},
    b AS (
      SELECT least(p_micro // 100000, 9) AS bin,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(p_micro) AS BIGINT) AS sp,
             CAST(sum(y) AS BIGINT) AS pos
      FROM p GROUP BY 1),
    tot AS MATERIALIZED (
      SELECT CAST(sum(n_b) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS pos
      FROM b),
    base AS MATERIALIZED (
      SELECT CAST(pos * 1000000 // n AS BIGINT) AS base_micro FROM tot),
    terms AS (
      SELECT
        CAST(sum(CAST((sp // n_b - 1000000 * pos // n_b)
          * (sp // n_b - 1000000 * pos // n_b) AS HUGEINT) * n_b)
          // ((SELECT n FROM tot) * 1000000) AS BIGINT) AS rel_micro,
        CAST(sum(CAST((1000000 * pos // n_b - (SELECT base_micro FROM base))
          * (1000000 * pos // n_b - (SELECT base_micro FROM base))
          AS HUGEINT) * n_b)
          // ((SELECT n FROM tot) * 1000000) AS BIGINT) AS res_micro
      FROM b)
    SELECT (SELECT n FROM tot) AS n,
           (SELECT base_micro FROM base) AS base_micro,
           rel_micro, res_micro,
           CAST((SELECT base_micro FROM base)
             * (1000000 - (SELECT base_micro FROM base)) // 1000000
             AS BIGINT) AS unc_micro,
           CAST(rel_micro - res_micro
             + (SELECT base_micro FROM base)
               * (1000000 - (SELECT base_micro FROM base)) // 1000000
             AS BIGINT) AS brier_binned_micro
    FROM terms
"""


@register(
    "ml_brier_decomp",
    _BRIER_DECOMP_SQL,
    "Murphy decomposition of the Brier score over the shared 10-bin "
    "confidence deciles: reliability (mean squared calibration gap, "
    "weighted by bin mass), resolution (how far bin accuracies "
    "separate from the base rate), uncertainty (base-rate variance), "
    "and the binned-Brier identity REL - RES + UNC — "
    "ml_brier_log_loss gives the score, this explains WHERE it comes "
    "from (calibrated-but-useless vs sharp-but-miscalibrated are "
    "different failures with different fixes, and only the "
    "decomposition distinguishes them). EXACT: per-bin confidences "
    "and accuracies are floored to micro first (deterministic on both "
    "engines), squared gaps are carried in int128/decimal(38,0) — the "
    "ml_auc_exact discipline — and divided once at the end. Shape: "
    "ONE fact hash-agg into 10 bins; every later stage runs over "
    "those 10 bounded rows",
)
def ml_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _score_df(spark, sf_dir)
    b = p.groupBy(
        F.expr("least(p_micro div 100000, 9)").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("p_micro").cast("bigint").alias("sp"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = b.agg(
        F.sum("n_b").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("tpos"),
    ).withColumn(
        "base_micro", F.expr("CAST(tpos * 1000000 div n AS BIGINT)")
    )
    terms = (
        b.crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "CAST(sum(CAST((sp div n_b - 1000000 * pos div n_b)"
                " * (sp div n_b - 1000000 * pos div n_b)"
                " AS DECIMAL(38,0)) * n_b)"
                " div (max(n) * 1000000) AS BIGINT)"
            ).alias("rel_micro"),
            F.expr(
                "CAST(sum(CAST((1000000 * pos div n_b - base_micro)"
                " * (1000000 * pos div n_b - base_micro)"
                " AS DECIMAL(38,0)) * n_b)"
                " div (max(n) * 1000000) AS BIGINT)"
            ).alias("res_micro"),
            F.max("n").alias("n"),
            F.max("base_micro").alias("base_micro"),
        )
    )
    return terms.select(
        "n",
        "base_micro",
        "rel_micro",
        "res_micro",
        F.expr(
            "CAST(base_micro * (1000000 - base_micro) div 1000000"
            " AS BIGINT)"
        ).alias("unc_micro"),
        F.expr(
            "CAST(rel_micro - res_micro"
            " + base_micro * (1000000 - base_micro) div 1000000"
            " AS BIGINT)"
        ).alias("brier_binned_micro"),
    )


# ---------------------------------------------------------------------------
# ml_auc_by_group
# ---------------------------------------------------------------------------

_AUC_GRP_SQL = """
    WITH s AS (
      SELECT source, n_chars AS score,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS c0
      FROM documents GROUP BY source, n_chars),
    p AS (
      SELECT source, c1, c0,
             coalesce(sum(c0) OVER (PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c0_below
      FROM s),
    t AS (
      SELECT source,
             CAST(sum(c1) AS BIGINT) AS n_pos,
             CAST(sum(c0) AS BIGINT) AS n_neg,
             sum(CAST(2 * c0_below * c1 + c0 * c1 AS HUGEINT)) AS num
      FROM p GROUP BY 1)
    SELECT source, n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0
                ELSE round(CAST(num AS DOUBLE)
                  / (2.0 * CAST(n_pos AS DOUBLE)
                     * CAST(n_neg AS DOUBLE)), 6) END AS auc
    FROM t
"""


@register(
    "ml_auc_by_group",
    _AUC_GRP_SQL,
    "exact per-group ROC AUC (Mann-Whitney with half-credit ties) of "
    "score n_chars against label lang='en', grouped by SOURCE — the "
    "slice view behind ml_auc_exact's single number: a global AUC can "
    "hide a collapsed slice exactly as a global accuracy does "
    "(ml_error_slices), and per-domain ranking quality is what "
    "decides whether one quality model can gate every source. Groups "
    "with an empty class report 0.0 by convention. EXACT: the "
    "ml_auc_exact contingency-table discipline per group — corpus -> "
    "ONE (group, score) hash-agg -> prefix window bounded by group x "
    "value domain -> per-group agg; the numerator rides in "
    "int128/decimal(38,0)",
)
def ml_auc_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source", F.col("n_chars").alias("score")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("c0"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = s.select(
        "source",
        "c1",
        "c0",
        F.coalesce(F.sum("c0").over(w), F.lit(0)).alias("c0_below"),
    )
    t = p.groupBy("source").agg(
        F.sum("c1").cast("bigint").alias("n_pos"),
        F.sum("c0").cast("bigint").alias("n_neg"),
        F.sum(
            (2 * F.col("c0_below") * F.col("c1") + F.col("c0") * F.col("c1"))
            .cast("decimal(38,0)")
        ).alias("num"),
    )
    return t.select(
        "source",
        "n_pos",
        "n_neg",
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0"
            " ELSE round(CAST(num AS DOUBLE)"
            " / (2.0 * CAST(n_pos AS DOUBLE)"
            " * CAST(n_neg AS DOUBLE)), 6) END"
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# ml_risk_coverage
# ---------------------------------------------------------------------------

_RISK_COV_SQL = f"""
    WITH {_SCORE_CTE},
    scored AS (
      SELECT y,
             CASE WHEN p_micro >= 500000 THEN 1 ELSE 0 END AS pred,
             greatest(p_micro, 1000000 - p_micro) AS conf
      FROM p),
    ths AS (SELECT unnest([500000, 600000, 700000, 800000, 900000])
              AS thresh),
    cov AS (
      SELECT t.thresh,
             CAST(count(*) AS BIGINT) AS n_covered,
             CAST(sum(CASE WHEN s.pred = s.y THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct
      FROM scored s JOIN ths t ON s.conf >= t.thresh
      GROUP BY 1)
    SELECT CAST(d.thresh AS BIGINT) AS thresh,
           CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
           CAST(coalesce(c.n_correct, 0) AS BIGINT) AS n_correct,
           CAST(coalesce(c.n_covered, 0) * 1000000
             // (SELECT n FROM t) AS BIGINT) AS coverage_micro,
           CAST(CASE WHEN coalesce(c.n_covered, 0) = 0 THEN 0
             ELSE c.n_correct * 1000000 // c.n_covered END AS BIGINT)
             AS acc_micro
    FROM ths d LEFT JOIN cov c ON d.thresh = c.thresh
"""


@register(
    "ml_risk_coverage",
    _RISK_COV_SQL,
    "selective-prediction risk-coverage table over the shared score "
    "model: at confidence thresholds 0.5-0.9 (confidence = "
    "max(p, 1-p) at the fixed 0.5 operating point), the covered "
    "traffic share and the accuracy on the kept slice — abstention is "
    "the first mitigation a production classifier ships, and this "
    "prices the abstain/serve tradeoff (ml_cost_threshold tunes WHERE "
    "to cut; this tunes WHETHER to answer). Thresholds with no "
    "covered traffic report 0 by convention. EXACT: integer counts, "
    "floor-division rates. Shape: ONE fact scan fanned by a broadcast "
    "5-row threshold dim (theta join on conf >= t), then a 5-row "
    "hash-agg — no windows, no second scan",
)
def ml_risk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _score_df(spark, sf_dir)
    scored = p.select(
        "y",
        "n",
        F.when(F.col("p_micro") >= 500000, 1).otherwise(0).alias("pred"),
        F.greatest(
            F.col("p_micro"), F.lit(1000000) - F.col("p_micro")
        ).alias("conf"),
    )
    ths = F.broadcast(
        spark.createDataFrame(
            [(500000,), (600000,), (700000,), (800000,), (900000,)],
            "thresh bigint",
        )
    )
    cov = (
        scored.join(ths, scored["conf"] >= ths["thresh"])
        .groupBy("thresh")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_covered"),
            F.sum(F.when(F.col("pred") == F.col("y"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
    )
    n_total = p.agg(F.max("n").alias("n"))
    return (
        ths.join(cov, "thresh", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("thresh").cast("bigint").alias("thresh"),
            F.coalesce("n_covered", F.lit(0))
            .cast("bigint")
            .alias("n_covered"),
            F.coalesce("n_correct", F.lit(0))
            .cast("bigint")
            .alias("n_correct"),
            F.expr(
                "CAST(coalesce(n_covered, 0) * 1000000 div n AS BIGINT)"
            ).alias("coverage_micro"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_covered, 0) = 0 THEN 0"
                " ELSE n_correct * 1000000 div n_covered END AS BIGINT)"
            ).alias("acc_micro"),
        )
    )


# ---------------------------------------------------------------------------
# ml_confident_learning
# ---------------------------------------------------------------------------

_CL_SQL = f"""
    WITH {_SCORE_CTE},
    th AS MATERIALIZED (
      SELECT
        CAST(sum(CASE WHEN y = 1 THEN p_micro ELSE 0 END)
          // greatest(sum(y), 1) AS BIGINT) AS t1,
        CAST(sum(CASE WHEN y = 0 THEN 1000000 - p_micro ELSE 0 END)
          // greatest(count(*) - sum(y), 1) AS BIGINT) AS t0
      FROM p),
    joint AS (
      SELECT y,
             CASE
               WHEN p_micro >= (SELECT t1 FROM th)
                    AND 1000000 - p_micro >= (SELECT t0 FROM th)
                 THEN CASE WHEN p_micro >= 1000000 - p_micro
                   THEN 1 ELSE 0 END
               WHEN p_micro >= (SELECT t1 FROM th) THEN 1
               WHEN 1000000 - p_micro >= (SELECT t0 FROM th) THEN 0
               ELSE -1
             END AS pred
      FROM p),
    c AS (
      SELECT y, pred, CAST(count(*) AS BIGINT) AS n
      FROM joint WHERE pred >= 0 GROUP BY 1, 2)
    SELECT CAST(y AS INT) AS y, CAST(pred AS INT) AS pred, n,
           CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_micro,
           CAST(sum(CASE WHEN y <> pred THEN n ELSE 0 END) OVER ()
             * 1000000 // sum(n) OVER () AS BIGINT) AS noise_micro
    FROM c
"""


@register(
    "ml_confident_learning",
    _CL_SQL,
    "confident-learning label-noise estimate (the confident joint, "
    "binary form): per-class confidence thresholds = the class's mean "
    "predicted probability over the shared score model; each example "
    "confidently predicted into a class (prob >= that class's "
    "threshold; argmax when both qualify, ties to class 1; dropped "
    "when neither) fills the (given label x confident prediction) "
    "2x2 joint — off-diagonal mass over counted mass is the estimated "
    "label-noise rate, THE curation signal for whether a label column "
    "can gate training data (a noisy label filter silently deletes "
    "good data). EXACT: thresholds are floor-divided means of integer "
    "micros; every cell an integer count. Shape: two fact hash-aggs "
    "(thresholds, then the joint) with a 1-row broadcast between "
    "them; the share/noise windows run over <= 4 joint rows",
)
def ml_confident_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _score_df(spark, sf_dir)
    th = p.agg(
        F.expr(
            "CAST(sum(CASE WHEN y = 1 THEN p_micro ELSE 0 END)"
            " div greatest(sum(y), 1) AS BIGINT)"
        ).alias("t1"),
        F.expr(
            "CAST(sum(CASE WHEN y = 0 THEN 1000000 - p_micro ELSE 0 END)"
            " div greatest(count(1) - sum(y), 1) AS BIGINT)"
        ).alias("t0"),
    )
    joint = p.crossJoin(F.broadcast(th)).select(
        "y",
        F.expr(
            "CASE"
            " WHEN p_micro >= t1 AND 1000000 - p_micro >= t0"
            " THEN CASE WHEN p_micro >= 1000000 - p_micro"
            " THEN 1 ELSE 0 END"
            " WHEN p_micro >= t1 THEN 1"
            " WHEN 1000000 - p_micro >= t0 THEN 0"
            " ELSE -1 END"
        ).alias("pred"),
    )
    c = (
        joint.filter(F.col("pred") >= 0)
        .groupBy("y", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return c.select(
        F.col("y").cast("int").alias("y"),
        F.col("pred").cast("int").alias("pred"),
        "n",
        F.expr(
            "CAST(n * 1000000 div sum(n) OVER () AS BIGINT)"
        ).alias("share_micro"),
        F.expr(
            "CAST(sum(CASE WHEN y <> pred THEN n ELSE 0 END) OVER ()"
            " * 1000000 div sum(n) OVER () AS BIGINT)"
        ).alias("noise_micro"),
    )


# ---------------------------------------------------------------------------
# ml_embedding_isotropy
# ---------------------------------------------------------------------------

_ISOTROPY_SQL = """
    WITH norms AS (
      SELECT vec_id,
             sqrt(list_aggregate(
               list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))
               AS nrm
      FROM embeddings),
    idx AS (
      SELECT vec_id,
             CAST(unnest(range(1, len(embedding) + 1)) AS INT) AS i
      FROM embeddings),
    comp AS (
      SELECT ix.vec_id, ix.i,
             CAST(round(e.embedding[ix.i]::DOUBLE / n.nrm, 9)
               AS DECIMAL(12,9)) AS u
      FROM idx ix
      JOIN embeddings e ON ix.vec_id = e.vec_id
      JOIN norms n ON ix.vec_id = n.vec_id),
    dims AS (
      SELECT i, CAST(sum(u) AS DECIMAL(28,9)) AS s
      FROM comp GROUP BY 1),
    usq AS MATERIALIZED (
      SELECT CAST(sum(CAST(u AS DECIMAL(14,9)) * u) AS DECIMAL(38,18))
               AS t,
             CAST(count(DISTINCT vec_id) AS BIGINT) AS n
      FROM comp),
    ssq AS MATERIALIZED (
      SELECT CAST(sum(CAST(s AS DECIMAL(19,9)) * s) AS DECIMAL(38,18))
               AS s2,
             CAST(count(*) AS BIGINT) AS dim
      FROM dims)
    SELECT (SELECT n FROM usq) AS n_vectors,
           CAST((SELECT dim FROM ssq) AS INT) AS dim,
           round(CAST((SELECT s2 FROM ssq) AS DOUBLE), 4) AS sumvec_norm2,
           round((CAST((SELECT s2 FROM ssq) AS DOUBLE)
                  - CAST((SELECT t FROM usq) AS DOUBLE))
                 / (CAST((SELECT n FROM usq) AS DOUBLE)
                    * ((SELECT n FROM usq) - 1)), 6) AS avg_pair_cos
"""


@register(
    "ml_embedding_isotropy",
    _ISOTROPY_SQL,
    "embedding-space isotropy: mean pairwise cosine of the UNIT "
    "vectors over the whole corpus, computed with ZERO pair "
    "enumeration via the sum-vector identity — sum over i<j of "
    "u_i.u_j = (|S|^2 - sum|u_i|^2)/2 with S the component-wise sum, "
    "so the mean is (|S|^2 - t)/(n(n-1)) in two aggregates. "
    "Anisotropic spaces (mean cosine far from 0) compress cosine "
    "contrast and silently break every ANN / semantic-dedup threshold "
    "downstream — this is the one-row health gate read before "
    "trusting them, next to dq_embedding_norms' per-vector stats. "
    "EXACT: unit components are snapped to 9 decimals BEFORE any sum "
    "and every aggregate is decimal arithmetic (order/partitioning-"
    "independent; the only doubles are the final reported divisions, "
    "identical operands both engines). Shape: one norm pass (a "
    "single-row HOF, not a per-pair one), one posexplode into a "
    "64-row per-dim decimal hash-agg, two 1-row rollups",
)
def ml_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.vectors import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id",
        "embedding",
        l2_norm(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "nrm"
        ),
    )
    comp = norms.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("i", "x"),
        "nrm",
    ).select(
        "vec_id",
        "i",
        F.round(F.col("x").cast("double") / F.col("nrm"), 9)
        .cast("decimal(12,9)")
        .alias("u"),
    )
    dims = comp.groupBy("i").agg(
        F.sum("u").cast("decimal(28,9)").alias("s")
    )
    usq = comp.agg(
        F.sum(F.col("u").cast("decimal(14,9)") * F.col("u"))
        .cast("decimal(38,18)")
        .alias("t"),
        F.countDistinct("vec_id").cast("bigint").alias("n"),
    )
    ssq = dims.agg(
        F.sum(F.col("s").cast("decimal(19,9)") * F.col("s"))
        .cast("decimal(38,18)")
        .alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("dim"),
    )
    return (
        usq.crossJoin(F.broadcast(ssq))
        .select(
            F.col("n").alias("n_vectors"),
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("s2").cast("double"), 4).alias("sumvec_norm2"),
            F.round(
                (F.col("s2").cast("double") - F.col("t").cast("double"))
                / (
                    F.col("n").cast("double")
                    * (F.col("n") - 1).cast("double")
                ),
                6,
            ).alias("avg_pair_cos"),
        )
    )


# ml_kendall_tau -----------------------------------------------------------


def _kendall_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH t AS (
      SELECT doc_id, n_chars, {tokens_sql('text')} AS toks
      FROM documents),
    scored AS (
      SELECT least(n_chars // 50, 19) AS bx,
             least(CASE WHEN len(toks) = 0 THEN 0
               ELSE len(list_distinct(toks)) * 1000 // len(toks) END
               // 100, 9) AS by
      FROM t),
    f AS MATERIALIZED (
      SELECT bx, by, CAST(count(*) AS BIGINT) AS c
      FROM scored GROUP BY 1, 2),
    n AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS n FROM f),
    pairs AS (
      SELECT
        CAST(sum(CASE WHEN b.bx > a.bx AND b.by > a.by
          THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS HUGEINT) AS conc,
        CAST(sum(CASE WHEN b.bx > a.bx AND b.by < a.by
          THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS HUGEINT) AS disc
      FROM f a CROSS JOIN f b)
    SELECT (SELECT n FROM n) AS n,
           CAST((SELECT count(*) FROM f) AS BIGINT) AS n_cells,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST((conc - disc) * 2 * 1000000
             // (CAST((SELECT n FROM n) AS HUGEINT)
                 * ((SELECT n FROM n) - 1)) AS BIGINT) AS tau_a_micro
    FROM pairs
"""


@register(
    "ml_kendall_tau",
    _kendall_sql(),
    "Kendall tau-a rank association between document length (50-char "
    "bands) and lexical diversity (type-token-ratio deciles), "
    "computed on the BANDED CONTINGENCY table: concordant/discordant "
    "pair counts are sums of f_ij * f_i'j' over cell pairs, so the "
    "O(n^2) pair space collapses to a <= 200 x 200 cell cross — the "
    "rank-correlation companion of ml_linreg/ml_ols (Pearson sees "
    "linear association; tau sees any monotone one, and doc "
    "length vs vocabulary richness is the canonical "
    "long-docs-get-repetitive curation question). EXACT: integer "
    "pair counts in int128, tau-a (tied pairs in neither numerator) "
    "reported in micro with one floor division — no sqrt, which "
    "tau-b would need. Shape: one fact hash-agg into the bounded "
    "band grid; the cell-pair cross is dim x dim, never rows",
)
def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        tokens_expr("text").alias("toks"), "n_chars"
    ).select(
        F.expr("least(n_chars div 50, 19)").alias("bx"),
        F.expr(
            "least(CASE WHEN size(toks) = 0 THEN 0"
            " ELSE size(array_distinct(toks)) * 1000 div size(toks) END"
            " div 100, 9)"
        ).alias("by"),
    )
    f = scored.groupBy("bx", "by").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = f.agg(F.sum("c").cast("bigint").alias("n"))
    a = f.select(
        F.col("bx").alias("ax"), F.col("by").alias("ay"),
        F.col("c").alias("ac"),
    )
    b = f.select(
        F.col("bx").alias("bx2"), F.col("by").alias("by2"),
        F.col("c").alias("bc"),
    )
    dec = "decimal(38,0)"
    pairs = a.crossJoin(b).agg(
        F.sum(
            F.when(
                (F.col("bx2") > F.col("ax")) & (F.col("by2") > F.col("ay")),
                F.col("ac").cast(dec) * F.col("bc"),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("conc"),
        F.sum(
            F.when(
                (F.col("bx2") > F.col("ax")) & (F.col("by2") < F.col("ay")),
                F.col("ac").cast(dec) * F.col("bc"),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("disc"),
    )
    nc = f.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    return (
        pairs.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(nc))
        .select(
            "n",
            "n_cells",
            F.col("conc").cast("bigint").alias("concordant"),
            F.col("disc").cast("bigint").alias("discordant"),
            F.expr(
                "CAST((conc - disc) * 2 * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"
            ).alias("tau_a_micro"),
        )
    )


# ml_bootstrap_f1 ----------------------------------------------------------


def _bootstrap_f1_sql() -> str:
    return f"""
    WITH s AS (
      SELECT event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    t AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi FROM s),
    p AS (
      SELECT event_id, y,
             CASE WHEN (SELECT hi - lo FROM t) = 0 THEN 1
                  WHEN (cents - (SELECT lo FROM t)) * 1000000
                       // (SELECT hi - lo FROM t) >= 500000 THEN 1
                  ELSE 0 END AS pred,
             md5('bootf1|' || CAST(event_id AS VARCHAR)) AS h
      FROM s),
    rep AS (
      SELECT y, pred, h, unnest(range({_BOOT_B})) AS b FROM p),
    w AS (
      SELECT b, y, pred,
             {_pois_case_sql(
                 "(('0x' || substr(h, CAST(2*b+1 AS INT), 2))::INT"
                 " / 256.0)")} AS wt
      FROM rep),
    cm AS (
      SELECT b,
             CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN wt ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN wt ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN wt ELSE 0 END)
               AS BIGINT) AS fn
      FROM w GROUP BY 1),
    f1 AS (
      SELECT CAST(b AS INT) AS b, tp, fp, fn,
             CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
               ELSE 2 * tp * 1000 // (2 * tp + fp + fn) END AS BIGINT)
               AS f1_milli
      FROM cm)
    SELECT b, tp, fp, fn, f1_milli,
           CAST(sum(f1_milli) OVER () // count(*) OVER () AS BIGINT)
             AS f1_mean_milli,
           CAST(min(f1_milli) OVER () AS BIGINT) AS f1_lo_milli,
           CAST(max(f1_milli) OVER () AS BIGINT) AS f1_hi_milli
    FROM f1
"""


@register(
    "ml_bootstrap_f1",
    _bootstrap_f1_sql(),
    "deterministic Poisson-bootstrap confidence band for F1 at the "
    "fixed 0.5 operating point: 16 replicates draw per-example "
    "Poisson(1) weights from md5 digest bytes (the agg_bootstrap_means "
    "scheme — one digest per row, each replicate reads its own 2-hex "
    "slice through the shared 256-entry CDF ladder), each replicate's "
    "weighted confusion counts collapse to an integer F1, and the "
    "min/mean/max band rides along — point metrics "
    "(ml_confusion_metrics) say WHAT the F1 is; the bootstrap says "
    "whether a 20-milli F1 delta between two models is real or "
    "resampling noise, the question every eval comparison must answer "
    "before shipping. EXACT: integer weights, integer weighted "
    "counts, integer F1 per replicate — the band is exact given the "
    "deterministic draw. Shape: ONE fact scan fanned x16 by the "
    "replicate dim into a 16-row hash-agg; the band windows run over "
    "those 16 bounded rows",
)
def ml_bootstrap_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.hashing import md5_key

    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    t = s.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    p = s.crossJoin(F.broadcast(t)).select(
        "y",
        F.expr(
            "CASE WHEN hi - lo = 0 THEN 1"
            " WHEN (cents - lo) * 1000000 div (hi - lo) >= 500000 THEN 1"
            " ELSE 0 END"
        ).alias("pred"),
        md5_key(
            F.concat_ws("|", F.lit("bootf1"), F.col("event_id").cast("string"))
        ).alias("h"),
    )
    lut = F.array(
        *[
            F.lit(
                next(
                    (k for k, c in enumerate(_POIS_CDF) if byte / 256.0 < c),
                    7,
                )
            )
            for byte in range(256)
        ]
    )
    # hoist each replicate's weight into ONE projected column before the
    # aggregate (the SCALE.md §7 node2vec lesson): the tp/fp/fn
    # conditionals then reference wt{b} instead of re-deriving the
    # substring→conv→LUT chain 3x per replicate per row (measured
    # 6.1 s → 4.6 s min-of-2 at sf0.1; the rest is the genuine 48
    # conditional sums)
    p = p.select(
        "y",
        "pred",
        *[
            F.element_at(
                lut,
                F.conv(F.substring(F.col("h"), 2 * b + 1, 2), 16, 10)
                .cast("int")
                + 1,
            ).alias(f"wt{b}")
            for b in range(_BOOT_B)
        ],
    )
    aggs = []
    for b in range(_BOOT_B):
        wt = F.col(f"wt{b}")
        aggs.append(
            F.sum(
                F.when((F.col("pred") == 1) & (F.col("y") == 1), wt)
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"tp{b}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("pred") == 1) & (F.col("y") == 0), wt)
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"fp{b}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("pred") == 0) & (F.col("y") == 1), wt)
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"fn{b}")
        )
    row = p.agg(*aggs)
    pairs = ", ".join(f"{b}, tp{b}, fp{b}, fn{b}" for b in range(_BOOT_B))
    f1 = row.selectExpr(
        f"stack({_BOOT_B}, {pairs}) AS (b, tp, fp, fn)"
    ).select(
        F.col("b").cast("int").alias("b"),
        "tp",
        "fp",
        "fn",
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0"
            " ELSE 2 * tp * 1000 div (2 * tp + fp + fn) END AS BIGINT)"
        ).alias("f1_milli"),
    )
    return f1.select(
        "*",
        F.expr(
            "CAST(sum(f1_milli) OVER () div count(1) OVER () AS BIGINT)"
        ).alias("f1_mean_milli"),
        F.expr("CAST(min(f1_milli) OVER () AS BIGINT)").alias(
            "f1_lo_milli"
        ),
        F.expr("CAST(max(f1_milli) OVER () AS BIGINT)").alias(
            "f1_hi_milli"
        ),
    )


# ---------------------------------------------------------------------------
# ml_fold_stability
# ---------------------------------------------------------------------------

_FOLD_STAB_SQL = """
    WITH s AS (
      SELECT event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    vals AS (SELECT cents, CAST(count(*) AS BIGINT) AS c
             FROM s GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vals),
    med AS MATERIALIZED (
      SELECT min(cents) AS m FROM (
        SELECT cents, sum(c) OVER (ORDER BY cents) AS cum FROM vals) t
      WHERE 2 * cum >= (SELECT n FROM tot)),
    scored AS (
      SELECT CAST(CAST(('0x' || substr(md5('foldstab|'
               || CAST(event_id AS VARCHAR)), 1, 15)) AS UBIGINT)
               % CAST(5 AS UBIGINT) AS BIGINT) AS fold,
             CASE WHEN (cents > (SELECT m FROM med)) = (y = 1)
               THEN 1 ELSE 0 END AS correct
      FROM s),
    per AS (
      SELECT fold, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(correct) AS BIGINT) AS n_correct,
             CAST(sum(correct) * 1000 // count(*) AS BIGINT)
               AS acc_milli
      FROM scored GROUP BY 1),
    spread AS (
      SELECT CAST(max(acc_milli) - min(acc_milli) AS BIGINT) AS sp
      FROM per)
    SELECT CAST(fold AS INT) AS fold, n, n_correct, acc_milli,
           (SELECT sp FROM spread) AS spread_milli
    FROM per
"""


@register(
    "ml_fold_stability",
    _FOLD_STAB_SQL,
    "cross-validation noise floor: a FIXED decision stump (purchase "
    "iff cents > the global lower median, the exact distinct-value "
    "median) scored on 5 md5-hash folds (kfold_hash's pmod "
    "convention); per fold the exact integer accuracy plus the "
    "between-fold spread on every row — a 20-milli model delta means "
    "nothing if the fold spread is 40 milli. Folds PARTITION the "
    "data, ml_bootstrap_f1 RESAMPLES it: the two bands answer "
    "different questions (data heterogeneity vs sampling noise). "
    "Shape: distinct-cents median window (value-domain bounded), one "
    "map-side fold assignment, one 5-row hash-agg + 1-row spread "
    "cross",
)
def ml_fold_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    vals = s.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    from pyspark.sql.window import Window

    cum = vals.select(
        "cents",
        F.sum("c").over(
            Window.orderBy("cents").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).alias("cum"),
    )
    tot = vals.agg(F.sum("c").cast("bigint").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("cents").alias("m"))
    )
    fold = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("foldstab"), F.col("event_id")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(5),
    )
    scored = s.crossJoin(F.broadcast(med)).select(
        fold.alias("fold"),
        F.when(
            (F.col("cents") > F.col("m")) == (F.col("y") == 1), 1
        )
        .otherwise(0)
        .alias("correct"),
    )
    per = scored.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("correct").cast("bigint").alias("n_correct"),
        F.expr(
            "CAST(sum(correct) * 1000 div count(1) AS BIGINT)"
        ).alias("acc_milli"),
    )
    spread = per.agg(
        (F.max("acc_milli") - F.min("acc_milli"))
        .cast("bigint")
        .alias("spread_milli")
    )
    return per.crossJoin(F.broadcast(spread)).select(
        F.col("fold").cast("int").alias("fold"),
        "n",
        "n_correct",
        "acc_milli",
        "spread_milli",
    )


# ---------------------------------------------------------------------------
# ml_label_shift_weights
# ---------------------------------------------------------------------------

_LABEL_SHIFT_SQL = """
    WITH w AS (
      SELECT event_type,
             epoch_us(ts) // 604800000000 AS week
      FROM events),
    b AS MATERIALIZED (
      SELECT min(week) AS wmin, max(week) AS wmax FROM w),
    halves AS (
      SELECT event_type,
             week < ((SELECT wmin FROM b) + (SELECT wmax FROM b)) // 2
                    + 1 AS is_train
      FROM w),
    c AS (
      SELECT event_type,
             CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
               AS n_test
      FROM halves GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n_train) AS BIGINT) AS nt,
             CAST(sum(n_test) AS BIGINT) AS ne
      FROM c)
    SELECT c.event_type, c.n_train, c.n_test,
           CAST(CASE WHEN t.nt = 0 THEN 0
             ELSE c.n_train * 1000 // t.nt END AS BIGINT)
             AS train_share_milli,
           CAST(CASE WHEN t.ne = 0 THEN 0
             ELSE c.n_test * 1000 // t.ne END AS BIGINT)
             AS test_share_milli,
           CAST(CASE WHEN c.n_train = 0 OR t.ne = 0 THEN 0
             ELSE c.n_test * t.nt * 1000000 // (c.n_train * t.ne)
             END AS BIGINT) AS weight_micro
    FROM c CROSS JOIN tot t
"""


@register(
    "ml_label_shift_weights",
    _LABEL_SHIFT_SQL,
    "label-shift (prior-shift) reweighting ledger: on "
    "ml_calibration_drift's frozen temporal week cut, per event type: "
    "train/test counts, shares, and the importance weight "
    "w = test_share / train_share as an exact integer micro ratio "
    "(n_test * N_train * 1e6 div (n_train * N_test)) — the factor a "
    "label-shift correction multiplies into the loss when yesterday's "
    "class mix stops matching today's. p_drift_reweight prices "
    "DISTRIBUTION drift inside each domain; this prices the CLASS MIX "
    "drift between halves. Shape: one (type, half) hash-agg, one "
    "2-scalar dim cross — exact integers throughout",
)
def ml_label_shift_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 604800000000").alias("week"),
    )
    b = w.agg(
        F.min("week").alias("wmin"), F.max("week").alias("wmax")
    )
    halves = w.crossJoin(F.broadcast(b)).select(
        "event_type",
        (
            F.col("week")
            < F.expr("(wmin + wmax) div 2 + 1")
        ).alias("is_train"),
    )
    c = halves.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("is_train"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_test"),
    )
    tot = c.agg(
        F.sum("n_train").cast("bigint").alias("nt"),
        F.sum("n_test").cast("bigint").alias("ne"),
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_train",
        "n_test",
        F.expr(
            "CAST(CASE WHEN nt = 0 THEN 0"
            " ELSE n_train * 1000 div nt END AS BIGINT)"
        ).alias("train_share_milli"),
        F.expr(
            "CAST(CASE WHEN ne = 0 THEN 0"
            " ELSE n_test * 1000 div ne END AS BIGINT)"
        ).alias("test_share_milli"),
        F.expr(
            "CAST(CASE WHEN n_train = 0 OR ne = 0 THEN 0"
            " ELSE n_test * nt * 1000000 div (n_train * ne)"
            " END AS BIGINT)"
        ).alias("weight_micro"),
    )
