"""Selection, sampling and split queries (``p_*``, ``p1``-``p7``,
``f1``-``f9``, ``flagship_pipeline``): the jigsaw select-sample-split
surface.

Every pseudo-random choice orders by md5(seed|key) (functions/hashing.py),
so Spark and DuckDB pick the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.functions.hashing import md5_key, md5_key_sql
from jigsaw_spark.operators.filters import and_filter, or_filter
from jigsaw_spark.operators.joins import union_distinct
from jigsaw_spark.operators.samples import (
    bernoulli_sample,
    bernoulli_threshold_hex,
    exact_sample,
    kfold_assign,
    shard_assign,
    split_data,
)
from jigsaw_spark.plans.curation import (
    _DSIR_B,
    _DSIR_CTE,
    _gate_flags_sql,
    _gate_ok_col,
)
from jigsaw_spark.plans.dedup import _KEEPER_EDGES_CTE, _SIMHASH_CTE
from jigsaw_spark.plans.registry import _t, dec2, dsum, register


# ---------------------------------------------------------------------------
# Flagship: the jigsaw pipeline composition (F1+F2+F3+P1+J3+A4) on `orders`
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = f"""
WITH tagged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders
), set_a AS (
  SELECT * FROM tagged
  WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
  ORDER BY {md5_key_sql(['o_orderkey'], seed='sample-42')}, o_orderkey
  LIMIT 500
), set_b AS (
  SELECT * FROM tagged
  WHERE o_orderpriority IN ('2-HIGH', '3-MEDIUM')
  ORDER BY {md5_key_sql(['o_orderkey'], seed='sample-42')}, o_orderkey
  LIMIT 500
), merged AS (
  SELECT DISTINCT * FROM (SELECT * FROM set_a UNION ALL SELECT * FROM set_b)
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_price
FROM merged
GROUP BY o_orderstatus
"""


@register(
    "flagship_pipeline",
    _FLAGSHIP_SQL,
    "F1 AND-filter + F2 OR-filter + P1 exact-N sample + J3 union-distinct + A4 counts",
)
def flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    # jigsaw tags map onto scalar row attributes here → scalar form, so the
    # filter pushes into the parquet scan
    tag_cols = ["o_orderstatus", "o_orderpriority"]
    set_a = exact_sample(
        and_filter(orders, ["O", "1-URGENT"], tag_cols=tag_cols),
        500,
        ["o_orderkey"],
    )
    set_b = exact_sample(
        or_filter(orders, ["2-HIGH", "3-MEDIUM"], tag_cols=tag_cols),
        500,
        ["o_orderkey"],
    )
    merged = union_distinct([set_a, set_b], ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(dec2("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# F1 / F2 / F3 — tag-predicate filters
# ---------------------------------------------------------------------------


@register(
    "f1_and_filter",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
    """,
    "F1: conjunctive tag filter (array_contains AND-chain)",
)
def f1_and_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return and_filter(
        orders, ["O", "1-URGENT"], tag_cols=["o_orderstatus", "o_orderpriority"]
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "f2_or_filter",
    """
    SELECT event_id, user_id, event_type, round(value, 4) AS value
    FROM events
    WHERE event_type IN ('click', 'error')
    """,
    "F2: disjunctive tag filter (arrays_overlap)",
)
def f2_or_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    tagged = events.withColumn("tags", F.array("event_type"))
    return or_filter(tagged, ["click", "error"]).select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "f3_filter_chain",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice > 50000
    """,
    "F3: sequential narrowing chain — Catalyst folds it into one scan predicate",
)
def f3_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    tagged = orders.withColumn("tags", F.array("o_orderstatus", "o_orderpriority"))
    step1 = and_filter(tagged, ["F"])
    step2 = or_filter(step1, ["1-URGENT", "2-HIGH"])
    step3 = step2.filter(F.col("o_totalprice") > 50000)
    return step3.select("o_orderkey", "o_totalprice")


@register(
    "f9_untagged_default",
    """
    SELECT CASE WHEN lang IS NULL OR lang = '' THEN 'untagged' ELSE lang END AS tag,
           count(*) AS n
    FROM documents
    GROUP BY 1
    """,
    "S9: untagged-default semantics (null/empty tag → 'untagged')",
)
def f9_untagged_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tag = F.when(
        F.col("lang").isNull() | (F.col("lang") == ""), F.lit("untagged")
    ).otherwise(F.col("lang"))
    return docs.select(tag.alias("tag")).groupBy("tag").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# P1 / P2 / P3 / P7 — deterministic sample / split / fold / shard
# ---------------------------------------------------------------------------

_LI_KEY_MD5 = md5_key_sql(["l_orderkey", "l_linenumber"], seed="sample-42")


@register(
    "p1_exact_sample",
    f"""
    SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS l_quantity
    FROM lineitem
    ORDER BY {_LI_KEY_MD5}, l_orderkey, l_linenumber, l_quantity
    LIMIT 1000
    """,
    "P1: exact-N deterministic sample (md5 order + limit → TakeOrderedAndProject)",
)
def p1_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return exact_sample(
        li, 1000, ["l_orderkey", "l_linenumber"], tiebreak_cols=["l_quantity"]
    ).select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 2).alias("l_quantity")
    )


_ORD_SPLIT_MD5 = md5_key_sql(["o_orderkey"], seed="split-42")


@register(
    "p2_split_test",
    f"""
    SELECT o_orderkey FROM (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY {_ORD_SPLIT_MD5}, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders
    ) t
    WHERE rn <= greatest(1, CAST(floor(n * 0.2) AS BIGINT))
    """,
    "P2: exact test/dev split, max(1, floor(n*0.2)) test rows",
)
def p2_split_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    test, _dev = split_data(orders, ["o_orderkey"], test_fraction=0.2)
    return test.select("o_orderkey")


_ORD_FOLD_MD5 = md5_key_sql(["o_orderkey"], seed="kfold-0")


@register(
    "p3_kfold_assign",
    f"""
    SELECT o_orderkey,
           CAST((row_number() OVER (ORDER BY {_ORD_FOLD_MD5}, o_orderkey) - 1) % 5 AS INT) AS fold
    FROM orders
    """,
    "P3: k-fold assignment — round-robin over the deterministic shuffle order",
)
def p3_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return kfold_assign(orders, 5, ["o_orderkey"]).select("o_orderkey", "fold")


_LI_SHARD_MD5 = md5_key_sql(["l_orderkey", "l_linenumber"], seed="shard")


@register(
    "p7_shard_assign",
    f"""
    SELECT l_orderkey, l_linenumber,
           CAST((rn - 1) % (CAST(floor(n / 1000.0) AS BIGINT) + 1) AS INT) AS shard
    FROM (
      SELECT l_orderkey, l_linenumber,
             row_number() OVER (ORDER BY {_LI_SHARD_MD5}, l_orderkey, l_linenumber) AS rn,
             count(*) OVER () AS n
      FROM lineitem
    ) t
    """,
    "P7: round-robin shard assignment, num_shards = n//1000 + 1",
)
def p7_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return shard_assign(li, ["l_orderkey", "l_linenumber"], rows_per_shard=1000).select(
        "l_orderkey", "l_linenumber", "shard"
    )


# ---------------------------------------------------------------------------
# P1-stratified + A3-vector (per-group / per-dimension generalizations)
# ---------------------------------------------------------------------------

_STRAT_MD5 = md5_key_sql(["o_orderkey"], seed="strat-42")


@register(
    "p1_stratified_sample",
    f"""
    SELECT o_orderkey, o_orderpriority FROM (
      SELECT o_orderkey, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY {_STRAT_MD5}, o_orderkey
             ) AS rn
      FROM orders) t
    WHERE rn <= 50
    """,
    "P1 stratified: exact-N per group, parallel per-group top-N",
)
def p1_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.samples import stratified_sample

    orders = _t(spark, sf_dir, "orders")
    return stratified_sample(
        orders, 50, ["o_orderpriority"], ["o_orderkey"]
    ).select("o_orderkey", "o_orderpriority")


# ---------------------------------------------------------------------------
# Bernoulli sampling (TABLESAMPLE analog): pure filter, no shuffle; the md5
# hex threshold is the same string literal on both sides.
# ---------------------------------------------------------------------------

_BERNOULLI_THRESHOLD = bernoulli_threshold_hex(0.25)


@register(
    "p_bernoulli_sample",
    f"""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price
    FROM orders
    WHERE {md5_key_sql(['o_orderkey'], seed='tablesample-42')} < '{_BERNOULLI_THRESHOLD}'
    """,
    "deterministic Bernoulli sample: md5 hex threshold, shuffle-free",
)
def p_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return bernoulli_sample(orders, ["o_orderkey"], 0.25).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Data-mixture sampling: weighted exact-N selection over the corpus, with
# per-source weights (the "sample src3 3x as much as src1" step every
# training-data mixture applies). Weight here derives from the source id so
# the oracle can recompute it without a dim table; in production it's a
# broadcast-joined weights dimension.
# ---------------------------------------------------------------------------


@register(
    "p_weighted_sample",
    """
    WITH weighted AS (
      SELECT doc_id, source,
             CAST(1.0 + CAST(substr(source, 4) AS INT) % 7 AS DOUBLE) AS w,
             round(ln((('0x' || substr(
                    md5(concat_ws('|', 'wsample-42', CAST(doc_id AS VARCHAR))),
                    1, 12))::UBIGINT + 1.0) / 281474976710656.0)
               / (1.0 + CAST(substr(source, 4) AS INT) % 7), 12) AS wkey
      FROM documents
    )
    SELECT doc_id, source, w
    FROM weighted
    ORDER BY wkey DESC, doc_id
    LIMIT 100
    """,
    "Efraimidis-Spirakis weighted exact-N sample (data-mixture sampling): "
    "ln(u)/w rank keys from the md5 stream, TakeOrdered top-N",
)
def p_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.samples import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    w = 1.0 + F.substring("source", 4, 10).cast("int") % 7
    return weighted_sample(
        docs.select("doc_id", "source", w.alias("w")),
        100,
        ["doc_id"],
        F.col("w"),
    )


@register(
    "p_temperature_mixture",
    """
    WITH cnt AS (
      SELECT doc_id, source,
             count(*) OVER (PARTITION BY source) AS n_src
      FROM documents),
    weighted AS (
      SELECT doc_id, source,
             pow(n_src, -0.3) AS w,
             round(ln((('0x' || substr(
                    md5(concat_ws('|', 'mix-42', CAST(doc_id AS VARCHAR))),
                    1, 12))::UBIGINT + 1.0) / 281474976710656.0)
               / pow(n_src, -0.3), 12) AS wkey
      FROM cnt)
    SELECT doc_id, source, round(w, 9) AS w
    FROM weighted
    ORDER BY wkey DESC, doc_id
    LIMIT 200
    """,
    "temperature-scaled data-mixture sampling (alpha=0.7): per-source "
    "weight n_src^(alpha-1) upweights rare domains, exact-200 draw via "
    "the Efraimidis-Spirakis md5 stream — the multi-corpus rebalancing "
    "step of LLM pretraining mixes. One window count + TakeOrdered; no "
    "global sort",
)
def p_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jigsaw_spark.operators.samples import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    w = F.pow(F.count(F.lit(1)).over(Window.partitionBy("source")), F.lit(-0.3))
    out = weighted_sample(
        docs.withColumn("w", w), 200, ["doc_id"], F.col("w"), seed="mix-42"
    )
    return out.select("doc_id", "source", F.round("w", 9).alias("w"))


@register(
    "p_group_split",
    f"""
    SELECT doc_id, source,
           CASE WHEN ('0x' || substr(md5(concat_ws('|', 'gsplit-42',
                        CAST(source AS VARCHAR))), 1, 12))::UBIGINT
                     % 1000 < 200
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
    "group-integrity split (GroupShuffleSplit): the md5 stream keys on "
    "the GROUP (source), so every doc of a group lands in the same "
    "split — no leakage between train and test; map-only, "
    "partition-independent, ~20% of groups to test",
)
def p_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.hashing import md5_key

    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(md5_key("source", seed="gsplit-42"), 1, 12), 16, 10)
        .cast("bigint"),
        F.lit(1000),
    )
    return docs.select(
        "doc_id",
        "source",
        F.when(bucket < 200, F.lit("test")).otherwise(F.lit("train")).alias(
            "split"
        ),
    )


@register(
    "p_mixture_reweight",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT sum(n) AS total, count(*) AS n_langs FROM c)
    SELECT lang,
           n AS n_docs,
           round(n / CAST(total AS DOUBLE), 6) AS share,
           round(total / (CAST(n_langs AS DOUBLE) * n), 6) AS weight,
           round(total / CAST(n_langs AS DOUBLE), 2) AS target_docs
    FROM c CROSS JOIN tot
    ORDER BY lang
    """,
    "mixture-reweighting ledger: per-language resampling weight to hit "
    "a uniform target mix (weight = target_share/current_share) — the "
    "deterministic input to weighted sampling at scale; ONE lang-keyed "
    "hash agg + a 1-row total broadcast, every column a ratio of exact "
    "integers",
)
def p_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.round(F.col("n") / F.col("total").cast("double"), 6).alias(
                "share"
            ),
            F.round(
                F.col("total")
                / (F.col("n_langs").cast("double") * F.col("n")),
                6,
            ).alias("weight"),
            F.round(
                F.col("total") / F.col("n_langs").cast("double"), 2
            ).alias("target_docs"),
        )
        .orderBy("lang")
    )


_DSIR_K = 100


@register(
    "p_dsir_resample",
    f"""
    WITH {_DSIR_CTE},
    keyed AS (
      SELECT doc_id, logw_micro,
             logw_micro + CAST(round(-ln(-ln(
               (('0x' || substr(md5('dsir-resample|' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT + 1)
               / (281474976710656.0 + 1))) * 1e6) AS BIGINT) AS key_micro
      FROM weights)
    SELECT CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id) AS INT)
             AS rank,
           doc_id, logw_micro, key_micro
    FROM keyed
    ORDER BY key_micro DESC, doc_id LIMIT {_DSIR_K}
    """,
    "DSIR resampling step: Gumbel-top-k over the importance weights "
    "(equivalent to sampling w/o replacement proportional to w) — the "
    "Gumbel noise is md5-seeded per doc and snapped to the same integer "
    "micro-units as the weight, so selection and ranking are exact "
    "integer comparisons. TakeOrdered (orderBy+limit) keeps the top-k "
    "distributed — per-partition partial top-100 + driver merge of "
    "100*n_partitions rows; the rank window runs on 100 survivors only",
)
def p_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jigsaw_spark.operators.samples import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    w = dsir_weights(docs, "doc_id", F.col("lang") == "en", buckets=_DSIR_B)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir-resample|"), F.col("doc_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / (281474976710656.0 + 1)  # (0,1] from 48 md5 bits
    gumbel_micro = F.round(-F.log(-F.log(u)) * 1e6).cast("bigint")
    keyed = w.select(
        "doc_id",
        "logw_micro",
        (F.col("logw_micro") + gumbel_micro).alias("key_micro"),
    )
    top = keyed.orderBy(F.desc("key_micro"), "doc_id").limit(_DSIR_K)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("key_micro"), "doc_id"))
        .cast("int")
        .alias("rank"),
        "doc_id",
        "logw_micro",
        "key_micro",
    )


_HOLDOUT_TS = "2024-01-24 00:00:00"


@register(
    "p_temporal_holdout",
    f"""
    WITH split AS (
      SELECT user_id, event_id,
             CASE WHEN ts < TIMESTAMP '{_HOLDOUT_TS}' THEN 'train'
                  ELSE 'test' END AS split
      FROM events),
    users AS (
      SELECT user_id,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
             max(CASE WHEN split = 'test'  THEN 1 ELSE 0 END) AS in_test
      FROM split GROUP BY user_id)
    SELECT s.split,
           count(*) AS n_events,
           count(DISTINCT s.user_id) AS n_users,
           CAST(sum(CASE WHEN u.in_train = 1 AND u.in_test = 1
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_events_leaky_users
    FROM split s JOIN users u ON s.user_id = u.user_id
    GROUP BY s.split
    """,
    "temporal train/test holdout with LEAKAGE accounting: split at a "
    "cutoff timestamp (never random — random splits leak future events "
    "into training), plus the count of events belonging to users that "
    "straddle the boundary (the group-leakage surface a user-level "
    "model must handle). One (user) agg joined back on the same key — "
    "exchange reused, no second corpus shuffle",
)
def p_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    split = events.select(
        "user_id",
        "event_id",
        F.when(
            F.col("ts") < F.lit(_HOLDOUT_TS).cast("timestamp"), "train"
        )
        .otherwise("test")
        .alias("split"),
    )
    users = split.groupBy("user_id").agg(
        F.max((F.col("split") == "train").cast("int")).alias("in_train"),
        F.max((F.col("split") == "test").cast("int")).alias("in_test"),
    )
    return (
        split.join(users, "user_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(
                ((F.col("in_train") == 1) & (F.col("in_test") == 1)).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_events_leaky_users"),
        )
    )


_KC_K = 8


def _kcenter_sql() -> str:
    """Replay the greedy k-center trajectory: md5-seeded start, then
    k-1 unrolled stages of the incremental least(mind, dist-to-new)
    recurrence with explicit already-selected exclusion."""
    head = f"""
    WITH ex AS MATERIALIZED (
      SELECT vec_id, d,
             CAST(round(embedding[d + 1]::DOUBLE * 1000000) AS BIGINT) AS xq
      FROM embeddings, LATERAL (SELECT unnest(range(64)) AS d) dd),
    p0 AS MATERIALIZED (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (
                 ORDER BY md5(concat_ws('|', 'kcenter',
                                        CAST(vec_id AS VARCHAR))), vec_id)
                 AS rn
        FROM embeddings) WHERE rn = 1),
    sel0 AS MATERIALIZED (SELECT vec_id FROM p0),
    m0 AS MATERIALIZED (
      SELECT e.vec_id, sum((e.xq - s.xq) * (e.xq - s.xq)) AS mind
      FROM ex e
      JOIN (SELECT e2.d, e2.xq FROM ex e2 JOIN p0 USING (vec_id)) s
        ON e.d = s.d
      GROUP BY e.vec_id)"""
    stages = []
    for t in range(1, _KC_K):
        stages.append(f"""
    p{t} AS MATERIALIZED (
      SELECT vec_id, mind FROM m{t - 1}
      WHERE vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
      ORDER BY mind DESC, vec_id LIMIT 1),
    sel{t} AS MATERIALIZED (
      SELECT vec_id FROM sel{t - 1}
      UNION ALL SELECT vec_id FROM p{t}),
    dd{t} AS MATERIALIZED (
      SELECT e.vec_id, sum((e.xq - c.xq) * (e.xq - c.xq)) AS dist
      FROM ex e
      JOIN (SELECT e2.d, e2.xq FROM ex e2
            JOIN p{t} ON e2.vec_id = p{t}.vec_id) c
        ON e.d = c.d
      GROUP BY e.vec_id),
    m{t} AS MATERIALIZED (
      SELECT m.vec_id, least(m.mind, d.dist) AS mind
      FROM m{t - 1} m JOIN dd{t} d ON m.vec_id = d.vec_id)""")
    unions = ["SELECT 0 AS round, vec_id, CAST(0 AS BIGINT) AS dist2 FROM p0"]
    for t in range(1, _KC_K):
        unions.append(
            f"SELECT {t} AS round, vec_id, CAST(mind AS BIGINT) AS dist2"
            f" FROM p{t}"
        )
    return head + "," + ",".join(stages) + "\n    " + "\n    UNION ALL ".join(
        unions
    )


@register(
    "p_kcenter_coreset",
    _kcenter_sql(),
    "greedy k-center coreset (farthest-point traversal, the classic "
    "2-approx diverse-subset selector for curation): exact integer "
    "squared distances + md5-seeded start + lowest-id tie-break make "
    "the selection trajectory bit-identical across engines — the "
    "FOURTH iterative algorithm with a replayable SQL oracle. Per "
    "round: selected coords ride as literal arrays, the min-distance "
    "pass is MAP-ONLY + distributed TakeOrdered(1); k corpus scans "
    "total, no joins, no lineage growth",
)
def p_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.samples import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings")
    rows = kcenter_coreset(emb, k=_KC_K)
    return spark.createDataFrame(rows, "round int, vec_id long, dist2 long")


# ---------------------------------------------------------------------------
# p_stratified_kfold
# ---------------------------------------------------------------------------

_SKF_K = 5

_SKF_SQL = f"""
    SELECT doc_id, lang,
           CAST((row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('skfold|' || CAST(doc_id AS VARCHAR)),
                            doc_id) - 1) % {_SKF_K} AS INT) AS fold
    FROM documents
"""


@register(
    "p_stratified_kfold",
    _SKF_SQL,
    "stratified k-fold (sklearn StratifiedKFold semantics): round-robin "
    "over the md5-shuffled order WITHIN each stratum, so every fold "
    "carries each class in proportion — and unlike the global p3 "
    "assignment, the rank window is PARTITIONED by stratum: fully "
    "parallel at any scale, no local/distributed strategy switch needed",
)
def p_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.hashing import md5_key

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        md5_key(F.col("doc_id"), seed="skfold"), "doc_id"
    )
    return docs.select(
        "doc_id",
        "lang",
        ((F.row_number().over(w) - 1) % _SKF_K).cast("int").alias("fold"),
    )


# ---------------------------------------------------------------------------
# p_systematic_sample
# ---------------------------------------------------------------------------

_SYS_SQL = f"""
    WITH r AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {md5_key_sql(['doc_id'], seed='syssamp')}, doc_id)
               AS rn
      FROM documents)
    SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rn AS BIGINT) AS rn
    FROM r WHERE (rn - 1) % 7 = 0
"""


@register(
    "p_systematic_sample",
    _SYS_SQL,
    "deterministic 1-in-7 systematic sample per stratum: rows ordered "
    "by the md5 key stream (seed 'syssamp', doc_id tiebreaker) within "
    "each source, every 7th row kept — the QA-draw / eval-holdout "
    "sampler whose rate is EXACT per stratum (ceil(n/7), vs the "
    "Bernoulli sampler's binomial jitter) and whose membership is "
    "reproducible on any cluster. The window partitions on source, so "
    "no global total order exists at scale",
)
def p_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        md5_key(F.col("doc_id"), seed="syssamp"), "doc_id"
    )
    return (
        docs.select(
            "source",
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter((F.col("rn") - 1) % 7 == 0)
    )


# ---------------------------------------------------------------------------
# p_negative_sampling
# ---------------------------------------------------------------------------

_NEG_K = 4

_NEG_CAND = 6

_NEG_SQL = f"""
    WITH nn AS (SELECT count(*) AS n, max(doc_id) AS mx FROM documents),
    cand AS (
      SELECT d.doc_id, i,
             CAST(('0x' || substr(
                md5(concat_ws('|', 'negsamp', CAST(d.doc_id AS VARCHAR),
                              CAST(i AS VARCHAR))), 1, 12))::UBIGINT
               % CAST(nn.mx + 1 AS UBIGINT) AS BIGINT) AS neg_id
      FROM documents d
      CROSS JOIN (SELECT unnest(range({_NEG_CAND})) AS i) ii
      CROSS JOIN nn),
    valid AS (
      SELECT doc_id, neg_id, min(i) AS first_i
      FROM cand WHERE neg_id <> doc_id
      GROUP BY doc_id, neg_id),
    ranked AS (
      SELECT doc_id, neg_id,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY first_i, neg_id) AS neg_rank
      FROM valid)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(neg_rank AS INT) AS neg_rank,
           CAST(neg_id AS BIGINT) AS neg_id
    FROM ranked WHERE neg_rank <= {_NEG_K}
"""


@register(
    "p_negative_sampling",
    _NEG_SQL,
    "deterministic contrastive negative sampling: 4 negatives per "
    "document drawn from the md5 stream modulo the id space, self-"
    "collisions filtered, duplicates collapsed to their first draw, "
    "rank total on (draw index, id) — the reproducible sampler every "
    "contrastive/embedding trainer needs (6 candidate draws make 4 "
    "survivors overwhelmingly certain; the rank window caps at k "
    "regardless). Map-only candidate generation against a 1-row "
    "broadcast id-space scalar; the dedup agg and rank window "
    "partition per document. Note: ids here are dense, so modulo maps "
    "onto real docs — sparse id spaces would route through a "
    "zipWithIndex-style dense rank dim first",
)
def p_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    nn = docs.agg(F.max("doc_id").alias("mx"))
    cand = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_CAND - 1))).alias("i"),
            "mx",
        )
        .select(
            "doc_id",
            "i",
            F.pmod(
                F.conv(
                    F.substring(
                        md5_key(
                            F.col("doc_id"), F.col("i"), seed="negsamp"
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.col("mx") + 1,
            ).alias("neg_id"),
        )
    )
    valid = (
        cand.filter(F.col("neg_id") != F.col("doc_id"))
        .groupBy("doc_id", "neg_id")
        .agg(F.min("i").alias("first_i"))
    )
    ranked = valid.withColumn(
        "neg_rank",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("first_i", "neg_id")
        ),
    ).filter(F.col("neg_rank") <= _NEG_K)
    return ranked.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("neg_rank").cast("int").alias("neg_rank"),
        F.col("neg_id").cast("bigint").alias("neg_id"),
    )


# ---------------------------------------------------------------------------
# p_class_balance_resample
# ---------------------------------------------------------------------------

_CBR_SQL = f"""
    WITH cls AS MATERIALIZED (
      SELECT lang, count(*) AS nc FROM documents GROUP BY lang),
    tgt AS (SELECT max(nc) AS target FROM cls),
    ranked AS (
      SELECT d.doc_id, d.lang, c.nc, t.target,
             row_number() OVER (
               PARTITION BY d.lang
               ORDER BY {md5_key_sql(['d.doc_id'], seed='cbr')}, d.doc_id)
               AS rn
      FROM documents d
      JOIN cls c ON d.lang = c.lang
      CROSS JOIN tgt t),
    reps AS (
      SELECT doc_id, lang, nc, target,
             target // nc
               + CASE WHEN rn <= target % nc THEN 1 ELSE 0 END AS n_rep
      FROM ranked),
    outp AS (
      SELECT lang, doc_id,
             unnest(range(1, n_rep + 1)) AS copy_id
      FROM reps WHERE n_rep >= 1)
    SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(copy_id AS INT) AS copy_id
    FROM outp
"""


@register(
    "p_class_balance_resample",
    _CBR_SQL,
    "exact class-balance oversampling to the majority class size: "
    "every class replicates floor(target/n_c) times, and the md5-"
    "first (target mod n_c) docs get one extra copy — so every class "
    "lands EXACTLY on target rows (deterministic, vs probabilistic "
    "oversampling's binomial jitter), the imbalanced-training-set fix "
    "with reproducible membership. Shape: class counts are a "
    "broadcast dim, the remainder rank window partitions per class, "
    "replication is one bounded explode (fan-out = target/n_c). The "
    "classifier-side twin of the temperature-mixture sampler",
)
def p_class_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cls = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nc"))
    tgt = cls.agg(F.max("nc").alias("target"))
    ranked = (
        docs.select("doc_id", "lang")
        .join(F.broadcast(cls), "lang")
        .crossJoin(F.broadcast(tgt))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    md5_key(F.col("doc_id"), seed="cbr"), "doc_id"
                )
            ),
        )
    )
    reps = ranked.select(
        "lang",
        "doc_id",
        (
            F.expr("target div nc")
            + F.when(F.col("rn") <= F.expr("target % nc"), 1).otherwise(0)
        ).alias("n_rep"),
    ).filter(F.col("n_rep") >= 1)
    return reps.select(
        "lang",
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(F.sequence(F.lit(1), F.col("n_rep"))).alias("copy_id"),
    ).withColumn("copy_id", F.col("copy_id").cast("int"))


# ---------------------------------------------------------------------------
# p_rolling_origin_cv
# ---------------------------------------------------------------------------

_CV_K = 4

_CV_SQL = f"""
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id
      FROM events),
    span AS (SELECT min(day_id) AS d0, max(day_id) AS d1 FROM d),
    folds AS (
      SELECT f.fold,
             s.d0 + ((f.fold) * (s.d1 - s.d0 + 1)) // {_CV_K + 1} AS cut_lo,
             s.d0 + ((f.fold + 1) * (s.d1 - s.d0 + 1)) // {_CV_K + 1}
               AS cut_hi
      FROM (SELECT unnest(range(1, {_CV_K + 1})) AS fold) f
      CROSS JOIN span s)
    SELECT CAST(f.fold AS INT) AS fold,
           CAST(f.cut_lo AS BIGINT) AS train_end_day,
           CAST(f.cut_hi AS BIGINT) AS test_end_day,
           CAST(sum(CASE WHEN d.day_id < f.cut_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN d.day_id >= f.cut_lo
                          AND d.day_id < f.cut_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_test
    FROM d CROSS JOIN folds f
    GROUP BY f.fold, f.cut_lo, f.cut_hi
"""


@register(
    "p_rolling_origin_cv",
    _CV_SQL,
    "rolling-origin (expanding-window) temporal cross-validation: 4 "
    "folds whose train window always ends before the test window "
    "begins, with boundaries at integer day-quantiles of the observed "
    "span (floor division — deterministic) — the forecast-eval "
    "discipline that prevents look-ahead leakage, generalizing the "
    "single temporal holdout. Shape: a 1-row span scalar expands to a "
    "4-row fold dim crossed into the scan with ONE conditional agg; "
    "fan-out is the constant fold count",
)
def p_rolling_origin_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        )
    )
    span = d.agg(F.min("day_id").alias("d0"), F.max("day_id").alias("d1"))
    folds = (
        spark.range(1, _CV_K + 1)
        .select(F.col("id").cast("int").alias("fold"))
        .crossJoin(F.broadcast(span))
        .select(
            "fold",
            F.expr(
                f"d0 + (fold * (d1 - d0 + 1)) div {_CV_K + 1}"
            ).alias("cut_lo"),
            F.expr(
                f"d0 + ((fold + 1) * (d1 - d0 + 1)) div {_CV_K + 1}"
            ).alias("cut_hi"),
        )
    )
    return (
        d.crossJoin(F.broadcast(folds))
        .groupBy("fold", "cut_lo", "cut_hi")
        .agg(
            F.sum(F.when(F.col("day_id") < F.col("cut_lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(
                F.when(
                    (F.col("day_id") >= F.col("cut_lo"))
                    & (F.col("day_id") < F.col("cut_hi")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_test"),
        )
        .select(
            F.col("fold").cast("int").alias("fold"),
            F.col("cut_lo").cast("bigint").alias("train_end_day"),
            F.col("cut_hi").cast("bigint").alias("test_end_day"),
            "n_train",
            "n_test",
        )
    )


# ---------------------------------------------------------------------------
# p_leakage_safe_split
# ---------------------------------------------------------------------------


def _lss_sql() -> str:
    return f"""
    WITH RECURSIVE {_SIMHASH_CTE},
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS MATERIALIZED (
      SELECT u AS doc_id, least(u, min(v)) AS keeper
      FROM reach GROUP BY u),
    assigned AS (
      SELECT d.doc_id,
             coalesce(c.keeper, d.doc_id) AS keeper
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
    SELECT doc_id, CAST(keeper AS BIGINT) AS keeper,
           CASE WHEN ('0x' || substr(
                  {md5_key_sql(['keeper'], seed='lss')}, 1, 12))::UBIGINT
                  % 10 < 8
                THEN 'train' ELSE 'test' END AS split
    FROM assigned
"""


@register(
    "p_leakage_safe_split",
    _lss_sql(),
    "near-dup-aware 80/20 train/test split: every document inherits "
    "the split of its duplicate-cluster KEEPER (min doc id of its "
    "SimHash connected component; singletons keep themselves), so "
    "near-duplicates can never straddle the boundary — the "
    "split-contamination fix per-doc hashing cannot provide (a doc "
    "and its near-copy hash independently). Split is the md5 stream "
    "of the KEEPER id (8/10 train). Composes the components operator "
    "+ one left join + map-only assignment; the split remains stable "
    "as clusters grow (keeper = min id is monotone under unions). "
    "Spark runs the graph EXACT-DEDUP-FIRST (r6 scale fix): byte-"
    "identical copies collapse before SimHash pairing, so duplication "
    "can never densify the pair graph into x|copies|² cliques (the "
    "15.6x probe). Result-identical to the oracle's all-docs graph: "
    "exact dups share a signature, so every edge through a dup is "
    "mirrored through its keeper, components and minima are unchanged.",
)
def p_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import near_dup_keepers

    docs = _t(spark, sf_dir, "documents")
    assigned = near_dup_keepers(docs, "doc_id")
    return assigned.select(
        "doc_id",
        F.col("keeper").cast("bigint").alias("keeper"),
        F.when(
            F.pmod(
                F.conv(
                    F.substring(md5_key(F.col("keeper"), seed="lss"), 1, 12),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(10),
            )
            < 8,
            "train",
        )
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# p_group_kfold
# ---------------------------------------------------------------------------


def _gkf_sql() -> str:
    return f"""
    WITH RECURSIVE {_SIMHASH_CTE},
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS MATERIALIZED (
      SELECT u AS doc_id, least(u, min(v)) AS keeper
      FROM reach GROUP BY u),
    assigned AS (
      SELECT d.doc_id,
             coalesce(c.keeper, d.doc_id) AS keeper
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
    SELECT doc_id, CAST(keeper AS BIGINT) AS keeper,
           CAST(('0x' || substr(
                  {md5_key_sql(['keeper'], seed='gkf')}, 1, 12))::UBIGINT
                  % 5 AS INT) AS fold
    FROM assigned
"""


@register(
    "p_group_kfold",
    _gkf_sql(),
    "GroupKFold over near-dup clusters: every document is assigned "
    "fold = md5(keeper) % 5 of its SimHash-component KEEPER, so a "
    "duplicate cluster can never straddle a CV fold boundary — the "
    "k-fold twin of p_leakage_safe_split (sklearn GroupKFold with "
    "groups = dedup clusters, deterministic md5 assignment instead of "
    "size-greedy packing). Same C4-ordered keeper graph (exact dedup "
    "before SimHash pairing; token-empty docs are their own "
    "singletons), one left join + map-only fold hash",
)
def p_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import near_dup_keepers

    docs = _t(spark, sf_dir, "documents")
    assigned = near_dup_keepers(docs, "doc_id")
    return assigned.select(
        "doc_id",
        F.col("keeper").cast("bigint").alias("keeper"),
        F.pmod(
            F.conv(
                F.substring(md5_key(F.col("keeper"), seed="gkf"), 1, 12),
                16,
                10,
            ).cast("bigint"),
            F.lit(5),
        )
        .cast("int")
        .alias("fold"),
    )


# ---------------------------------------------------------------------------
# p_drift_reweight
# ---------------------------------------------------------------------------

_DRW_SQL = """
    WITH s AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             epoch_us(ts) // 86400000000 // 7 AS w
      FROM events),
    span AS MATERIALIZED (
      SELECT (min(w) + max(w)) // 2 + 1 AS cut FROM s),
    tb AS MATERIALIZED (
      SELECT min(cents) AS lo, max(cents) AS hi
      FROM s WHERE w < (SELECT cut FROM span)),
    p AS (
      SELECT event_type, w >= (SELECT cut FROM span) AS is_test,
             least(greatest((cents - (SELECT lo FROM tb)) * 10
               // ((SELECT hi - lo FROM tb) + 1), 0), 9) AS bin
      FROM s),
    dim AS (
      SELECT t.event_type, b.bin
      FROM (SELECT DISTINCT event_type FROM s) t
      CROSS JOIN (SELECT unnest(range(10)) AS bin) b),
    c AS (
      SELECT event_type, bin,
             CAST(sum(CASE WHEN is_test THEN 0 ELSE 1 END) AS BIGINT)
               AS c_tr,
             CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT)
               AS c_te
      FROM p GROUP BY 1, 2),
    filled AS (
      SELECT d.event_type, d.bin,
             coalesce(c.c_tr, 0) AS c_tr,
             coalesce(c.c_te, 0) AS c_te
      FROM dim d LEFT JOIN c
        ON d.event_type = c.event_type AND d.bin = c.bin),
    tot AS (
      SELECT event_type,
             CAST(sum(c_tr) AS BIGINT) AS n_train,
             CAST(sum(c_te) AS BIGINT) AS n_test
      FROM filled GROUP BY 1),
    gt AS MATERIALIZED (
      SELECT CAST(sum(n_train) AS BIGINT) AS g FROM tot),
    psi AS (
      SELECT f.event_type,
             CAST(round(sum(
               ((f.c_tr + 0.5) / (t.n_train + 5.0)
                - (f.c_te + 0.5) / (t.n_test + 5.0))
               * ln(((f.c_tr + 0.5) / (t.n_train + 5.0))
                    / ((f.c_te + 0.5) / (t.n_test + 5.0)))
             ) * 1000, 0) AS BIGINT) AS psi_milli
      FROM filled f JOIN tot t ON f.event_type = t.event_type
      GROUP BY 1)
    SELECT t.event_type,
           t.n_train, t.n_test,
           CAST(t.n_train * 1000000 // (SELECT g FROM gt) AS BIGINT)
             AS share_micro,
           p.psi_milli,
           CAST(1000000000000000
                // (greatest(t.n_train * 1000000
                             // (SELECT g FROM gt), 1)
                    * (1000 + greatest(p.psi_milli, 0))) AS BIGINT)
             AS weight_micro
    FROM tot t JOIN psi p ON t.event_type = p.event_type
"""


@register(
    "p_drift_reweight",
    _DRW_SQL,
    "drift-driven mixture reweighting: per event-type domain, the "
    "train-half share and the train->test PSI of the score "
    "distribution (10 bins with bounds FROZEN from the train half — "
    "the ml_calibration_drift temporal split — additive-smoothed "
    "+0.5/bin so empty bins never divide by zero), then a tempered "
    "inverse weight: weight_micro = 10^15 div (share_micro * (1000 + "
    "psi_milli)) — big domains are downweighted toward balance "
    "(p_mixture_reweight's lever) AND drifting domains are penalized "
    "in proportion to their instability (the DoReMi-flavored signal): "
    "the next training mix should lean on domains whose distribution "
    "holds. EXACT: PSI is the dq_psi_drift convention (round-6 double "
    "snapped to milli); the weight divides snapped integers only. "
    "Shape: two fact hash-aggs into a (domains x 10)-bin dim (both "
    "dims bounded — KB), one 1-row broadcast for bounds and totals; "
    "nothing bigger than the domain dim is ever joined",
)
def p_drift_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.expr("unix_micros(ts) div 86400000000 div 7").alias("w"),
    )
    span = s.agg(F.expr("(min(w) + max(w)) div 2 + 1").alias("cut"))
    sc = s.crossJoin(F.broadcast(span))
    tb = sc.filter(F.col("w") < F.col("cut")).agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    p = sc.crossJoin(F.broadcast(tb)).select(
        "event_type",
        (F.col("w") >= F.col("cut")).alias("is_test"),
        F.expr(
            "least(greatest((cents - lo) * 10 div (hi - lo + 1), 0), 9)"
        ).alias("bin"),
    )
    c = p.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_test"), 0).otherwise(1))
        .cast("bigint")
        .alias("c_tr"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_te"),
    )
    types = s.select("event_type").distinct()
    bins = (
        types.sparkSession.range(10)
        .select(F.col("id").cast("bigint").alias("bin"))
    )
    dim = types.crossJoin(F.broadcast(bins))
    filled = dim.join(c, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("c_tr", F.lit(0)).alias("c_tr"),
        F.coalesce("c_te", F.lit(0)).alias("c_te"),
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("c_tr").cast("bigint").alias("n_train"),
        F.sum("c_te").cast("bigint").alias("n_test"),
    )
    gt = tot.agg(F.sum("n_train").cast("bigint").alias("g"))
    psi = (
        filled.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(
                    (
                        (F.col("c_tr") + 0.5) / (F.col("n_train") + 5.0)
                        - (F.col("c_te") + 0.5) / (F.col("n_test") + 5.0)
                    )
                    * F.log(
                        ((F.col("c_tr") + 0.5) / (F.col("n_train") + 5.0))
                        / ((F.col("c_te") + 0.5) / (F.col("n_test") + 5.0))
                    )
                )
                * 1000,
                0,
            )
            .cast("bigint")
            .alias("psi_milli")
        )
    )
    return (
        tot.join(psi, "event_type")
        .crossJoin(F.broadcast(gt))
        .select(
            "event_type",
            "n_train",
            "n_test",
            F.expr("CAST(n_train * 1000000 div g AS BIGINT)").alias(
                "share_micro"
            ),
            "psi_milli",
            F.expr(
                "CAST(1000000000000000 div"
                " (greatest(n_train * 1000000 div g, 1)"
                " * (1000 + greatest(psi_milli, 0))) AS BIGINT)"
            ).alias("weight_micro"),
        )
    )


# p_quota_sample -----------------------------------------------------------

_QUOTA_N = 1000

_QUOTA_SQL = f"""
    WITH strata AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_stratum
      FROM documents GROUP BY 1),
    tot AS MATERIALIZED (
      SELECT CAST(sum(n_stratum) AS BIGINT) AS n FROM strata),
    alloc AS (
      SELECT lang, n_stratum,
             CAST({_QUOTA_N} AS BIGINT) * n_stratum
               // (SELECT n FROM tot) AS base,
             (CAST({_QUOTA_N} AS BIGINT) * n_stratum)
               % (SELECT n FROM tot) AS rem
      FROM strata),
    seats AS MATERIALIZED (
      SELECT CAST({_QUOTA_N} AS BIGINT)
               - CAST(sum(base) AS BIGINT) AS extra
      FROM alloc),
    quota AS (
      SELECT lang, n_stratum,
             base + CASE WHEN row_number() OVER (
                 ORDER BY rem DESC, lang) <= (SELECT extra FROM seats)
               THEN 1 ELSE 0 END AS quota
      FROM alloc),
    ranked AS (
      SELECT d.lang, d.doc_id,
             row_number() OVER (PARTITION BY d.lang
               ORDER BY md5('quota|' || CAST(d.doc_id AS VARCHAR)),
                        d.doc_id) AS rn
      FROM documents d),
    picked AS (
      SELECT r.lang, r.doc_id
      FROM ranked r JOIN quota q ON r.lang = q.lang
      WHERE r.rn <= q.quota)
    SELECT q.lang, q.n_stratum, CAST(q.quota AS BIGINT) AS quota,
           CAST(count(p.doc_id) AS BIGINT) AS n_sampled,
           CAST(coalesce(sum(p.doc_id), 0) AS BIGINT) AS sum_doc_id
    FROM quota q LEFT JOIN picked p ON q.lang = p.lang
    GROUP BY 1, 2, 3
"""


@register(
    "p_quota_sample",
    _QUOTA_SQL,
    "proportional quota sampling with exact largest-remainder "
    "allocation: a GLOBAL budget of 1000 documents is split across "
    "language strata by floor shares plus +1 seats to the largest "
    "remainders (the Hamilton rule rel_largest_remainder applies to "
    "cents, applied to sample seats — ties remainder DESC then lang), "
    "then each stratum contributes its quota's md5-smallest documents "
    "— the budgeted mixture sampler next to p1_stratified_sample "
    "(exact-N PER group) and p_mixture_reweight (weights, not picks): "
    "quotas sum to EXACTLY the budget, which floor shares alone "
    "cannot do. A stratum smaller than its quota under-fills without "
    "redistribution (single-pass production form, reported by the "
    "n_sampled column); sum_doc_id is the determinism checksum. "
    "Shape: one lang hash-agg, a |langs|-row allocation window, "
    "per-lang md5 rank windows (the p1 stratified convention), one "
    "quota join",
)
def p_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    strata = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stratum")
    )
    tot = strata.agg(F.sum("n_stratum").cast("bigint").alias("n"))
    alloc = strata.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_stratum",
        F.expr(f"CAST({_QUOTA_N} AS BIGINT) * n_stratum div n").alias(
            "base"
        ),
        F.expr(f"(CAST({_QUOTA_N} AS BIGINT) * n_stratum) % n").alias(
            "rem"
        ),
    )
    seats = alloc.agg(
        (F.lit(_QUOTA_N) - F.sum("base")).cast("bigint").alias("extra")
    )
    wq = Window.orderBy(F.desc("rem"), F.col("lang"))
    quota = (
        alloc.crossJoin(F.broadcast(seats))
        .withColumn("rk", F.row_number().over(wq))
        .select(
            "lang",
            "n_stratum",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
            ).alias("quota"),
        )
    )
    wr = Window.partitionBy("lang").orderBy(
        F.md5(F.concat_ws("|", F.lit("quota"), F.col("doc_id"))),
        F.col("doc_id"),
    )
    ranked = docs.select(
        "lang", "doc_id", F.row_number().over(wr).alias("rn")
    )
    picked = ranked.join(
        F.broadcast(quota.select(F.col("lang").alias("ql"), "quota")),
        ranked["lang"] == F.col("ql"),
    ).filter(F.col("rn") <= F.col("quota"))
    return (
        quota.join(
            picked.groupBy(F.col("lang").alias("pl")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
                F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            ),
            quota["lang"] == F.col("pl"),
            "left",
        )
        .select(
            "lang",
            "n_stratum",
            F.col("quota").cast("bigint").alias("quota"),
            F.coalesce("n_sampled", F.lit(0))
            .cast("bigint")
            .alias("n_sampled"),
            F.coalesce("sum_doc_id", F.lit(0))
            .cast("bigint")
            .alias("sum_doc_id"),
        )
    )


# p_epoch_shuffle_quality --------------------------------------------------

_EPOCH_SHUF_SQL = """
    WITH sharded AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5('shard|'
               || CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(8 AS UBIGINT) AS INT) AS shard,
             ('0x' || substr(md5('ep1|' || CAST(doc_id AS VARCHAR)),
               1, 12)) AS k1,
             ('0x' || substr(md5('ep2|' || CAST(doc_id AS VARCHAR)),
               1, 12)) AS k2
      FROM documents),
    ranked AS (
      SELECT shard,
             row_number() OVER (PARTITION BY shard
               ORDER BY k1, doc_id) AS r1,
             row_number() OVER (PARTITION BY shard
               ORDER BY k2, doc_id) AS r2
      FROM sharded),
    agg AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST((r1 - r2) AS HUGEINT) * (r1 - r2))
               AS HUGEINT) AS sum_d2
      FROM ranked GROUP BY 1)
    SELECT CAST(shard AS INT) AS shard, n, CAST(sum_d2 AS BIGINT) AS sum_d2,
           CAST(CASE WHEN n < 2 THEN 1000
             ELSE (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
                   - 6 * sum_d2) * 1000
                  // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
             END AS BIGINT) AS spearman_milli
    FROM agg
"""


@register(
    "p_epoch_shuffle_quality",
    _EPOCH_SHUF_SQL,
    "epoch-shuffle quality audit: per training shard, the Spearman "
    "rank correlation between the epoch-1 and epoch-2 md5-keyed "
    "curriculum orders (rho = 1 - 6*sum d^2 / (n(n^2-1)), reported "
    "in milli with the n(n^2-1) term in int128 so 1e9-row shards "
    "cannot wrap) — a GOOD keyed shuffle re-orders every epoch, so "
    "rho should sit near 0; rho near 1000 means epochs replay the "
    "same order (the seed was not folded in) and batch composition "
    "never varies, a real and silent training-quality bug. The "
    "determinism twin of p8: md5 ordering makes every epoch "
    "reproducible AND distinct, and this measures the 'distinct'. "
    "Shape: the two rank windows are per (shard) — the "
    "text_seq_packing convention: shard count scales with the "
    "corpus, so partitions stay bounded in production; one shard-dim "
    "hash-agg after",
)
def p_epoch_shuffle_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")

    def key(seed):
        return F.concat(
            F.lit("0x"),
            F.substring(
                F.md5(F.concat_ws("|", F.lit(seed), F.col("doc_id"))), 1, 12
            ),
        )

    sharded = docs.select(
        "doc_id",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws("|", F.lit("shard"), F.col("doc_id"))
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(8),
        )
        .cast("int")
        .alias("shard"),
        key("ep1").alias("k1"),
        key("ep2").alias("k2"),
    )
    w1 = Window.partitionBy("shard").orderBy("k1", "doc_id")
    w2 = Window.partitionBy("shard").orderBy("k2", "doc_id")
    ranked = sharded.select(
        "shard",
        F.row_number().over(w1).alias("r1"),
        F.row_number().over(w2).alias("r2"),
    )
    dec = "decimal(38,0)"
    agg = ranked.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            ((F.col("r1") - F.col("r2")).cast(dec))
            * (F.col("r1") - F.col("r2"))
        ).alias("sum_d2"),
    )
    return agg.select(
        F.col("shard").cast("int").alias("shard"),
        "n",
        F.col("sum_d2").cast("bigint").alias("sum_d2"),
        F.expr(
            "CAST(CASE WHEN n < 2 THEN 1000"
            " ELSE (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0))"
            " * n - 1) - 6 * CAST(sum_d2 AS DECIMAL(38,0))) * 1000"
            " div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0))"
            " * n - 1)) END AS BIGINT)"
        ).alias("spearman_milli"),
    )


# p_recency_weights --------------------------------------------------------

_RECENCY_SQL = """
    WITH o AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(extract(year FROM o_orderdate) * 12
               + extract(month FROM o_orderdate) - 1 AS BIGINT) AS m
      FROM orders),
    mx AS MATERIALIZED (SELECT max(day) AS mday FROM o),
    wtd AS (
      SELECT m,
             CAST(1000000 // (CAST(1 AS BIGINT) << CAST(least(
               ((SELECT mday FROM mx) - day) // 30, 40) AS INT))
               AS BIGINT) AS w_micro
      FROM o),
    agg AS (
      SELECT m, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(w_micro) AS BIGINT) AS w_sum
      FROM wtd GROUP BY 1),
    tot AS MATERIALIZED (
      SELECT CAST(sum(w_sum) AS BIGINT) AS tw FROM agg)
    SELECT CAST(m AS BIGINT) AS month_idx, n_orders, w_sum,
           CAST(w_sum * 1000000 // (SELECT tw FROM tot) AS BIGINT)
             AS share_micro
    FROM agg
"""


@register(
    "p_recency_weights",
    _RECENCY_SQL,
    "recency-decayed sampling weights with a 30-day half-life: each "
    "order weighs 2^-(age_days div 30) in micro (EXACT — the power of "
    "two is an integer shift, capped at 2^40, so no float pow ever "
    "appears), rolled up per month with each month's share of the "
    "total decayed mass — the freshness-weighted mixture ledger next "
    "to p_mixture_reweight (balance) and p_drift_reweight "
    "(stability): training-data pipelines age out stale crawls by "
    "exactly this kind of half-life schedule, and the share column "
    "IS the per-month sampling rate it implies. Shape: one 1-row max "
    "broadcast, a map-side weight expression, one month-dim "
    "hash-agg",
)
def p_recency_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    o = orders.select(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("day"),
        F.expr(
            "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1"
            " AS BIGINT)"
        ).alias("m"),
    )
    mx = o.agg(F.max("day").alias("mday"))
    wtd = o.crossJoin(F.broadcast(mx)).select(
        "m",
        F.expr(
            "CAST(1000000 div shiftleft(CAST(1 AS BIGINT),"
            " CAST(least((mday - day) div 30, 40) AS INT)) AS BIGINT)"
        ).alias("w_micro"),
    )
    agg = wtd.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("w_micro").cast("bigint").alias("w_sum"),
    )
    tot = agg.agg(F.sum("w_sum").cast("bigint").alias("tw"))
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("m").cast("bigint").alias("month_idx"),
        "n_orders",
        "w_sum",
        F.expr("CAST(w_sum * 1000000 div tw AS BIGINT)").alias(
            "share_micro"
        ),
    )


# ---------------------------------------------------------------------------
# p_token_budget_mix
# ---------------------------------------------------------------------------


def _token_budget_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH src AS MATERIALIZED (
      SELECT source, CAST(sum(len({tokens_sql('text')})) AS BIGINT) AS cap
      FROM documents GROUP BY 1),
    tot AS (
      SELECT CAST(sum(cap) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS s
      FROM src),
    b AS (SELECT total * 9 // 10 AS budget, s FROM tot),
    ord AS (
      SELECT source, cap,
             row_number() OVER (ORDER BY cap, source) AS j,
             CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pexcl
      FROM src),
    flags AS MATERIALIZED (
      SELECT o.source, o.cap, o.j, b.budget, b.s,
             (o.cap * (b.s - o.j + 1) <= b.budget - o.pexcl) AS capped
      FROM ord o CROSS JOIN b),
    kstat AS (
      SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0)
               AS BIGINT) AS kk,
             CAST(coalesce(sum(CASE WHEN capped THEN cap END), 0)
               AS BIGINT) AS pk
      FROM flags),
    unc AS (
      SELECT source, row_number() OVER (ORDER BY source) AS ru
      FROM flags WHERE NOT capped)
    SELECT f.source,
           CAST(f.cap AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN f.capped THEN f.cap
             ELSE (f.budget - k.pk) // (f.s - k.kk)
                  + CASE WHEN u.ru <= (f.budget - k.pk) % (f.s - k.kk)
                    THEN 1 ELSE 0 END
             END AS BIGINT) AS alloc_tokens,
           f.capped,
           CAST(CASE WHEN f.cap = 0 THEN 0
             ELSE (CASE WHEN f.capped THEN f.cap
                   ELSE (f.budget - k.pk) // (f.s - k.kk)
                        + CASE WHEN u.ru <= (f.budget - k.pk)
                                           % (f.s - k.kk)
                          THEN 1 ELSE 0 END END) * 1000 // f.cap
             END AS BIGINT) AS fill_milli
    FROM flags f
    CROSS JOIN kstat k
    LEFT JOIN unc u ON f.source = u.source
"""


@register(
    "p_token_budget_mix",
    _token_budget_sql(),
    "token-budget mixture solver (verdict r10 #4): allocate a 90% "
    "global TOKEN budget across sources under the uniform-mix target "
    "(p_mixture_reweight's policy in tokens, not docs), capped by each "
    "source's actual token supply, via exact integer water-filling — "
    "below-level sources are capped at capacity (sorted by capacity, "
    "cappedness is prefix-closed, proven by cross-multiplication: "
    "cap * remaining_sources <= remaining_budget, so no division "
    "happens before the final quotient) and the surplus redistributes "
    "to token-rich sources with the integer remainder settled in "
    "source order (p_quota_sample's largest-remainder seats — all "
    "remainders tie here). sum(alloc) == budget and alloc <= cap by "
    "construction. Shape: one source-keyed hash-agg, then windows "
    "over a |sources|-row bounded dim",
)
def p_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(tokens_expr("text"))).cast("bigint").alias("cap")
    )
    tot = src.agg(
        F.sum("cap").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("s"),
    ).select(
        F.expr("total * 9 div 10").alias("budget"), "s"
    )
    w = Window.orderBy("cap", "source")
    ord_ = src.select(
        "source",
        "cap",
        F.row_number().over(w).alias("j"),
        F.coalesce(
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("pexcl"),
    )
    flags = ord_.crossJoin(F.broadcast(tot)).select(
        "source",
        "cap",
        "j",
        "budget",
        "s",
        (
            F.col("cap") * (F.col("s") - F.col("j") + 1)
            <= F.col("budget") - F.col("pexcl")
        ).alias("capped"),
    )
    kstat = flags.agg(
        F.coalesce(F.sum(F.when(F.col("capped"), 1)), F.lit(0))
        .cast("bigint")
        .alias("kk"),
        F.coalesce(F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0))
        .cast("bigint")
        .alias("pk"),
    )
    unc = (
        flags.filter(~F.col("capped"))
        .select(
            "source",
            F.row_number().over(Window.orderBy("source")).alias("ru"),
        )
    )
    alloc_expr = (
        "CASE WHEN capped THEN cap"
        " ELSE (budget - pk) div (s - kk)"
        "      + CASE WHEN ru <= (budget - pk) % (s - kk)"
        "        THEN 1 ELSE 0 END END"
    )
    return (
        flags.crossJoin(F.broadcast(kstat))
        .join(unc, "source", "left")
        .select(
            "source",
            F.col("cap").cast("bigint").alias("cap_tokens"),
            F.expr(f"CAST(({alloc_expr}) AS BIGINT)").alias(
                "alloc_tokens"
            ),
            "capped",
            F.expr(
                "CAST(CASE WHEN cap = 0 THEN 0"
                f" ELSE ({alloc_expr}) * 1000 div cap END AS BIGINT)"
            ).alias("fill_milli"),
        )
    )


# p_shard_balance ------------------------------------------------------------


def _shard_balance_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH s AS (
      SELECT CAST(CAST(('0x' || substr(md5('shard|'
               || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
               % CAST(8 AS UBIGINT) AS BIGINT) AS shard,
             CAST(len({tokens_sql('text')}) AS BIGINT) AS toks
      FROM documents),
    per AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens
      FROM s GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_shards
      FROM per)
    SELECT p.shard, p.n_docs, p.n_tokens,
           CAST(CASE WHEN t.total = 0 THEN 0
             ELSE p.n_tokens * t.n_shards * 1000 // t.total
             END AS BIGINT) AS load_milli
    FROM per p CROSS JOIN tot t
"""


@register(
    "p_shard_balance",
    _shard_balance_sql(),
    "shard TOKEN balance: per md5-hash shard (fixed 8 here — the "
    "production n//1000+1 rule of p7_shard_assign yields one shard at "
    "test SF, so the diagnostic pins the count), docs, token mass, "
    "and load vs uniform (1000 = balanced). p7 balances DOC counts by "
    "construction; training-data shards must balance TOKENS or the "
    "largest shard gates every epoch (the straggler the "
    "ann_ivf_balance report catches for ANN cells, here for the "
    "packing/export path). Shape: map-side shard key, one 8-row "
    "hash-agg, one scalar cross",
)
def p_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    shard = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit("shard"), F.col("doc_id"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(8),
    )
    s = docs.select(
        shard.alias("shard"),
        F.size(tokens_expr("text")).cast("bigint").alias("toks"),
    )
    per = s.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.expr(
            "CAST(CASE WHEN total = 0 THEN 0"
            " ELSE n_tokens * n_shards * 1000 div total END AS BIGINT)"
        ).alias("load_milli"),
    )


# ---------------------------------------------------------------------------
# p_ess_weight_clip
# ---------------------------------------------------------------------------

_ESS_SQL = """
    WITH s AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w
               FROM documents),
    vals AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vals),
    p95 AS MATERIALIZED (
      SELECT min(w) AS cap FROM (
        SELECT w, sum(c) OVER (ORDER BY w) AS cum FROM vals) t
      WHERE 100 * cum >= 95 * (SELECT n FROM tot)),
    clipped AS (
      SELECT lang, w, least(w, (SELECT cap FROM p95)) AS wc
      FROM s),
    agg AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN w > wc THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped,
             CAST(sum(w) AS HUGEINT) AS sw,
             CAST(sum(w * w) AS HUGEINT) AS sw2,
             CAST(sum(wc) AS HUGEINT) AS swc,
             CAST(sum(wc * wc) AS HUGEINT) AS swc2
      FROM clipped GROUP BY 1)
    SELECT lang, n, n_clipped,
           CAST(CASE WHEN sw2 = 0 THEN 0
             ELSE sw * sw * 1000 // (n * sw2) END AS BIGINT)
             AS ess_raw_milli,
           CAST(CASE WHEN swc2 = 0 THEN 0
             ELSE swc * swc * 1000 // (n * swc2) END AS BIGINT)
             AS ess_clipped_milli
    FROM agg
"""


@register(
    "p_ess_weight_clip",
    _ESS_SQL,
    "weighted-sampling degeneracy check: effective sample size of a "
    "length-weighted draw (weights = n_chars, the bias a token-budget "
    "sample induces), raw vs clipped at the exact distinct-value p95; "
    "per lang, normalized ESS = (sum w)^2 / (n * sum w^2) in milli "
    "(decimal(38,0)/HUGEINT sums, order-independent) plus the clipped "
    "count. ESS near 1000 = weights harmless; ESS of 100 = 90% of the "
    "budget wasted on heavy rows — clipping buys it back at known "
    "bias. The gate run before any p_weighted_sample / DSIR draw "
    "ships. Shape: one scan, one distinct-value p95 window "
    "(value-domain bounded), one |langs| rollup",
)
def p_ess_weight_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "lang", F.col("n_chars").cast("bigint").alias("w")
    )
    vals = s.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = vals.select(
        "w",
        F.sum("c").over(
            Window.orderBy("w").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).alias("cum"),
    )
    tot = vals.agg(F.sum("c").cast("bigint").alias("n"))
    p95 = (
        cum.crossJoin(F.broadcast(tot))
        .filter(100 * F.col("cum") >= 95 * F.col("n"))
        .agg(F.min("w").alias("cap"))
    )
    dec = "decimal(38,0)"
    clipped = s.crossJoin(F.broadcast(p95)).select(
        "lang",
        "w",
        F.least(F.col("w"), F.col("cap")).alias("wc"),
    )
    return (
        clipped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("w") > F.col("wc"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped"),
            F.sum(F.col("w").cast(dec)).alias("sw"),
            F.sum((F.col("w") * F.col("w")).cast(dec)).alias("sw2"),
            F.sum(F.col("wc").cast(dec)).alias("swc"),
            F.sum((F.col("wc") * F.col("wc")).cast(dec)).alias("swc2"),
        )
        .select(
            "lang",
            "n",
            "n_clipped",
            F.expr(
                "CAST(CASE WHEN sw2 = 0 THEN 0"
                " ELSE sw * sw * 1000 div (n * sw2) END AS BIGINT)"
            ).alias("ess_raw_milli"),
            F.expr(
                "CAST(CASE WHEN swc2 = 0 THEN 0"
                " ELSE swc * swc * 1000 div (n * swc2) END AS BIGINT)"
            ).alias("ess_clipped_milli"),
        )
    )


# ---------------------------------------------------------------------------
# p_dedup_aware_mix
# ---------------------------------------------------------------------------


def _dedup_mix_sql() -> str:
    arms = []
    for arm, cap, total in (
        ("raw", "raw_tokens", "rt"),
        ("ded", "keeper_tokens", "kt"),
    ):
        arms.append(f"""
    base_{arm} AS MATERIALIZED (
      SELECT s.source,
             CAST(CASE WHEN t.{total} = 0 THEN 0
               ELSE b.budget * s.{cap} // t.{total} END AS BIGINT)
               AS base,
             CAST(CASE WHEN t.{total} = 0 THEN 0
               ELSE b.budget * s.{cap} % t.{total} END AS BIGINT)
               AS rem
      FROM src s CROSS JOIN b CROSS JOIN tot t),
    left_{arm} AS (
      SELECT CAST(max(b.budget) - sum(base) AS BIGINT) AS lo
      FROM base_{arm} CROSS JOIN b),
    alloc_{arm} AS (
      SELECT source,
             CAST(base + CASE WHEN row_number() OVER
               (ORDER BY rem DESC, source)
               <= (SELECT lo FROM left_{arm}) THEN 1 ELSE 0 END
               AS BIGINT) AS alloc
      FROM base_{arm})""")
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
    -- survivor = exact keeper (in ktoks, the fp-min window of the
    -- keeper CTE) AND the min id of its near-dup component
    keep AS (
      SELECT d.doc_id, d.source, len(k.t) AS ntok,
             coalesce(c.component, k.doc_id) = k.doc_id AS is_keeper
      FROM documents d
      JOIN ktoks k ON d.doc_id = k.doc_id
      LEFT JOIN comp c ON k.doc_id = c.doc_id),
    rawt AS (
      SELECT d.doc_id, d.source, len(t.t) AS ntok
      FROM documents d JOIN toks t ON d.doc_id = t.doc_id),
    src AS MATERIALIZED (
      SELECT r.source,
             CAST(sum(r.ntok) AS BIGINT) AS raw_tokens,
             CAST(coalesce((SELECT sum(k.ntok) FROM keep k
               WHERE k.source = r.source AND k.is_keeper), 0)
               AS BIGINT) AS keeper_tokens
      FROM rawt r GROUP BY 1),
    tot AS (
      SELECT CAST(sum(raw_tokens) AS BIGINT) AS rt,
             CAST(sum(keeper_tokens) AS BIGINT) AS kt
      FROM src),
    b AS (SELECT CAST(kt * 9 // 10 AS BIGINT) AS budget FROM tot),
    {','.join(arms)}
    SELECT s.source, s.raw_tokens, s.keeper_tokens,
           CAST(CASE WHEN s.raw_tokens = 0 THEN 0
             ELSE (s.raw_tokens - s.keeper_tokens) * 1000
                  // s.raw_tokens END AS BIGINT) AS dup_share_milli,
           ar.alloc AS raw_alloc,
           ad.alloc AS dedup_alloc,
           CAST(ad.alloc - ar.alloc AS BIGINT) AS alloc_shift
    FROM src s
    JOIN alloc_raw ar ON s.source = ar.source
    JOIN alloc_ded ad ON s.source = ad.source
"""


@register(
    "p_dedup_aware_mix",
    _dedup_mix_sql(),
    "the mixture you should actually train on: per source, raw vs "
    "DEDUP-SURVIVOR token mass (a survivor is an exact keeper that is "
    "also the min id of its near-dup component — the full C4 order: "
    "exact dedup, then SimHash banding, then components) and the "
    "duplicate share, then ONE token budget (90% of the deduped "
    "total) allocated proportionally by largest remainder BOTH ways "
    "— over raw caps and over survivor caps. alloc_shift is exactly "
    "how many seats the raw mixture hands to duplicated sources: a "
    "source that is 40% copies gets 40% fewer seats once dedup "
    "informs the solver. Complements p_token_budget_mix "
    "(water-filling on raw caps) with the dedup-aware proportional "
    "base the C4/RefinedWeb recipes use. Shape: one tokenize pass, "
    "the shared keeper graph + size-adaptive components for the "
    "survivor flag, |sources|-row seat arithmetic over broadcast "
    "scalars; exact integers throughout",
)
def p_dedup_aware_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_frames,
    )
    from jigsaw_spark.operators.text import tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    ntok = docs.select(
        "doc_id", "source", F.size(tokens_expr("text")).alias("ntok")
    )
    # C4-ordered survivors: exact keepers first, then the min id of
    # each near-dup component over the shared keeper graph — ONE
    # exact-dedup pass shared by the flags and the pair graph
    ded, kpairs = keeper_frames(docs, "doc_id")
    exact = ded.select("doc_id", "is_dup")
    comp = connected_components(
        kpairs.localCheckpoint()
    ).select("doc_id", F.col("component").alias("c0"))
    keep = (
        exact.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            (
                ~F.col("is_dup")
                & (
                    F.coalesce("c0", F.col("doc_id"))
                    == F.col("doc_id")
                )
            ).alias("is_keeper"),
        )
    )
    src = (
        ntok.join(keep, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("ntok").cast("bigint").alias("raw_tokens"),
            F.sum(
                F.when(F.col("is_keeper"), F.col("ntok")).otherwise(0)
            )
            .cast("bigint")
            .alias("keeper_tokens"),
        )
        .localCheckpoint()
    )
    tot = src.agg(
        F.sum("raw_tokens").cast("bigint").alias("rt"),
        F.sum("keeper_tokens").cast("bigint").alias("kt"),
    )
    b = tot.select(
        F.expr("CAST(kt * 9 div 10 AS BIGINT)").alias("budget"), "rt", "kt"
    )

    # both seat computations in ONE pass: union the two arms and run
    # the remainder-rank window PARTITIONED BY arm (bounded |sources|
    # rows per partition, and no single-partition warning), then pivot
    withb = src.crossJoin(F.broadcast(b))

    def _arm(arm: str, cap: str, total: str) -> DataFrame:
        return withb.select(
            F.lit(arm).alias("arm"),
            "source",
            F.expr(
                f"CAST(CASE WHEN {total} = 0 THEN 0"
                f" ELSE budget * {cap} div {total} END AS BIGINT)"
            ).alias("base"),
            F.expr(
                f"CAST(CASE WHEN {total} = 0 THEN 0"
                f" ELSE budget * {cap} % {total} END AS BIGINT)"
            ).alias("rem"),
            "budget",
        )

    base = _arm("raw", "raw_tokens", "rt").unionByName(
        _arm("ded", "keeper_tokens", "kt")
    )
    lo = base.groupBy("arm").agg(
        (F.max("budget") - F.sum("base")).cast("bigint").alias("lo")
    )
    w = Window.partitionBy("arm").orderBy(
        F.desc("rem"), F.col("source")
    )
    alloc = (
        base.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(lo), "arm")
        .select(
            "arm",
            "source",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("lo"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )
    seats = alloc.groupBy("source").agg(
        F.max(F.when(F.col("arm") == "raw", F.col("alloc")))
        .cast("bigint")
        .alias("raw_alloc"),
        F.max(F.when(F.col("arm") == "ded", F.col("alloc")))
        .cast("bigint")
        .alias("dedup_alloc"),
    )
    return (
        src.join(seats, "source")
        .select(
            "source",
            "raw_tokens",
            "keeper_tokens",
            F.expr(
                "CAST(CASE WHEN raw_tokens = 0 THEN 0"
                " ELSE (raw_tokens - keeper_tokens) * 1000"
                " div raw_tokens END AS BIGINT)"
            ).alias("dup_share_milli"),
            "raw_alloc",
            "dedup_alloc",
            (F.col("dedup_alloc") - F.col("raw_alloc"))
            .cast("bigint")
            .alias("alloc_shift"),
        )
    )


# ---------------------------------------------------------------------------
# p_epoch_schedule
# ---------------------------------------------------------------------------


def _epoch_schedule_sql() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    WITH src AS MATERIALIZED (
      SELECT source,
             CAST(sum(len({tokens_sql('text')})) AS BIGINT) AS cap
      FROM documents GROUP BY 1),
    wt AS MATERIALIZED (
      SELECT source, cap,
             CAST(CASE WHEN cap = 0 THEN 0
               ELSE round(exp(0.7 * ln(cap)), 0) * 1000000
               END AS BIGINT) AS w
      FROM src),
    tot AS (
      SELECT CAST(sum(cap) AS BIGINT) AS total,
             CAST(sum(w) AS BIGINT) AS tw
      FROM wt),
    b AS (SELECT CAST(total * 9 // 10 AS BIGINT) AS budget FROM tot),
    base AS MATERIALIZED (
      SELECT s.source, s.cap, s.w,
             CAST(CASE WHEN t.tw = 0 THEN 0
               ELSE b.budget * s.w // t.tw END AS BIGINT) AS base,
             CAST(CASE WHEN t.tw = 0 THEN 0
               ELSE b.budget * s.w % t.tw END AS BIGINT) AS rem
      FROM wt s CROSS JOIN tot t CROSS JOIN b),
    lo AS (
      SELECT CAST(max(b.budget) - sum(base) AS BIGINT) AS leftover
      FROM base CROSS JOIN b),
    tgt AS (
      SELECT source, cap, w,
             CAST(base + CASE WHEN row_number() OVER
               (ORDER BY rem DESC, source) <= (SELECT leftover FROM lo)
               THEN 1 ELSE 0 END AS BIGINT) AS target
      FROM base)
    SELECT source,
           CAST(cap AS BIGINT) AS cap_tokens,
           CAST(w AS BIGINT) AS weight_micro,
           target AS target_tokens,
           CAST(CASE WHEN cap = 0 THEN 0
             ELSE target * 1000 // cap END AS BIGINT) AS epochs_milli,
           CASE WHEN cap = 0 THEN FALSE
             ELSE target * 1000 // cap > 4000 END AS over_limit,
           CAST(least(target, 4 * cap) AS BIGINT) AS clipped_tokens,
           CAST(target - least(target, 4 * cap) AS BIGINT)
             AS surplus_tokens
    FROM tgt
"""


@register(
    "p_epoch_schedule",
    _epoch_schedule_sql(),
    "the data-constrained-scaling table: a temperature-scaled mixture "
    "(alpha=0.7 — weight = cap^0.7, integer micro via ONE exp/ln "
    "libm pair per source row, the NB/DSIR float discipline) "
    "upweights rare sources until their largest-remainder target "
    "EXCEEDS their cap, i.e. they repeat for multiple epochs. Per "
    "source: cap, weight, target, implied epochs (milli), the "
    "4-epoch repetition ceiling flag (returns from repeated data "
    "diminish sharply past ~4 epochs), the clipped target, and the "
    "surplus the ceiling frees. p_temperature_mixture draws a "
    "temperature SAMPLE; p_token_budget_mix water-fills raw caps; "
    "this prices the REPETITION a temperature mix implies — the "
    "table read before committing a mixture to a training run. "
    "Shape: one tokenize hash-agg to the |sources| dim, seat "
    "arithmetic over broadcast scalars, one rank window over the "
    "bounded dim",
)
def p_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.text import tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    src = (
        docs.select(
            "source", F.size(tokens_expr("text")).alias("ntok")
        )
        .groupBy("source")
        .agg(F.sum("ntok").cast("bigint").alias("cap"))
    )
    wt = src.select(
        "source",
        "cap",
        # weight snapped to INTEGER units of cap^0.7 BEFORE the micro
        # scaling (advisor r12 #1): the raw exp(0.7*ln(cap)) differs
        # between DuckDB's libm and the JVM's Math.exp by at most one
        # ulp (~1e-12 relative); snapping on the unit grid leaves a
        # ~1e-12 flip window instead of ~1e-6 on the micro grid, so a
        # platform libm divergence cannot realistically flip the seat
        # ranks. The libm-parity assumption is thereby bounded, not
        # assumed.
        F.expr(
            "CAST(CASE WHEN cap = 0 THEN 0"
            " ELSE round(exp(0.7 * ln(cap)), 0) * 1000000"
            " END AS BIGINT)"
        ).alias("w"),
    ).localCheckpoint()
    tot = wt.agg(
        F.sum("cap").cast("bigint").alias("total"),
        F.sum("w").cast("bigint").alias("tw"),
    )
    b = tot.select(
        F.expr("CAST(total * 9 div 10 AS BIGINT)").alias("budget"),
        "tw",
    )
    base = wt.crossJoin(F.broadcast(b)).select(
        "source",
        "cap",
        "w",
        F.expr(
            "CAST(CASE WHEN tw = 0 THEN 0"
            " ELSE budget * w div tw END AS BIGINT)"
        ).alias("base"),
        F.expr(
            "CAST(CASE WHEN tw = 0 THEN 0"
            " ELSE budget * w % tw END AS BIGINT)"
        ).alias("rem"),
        "budget",
    )
    lo = base.agg(
        (F.max("budget") - F.sum("base")).cast("bigint").alias("lo")
    )
    w = Window.orderBy(F.desc("rem"), F.col("source"))
    tgt = (
        base.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(lo))
        .select(
            "source",
            "cap",
            "w",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("lo"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("target"),
        )
    )
    return tgt.select(
        "source",
        F.col("cap").cast("bigint").alias("cap_tokens"),
        F.col("w").cast("bigint").alias("weight_micro"),
        F.col("target").alias("target_tokens"),
        F.expr(
            "CAST(CASE WHEN cap = 0 THEN 0"
            " ELSE target * 1000 div cap END AS BIGINT)"
        ).alias("epochs_milli"),
        F.expr(
            "CASE WHEN cap = 0 THEN FALSE"
            " ELSE target * 1000 div cap > 4000 END"
        ).alias("over_limit"),
        F.expr("CAST(least(target, 4 * cap) AS BIGINT)").alias(
            "clipped_tokens"
        ),
        F.expr(
            "CAST(target - least(target, 4 * cap) AS BIGINT)"
        ).alias("surplus_tokens"),
    )


# ---------------------------------------------------------------------------
# p_curated_budget_mix
# ---------------------------------------------------------------------------


def _curated_mix_sql() -> str:
    arms = []
    for arm, cap, total in (
        ("ded", "keeper_tokens", "kt"),
        ("cur", "curated_tokens", "ct"),
    ):
        arms.append(f"""
    base_{arm} AS MATERIALIZED (
      SELECT s.source,
             CAST(CASE WHEN t.{total} = 0 THEN 0
               ELSE b.budget * s.{cap} // t.{total} END AS BIGINT)
               AS base,
             CAST(CASE WHEN t.{total} = 0 THEN 0
               ELSE b.budget * s.{cap} % t.{total} END AS BIGINT)
               AS rem
      FROM src s CROSS JOIN b CROSS JOIN tot t),
    left_{arm} AS (
      SELECT CAST(max(b.budget) - sum(base) AS BIGINT) AS lo
      FROM base_{arm} CROSS JOIN b),
    alloc_{arm} AS (
      SELECT source,
             CAST(base + CASE WHEN row_number() OVER
               (ORDER BY rem DESC, source)
               <= (SELECT lo FROM left_{arm}) THEN 1 ELSE 0 END
               AS BIGINT) AS alloc
      FROM base_{arm})""")
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
    keep AS (
      SELECT d.doc_id, d.source, len(k.t) AS ntok
      FROM documents d
      JOIN ktoks k ON d.doc_id = k.doc_id
      LEFT JOIN comp c ON k.doc_id = c.doc_id
      WHERE coalesce(c.component, k.doc_id) = k.doc_id),
    {_gate_flags_sql()},
    src AS MATERIALIZED (
      SELECT k.source,
             CAST(sum(k.ntok) AS BIGINT) AS keeper_tokens,
             CAST(sum(CASE WHEN g.ok THEN k.ntok ELSE 0 END)
               AS BIGINT) AS curated_tokens
      FROM keep k JOIN gate g ON k.doc_id = g.doc_id
      GROUP BY 1),
    tot AS (
      SELECT CAST(sum(keeper_tokens) AS BIGINT) AS kt,
             CAST(sum(curated_tokens) AS BIGINT) AS ct
      FROM src),
    b AS (SELECT CAST(ct * 9 // 10 AS BIGINT) AS budget FROM tot),
    {','.join(arms)}
    SELECT s.source, s.keeper_tokens, s.curated_tokens,
           CAST(CASE WHEN s.keeper_tokens = 0 THEN 0
             ELSE (s.keeper_tokens - s.curated_tokens) * 1000
                  // s.keeper_tokens END AS BIGINT)
             AS gate_loss_milli,
           ad.alloc AS dedup_alloc,
           ac.alloc AS curated_alloc,
           CAST(ac.alloc - ad.alloc AS BIGINT) AS alloc_shift
    FROM src s
    JOIN alloc_ded ad ON s.source = ad.source
    JOIN alloc_cur ac ON s.source = ac.source
"""


@register(
    "p_curated_budget_mix",
    _curated_mix_sql(),
    "the marginal effect of the GATE given dedup — per source, "
    "dedup-survivor token mass vs CURATED mass (survivor AND v1-gate "
    "pass), the gate's token loss share, and ONE budget (90% of the "
    "curated total) allocated by largest remainder over both caps: "
    "alloc_shift is exactly how many seats the gate moves between "
    "sources. Completes the mixture family — p_token_budget_mix "
    "prices raw caps, p_dedup_aware_mix prices dedup against raw, "
    "this prices the gate against dedup: the last table before a "
    "training mixture is committed. Shape: one tokenize pass shared "
    "through the keeper CTE, map-only gate projection, |sources| "
    "seat arithmetic over broadcast scalars, remainder rank "
    "partitioned by arm",
)
def p_curated_budget_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_frames,
    )
    from jigsaw_spark.operators.text import tokens_expr
    from jigsaw_spark.session import widen

    docs = widen(_t(spark, sf_dir, "documents"))
    ntok = docs.select(
        "doc_id", "source", F.size(tokens_expr("text")).alias("ntok")
    )
    # one exact-dedup pass shared by the flags and the pair graph
    ded, kpairs = keeper_frames(docs, "doc_id")
    exact = ded.select("doc_id", "is_dup")
    comp = connected_components(
        kpairs.localCheckpoint()
    ).select("doc_id", F.col("component").alias("c0"))
    keep = exact.join(comp, "doc_id", "left").select(
        "doc_id",
        (
            ~F.col("is_dup")
            & (F.coalesce("c0", F.col("doc_id")) == F.col("doc_id"))
        ).alias("is_keeper"),
    )
    gate = _gate_ok_col(docs)
    src = (
        ntok.join(keep, "doc_id")
        .join(gate, "doc_id")
        .filter(F.col("is_keeper"))
        .groupBy("source")
        .agg(
            F.sum("ntok").cast("bigint").alias("keeper_tokens"),
            F.sum(F.when(F.col("ok"), F.col("ntok")).otherwise(0))
            .cast("bigint")
            .alias("curated_tokens"),
        )
        .localCheckpoint()
    )
    tot = src.agg(
        F.sum("keeper_tokens").cast("bigint").alias("kt"),
        F.sum("curated_tokens").cast("bigint").alias("ct"),
    )
    b = tot.select(
        F.expr("CAST(ct * 9 div 10 AS BIGINT)").alias("budget"),
        "kt",
        "ct",
    )
    withb = src.crossJoin(F.broadcast(b))

    def _arm(arm: str, cap: str, total: str) -> DataFrame:
        return withb.select(
            F.lit(arm).alias("arm"),
            "source",
            F.expr(
                f"CAST(CASE WHEN {total} = 0 THEN 0"
                f" ELSE budget * {cap} div {total} END AS BIGINT)"
            ).alias("base"),
            F.expr(
                f"CAST(CASE WHEN {total} = 0 THEN 0"
                f" ELSE budget * {cap} % {total} END AS BIGINT)"
            ).alias("rem"),
            "budget",
        )

    base = _arm("ded", "keeper_tokens", "kt").unionByName(
        _arm("cur", "curated_tokens", "ct")
    )
    lo = base.groupBy("arm").agg(
        (F.max("budget") - F.sum("base")).cast("bigint").alias("lo")
    )
    w = Window.partitionBy("arm").orderBy(
        F.desc("rem"), F.col("source")
    )
    alloc = (
        base.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(lo), "arm")
        .select(
            "arm",
            "source",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("lo"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )
    seats = alloc.groupBy("source").agg(
        F.max(F.when(F.col("arm") == "ded", F.col("alloc")))
        .cast("bigint")
        .alias("dedup_alloc"),
        F.max(F.when(F.col("arm") == "cur", F.col("alloc")))
        .cast("bigint")
        .alias("curated_alloc"),
    )
    return src.join(seats, "source").select(
        "source",
        "keeper_tokens",
        "curated_tokens",
        F.expr(
            "CAST(CASE WHEN keeper_tokens = 0 THEN 0"
            " ELSE (keeper_tokens - curated_tokens) * 1000"
            " div keeper_tokens END AS BIGINT)"
        ).alias("gate_loss_milli"),
        "dedup_alloc",
        "curated_alloc",
        F.expr(
            "CAST(curated_alloc - dedup_alloc AS BIGINT)"
        ).alias("alloc_shift"),
    )
