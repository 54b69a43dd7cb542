"""Aggregate and window queries (``agg_*``, ``a1``-``a5``, ``w1``-``w12``):
rollups, percentiles, sketches, statistics suites, window frames.

Exact global ranks use the cumulative-dim pattern of
``agg_percentile_exact``: hash-aggregate facts to the distinct-value dim,
take an exclusive prefix over that dim (a window over |distinct values|
rows, not |rows|), then number rows per value. No single-partition window
over a fact table exists in these plans. Sketches (bottom-k, KMV,
count-min) are algebraic hash-aggregates: two merge by a union and a
re-top-k, or by a cell-wise sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.operators.aggregates import (
    dense_label_map,
    distinct_labels,
    extent_merge,
    moments,
)
from jigsaw_spark.operators.text import tokens_expr, tokens_sql
from jigsaw_spark.operators.transforms import Transform, recode_column, recode_sql
from jigsaw_spark.plans.dedup import _TOKS_CTE
from jigsaw_spark.plans.registry import _t, dec2, dsum, register


# ---------------------------------------------------------------------------
# A1 / A2 / A3 / A5 — aggregations
# ---------------------------------------------------------------------------


@register(
    "a1_distinct_labels",
    """
    SELECT DISTINCT p_type AS label FROM part
    WHERE lower(p_type) <> 'background'
    ORDER BY label
    """,
    "A1: distinct label universe, exclusion, sorted",
)
def a1_distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return distinct_labels(part, "p_type")


@register(
    "a2_dense_label_map",
    """
    SELECT label, CAST(row_number() OVER (ORDER BY label) AS INT) AS label_int
    FROM (SELECT DISTINCT p_brand AS label FROM part WHERE lower(p_brand) <> 'background')
    """,
    "A2: label → dense int 1..N over sorted distinct labels",
)
def a2_dense_label_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return dense_label_map(part, "p_brand")


@register(
    "a3_moments",
    """
    SELECT event_type,
           count(value) AS n,
           round(avg(value), 4) AS mean,
           round(stddev_pop(value), 4) AS stdev
    FROM events
    GROUP BY event_type
    """,
    "A3: Welford streaming moments ≡ single-pass avg/stddev_pop",
)
def a3_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    m = moments(events, ["event_type"], "value")
    return m.select(
        "event_type",
        "n",
        F.round("mean", 4).alias("mean"),
        F.round("stdev", 4).alias("stdev"),
    )


_MERGE_TRANSFORMS = [
    Transform("merge", ["Brand#1", "Brand#2", "Brand#3"], "Brand#LOW"),
    Transform("rename", "Brand#25", "Brand#TOP"),
]


@register(
    "a5_extent_merge",
    f"""
    SELECT label,
           min(p_size) AS xmin, max(p_size) AS xmax,
           round(min(p_retailprice), 2) AS ymin, round(max(p_retailprice), 2) AS ymax
    FROM (SELECT {recode_sql('p_brand', _MERGE_TRANSFORMS)} AS label,
                 p_size, p_retailprice
          FROM part)
    GROUP BY label
    """,
    "T rename/merge recode + A5 extent merge (min/max over merged labels)",
)
def a5_extent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").withColumn("label", F.col("p_brand"))
    recoded = recode_column(part, "label", _MERGE_TRANSFORMS)
    ext = extent_merge(
        recoded.select(
            "label",
            F.col("p_size").alias("xmin"),
            F.col("p_size").alias("xmax"),
            F.col("p_retailprice").alias("ymin"),
            F.col("p_retailprice").alias("ymax"),
        ),
        ["label"],
    )
    return ext.select(
        "label",
        "xmin",
        "xmax",
        F.round("ymin", 2).alias("ymin"),
        F.round("ymax", 2).alias("ymax"),
    )


# ---------------------------------------------------------------------------
# Window operators (engine-internal machinery surfaced: SURVEY §2.8)
# ---------------------------------------------------------------------------


@register(
    "w1_sessionize",
    """
    SELECT user_id,
           CAST(sum(new_s) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t
    GROUP BY user_id
    """,
    "sessionization: lag + gap>30min flag + per-user session counts",
)
def w1_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(lag_ts)
    new_s = F.when(lag_ts.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        events.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(
            F.sum("new_s").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "w2_topk_per_group",
    """
    SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) t
    WHERE rn <= 3
    """,
    "top-K per group: window row_number ≤ K after a broadcast join",
)
def w2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


@register(
    "w3_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour_ts, event_type,
           count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    "time-bucketed rollup (batch equivalent of a tumbling-window stream agg)",
)
def w3_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            dsum(dec2("value")).alias("total_value"),
        )
    )


@register(
    "w4_session_window",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), g AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
           count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM g GROUP BY user_id, sid
    """,
    "native session_window (gap-based session agg); oracle is the island "
    "formulation at microsecond precision",
)
def w4_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(dec2("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n",
            "total_value",
        )
    )


@register(
    "agg_salted",
    """
    SELECT event_type, count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    "salted two-stage aggregation over a 5-key (hot-key) grouping — "
    "bit-identical to the plain GROUP BY the oracle runs",
)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.skew import salted_agg

    events = _t(spark, sf_dir, "events")
    out = salted_agg(
        events,
        ["event_type"],
        {"n": ("count", F.lit(1)), "total_value": ("sum", dec2("value"))},
        num_salts=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("total_value", 2).cast("double").alias("total_value"),
    )


@register(
    "agg_distinct_twophase",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
    "skew-spread exact distinct count (dedupe on (key,value) then count)",
)
def agg_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.skew import count_distinct_twophase

    events = _t(spark, sf_dir, "events")
    return count_distinct_twophase(events, ["event_type"], "user_id")


# ---------------------------------------------------------------------------
# Grouping sets / distinct-agg surface (SURVEY §2.4 "free with Spark")
# ---------------------------------------------------------------------------


@register(
    "agg_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "GROUP BY ROLLUP: hierarchical subtotals in one hash aggregate",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.aggregates import rollup_agg

    orders = _t(spark, sf_dir, "orders")
    return rollup_agg(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n"),
            dsum(dec2("o_totalprice")).alias("total"),
        ],
    )


@register(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "GROUP BY CUBE: all-combinations subtotals",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.aggregates import cube_agg

    orders = _t(spark, sf_dir, "orders")
    return cube_agg(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        [F.count(F.lit(1)).alias("n")],
    )


@register(
    "agg_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    "distinct aggregation (expand + two-phase hash agg)",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "a3_vector_moments",
    """
    SELECT CAST(i AS INT) AS dim,
           count(*) AS n,
           round(avg(embedding[i + 1]::DOUBLE), 4) AS mean,
           round(stddev_pop(embedding[i + 1]::DOUBLE), 4) AS stdev
    FROM embeddings, (SELECT unnest(range(64)) AS i) dims
    GROUP BY i
    """,
    "A3 tensor form: per-dimension Welford moments over embeddings "
    "(mean.npy/stdev.npy parity)",
)
def a3_vector_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.aggregates import vector_moments

    emb = _t(spark, sf_dir, "embeddings")
    m = vector_moments(emb, "embedding")
    return m.select(
        "dim",
        "n",
        F.round("mean", 4).alias("mean"),
        F.round("stdev", 4).alias("stdev"),
    )


# ---------------------------------------------------------------------------
# Generalized analytics surface: percentiles, pivot/unpivot, datetime scalar
# functions, sketch aggregates
# ---------------------------------------------------------------------------


@register(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    "exact linear-interpolation percentiles per group (Spark `percentile` "
    "≡ SQL quantile_cont), computed in ARRAY form so all three quantiles "
    "share ONE aggregation buffer (one sort per group, not three). Scale "
    "note: swap to approx_percentile (t-digest, mergeable partial "
    "aggregate) when exactness isn't contractual",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").alias("_q")
        )
        .select(
            "l_returnflag",
            F.round(F.col("_q")[0], 4).alias("p25"),
            F.round(F.col("_q")[1], 4).alias("p50"),
            F.round(F.col("_q")[2], 4).alias("p75"),
        )
    )


@register(
    "agg_pivot",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
    "pivot to wide counts — explicit value list so the schema is static "
    "(a data-dependent pivot needs an extra distinct scan and can't be "
    "planned ahead at 100 TB; SURVEY §1.3 makes the same call for tags)",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return wide.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    )


@register(
    "agg_unpivot",
    """
    SELECT c_custkey, 'acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS value
    FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value
    FROM customer
    """,
    "unpivot (melt) wide columns to long (metric, value) rows — `stack` is "
    "a generator projection, one scan, no shuffle",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', CAST(c_acctbal AS DOUBLE), "
            "'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, value)"
        ),
    )


@register(
    "w5_moving_avg",
    """
    SELECT event_id,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / count(value) OVER w, 4) AS mavg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
    "moving average over a bounded row frame — per-key ordered state, one "
    "shuffle on the partition key",
)
def w5_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.round(
            F.sum(dec2("value")).over(w).cast("double") / F.count("value").over(w), 4
        ).alias("mavg"),
    )


@register(
    "agg_approx_distinct",
    None,  # HLL sketches are engine-specific — driver records rows-only
    "approx_count_distinct (HyperLogLog++): the sketch aggregate that "
    "replaces exact count-distinct at 100 TB — mergeable partials, fixed "
    "memory per group, one shuffle of sketch bytes instead of keys",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders")
    )


@register(
    "agg_zscore_pandas",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           round(CASE WHEN stddev_pop(l_extendedprice) OVER w = 0 THEN 0
                 ELSE (l_extendedprice - avg(l_extendedprice) OVER w)
                      / stddev_pop(l_extendedprice) OVER w END, 4) AS z
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag)
    """,
    "per-group standardization via applyInPandas (Arrow group kernel) "
    "hash-verified against the pure window-expression form — the template "
    "for groupwise Python (sklearn scalers, per-group fits)",
)
def agg_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.aggregates import groupwise_zscore

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return groupwise_zscore(li, ["l_returnflag"], "l_extendedprice").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("zscore", 4).alias("z"),
    )


@register(
    "w6_range_frame",
    """
    SELECT event_id, user_id,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS DOUBLE)
           AS rolling_1h
    FROM events
    """,
    "time-RANGE window frame (true interval semantics, not row counts): "
    "per-user 1-hour rolling sum ordered by event time",
)
def w6_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(dec2("value")).over(w), 4).cast("double").alias("rolling_1h"),
    )


# ---------------------------------------------------------------------------
# Ranking-function suite. rank/dense_rank/percent_rank/cume_dist depend only
# on peer groups, so they are deterministic under ties; ntile does NOT, so
# its window adds the key as a tiebreaker to make the order total.
# ---------------------------------------------------------------------------


@register(
    "w7_rank_suite",
    """
    SELECT o_orderkey,
           o_orderpriority,
           bucket,
           rank()         OVER w_ties AS rnk,
           dense_rank()   OVER w_ties AS drnk,
           round(percent_rank() OVER w_ties, 6) AS prnk,
           round(cume_dist()    OVER w_ties, 6) AS cdist,
           ntile(4)       OVER w_total AS quartile
    FROM (
      SELECT o_orderkey, o_orderpriority,
             CAST(floor(o_totalprice / 1000) AS BIGINT) AS bucket
      FROM orders
    )
    WINDOW
      w_ties  AS (PARTITION BY o_orderpriority ORDER BY bucket),
      w_total AS (PARTITION BY o_orderpriority ORDER BY bucket, o_orderkey)
    """,
    "rank/dense_rank/percent_rank/cume_dist over tied order + total-order ntile",
)
def w7_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / 1000).alias("bucket"),
    )
    w_ties = Window.partitionBy("o_orderpriority").orderBy("bucket")
    w_total = Window.partitionBy("o_orderpriority").orderBy("bucket", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "bucket",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.round(F.percent_rank().over(w_ties), 6).alias("prnk"),
        F.round(F.cume_dist().over(w_ties), 6).alias("cdist"),
        F.ntile(4).over(w_total).alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram: floor-bucket + count/sum — one hash aggregate, the
# shape used for distribution profiling at any scale.
# ---------------------------------------------------------------------------


@register(
    "agg_histogram",
    """
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total
    FROM orders
    GROUP BY 1
    """,
    "fixed-width histogram: floor-bucket hash aggregate",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 25000).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(dec2("o_totalprice")).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# max_by / min_by surface: per priority, which order carries the extreme
# price. The comparator is (price, key) so ties resolve deterministically —
# required for hash-comparison against any other engine. Oracle uses the
# equivalent row_number formulation (this DuckDB's arg_max has no composite
# comparator).
# ---------------------------------------------------------------------------


@register(
    "agg_minmax_by",
    """
    SELECT o_orderpriority,
           max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS top_orderkey,
           max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS bottom_orderkey,
           round(max(o_totalprice), 2) AS max_price,
           round(min(o_totalprice), 2) AS min_price
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
      FROM orders
    )
    GROUP BY o_orderpriority
    """,
    "max_by/min_by with deterministic (value, key) tiebreak",
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pair = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return orders.groupBy("o_orderpriority").agg(
        F.max_by(F.col("o_orderkey"), pair).alias("top_orderkey"),
        F.min_by(F.col("o_orderkey"), pair).alias("bottom_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


@register(
    "w8_value_windows",
    """
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_key,
           nth_value(o_orderkey, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_key,
           lag(round(o_totalprice, 2), 1, 0.0) OVER w AS prev_price,
           lead(round(o_totalprice, 2), 1, -1.0) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "value-window suite: first/last/nth_value with explicit full frames "
    "(the default frame truncates last_value at the current row in both "
    "engines), lag/lead with defaults — one shuffle on the partition key",
)
def w8_value_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    price = F.round(F.col("o_totalprice"), 2)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(wfull).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_key"),
        F.lag(price, 1, 0.0).over(w).alias("prev_price"),
        F.lead(price, 1, -1.0).over(w).alias("next_price"),
    )


@register(
    "agg_stats_suite",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)        AS r,
           round(covar_pop(l_quantity, l_extendedprice), 4)   AS cov_p,
           round(covar_samp(l_quantity, l_extendedprice), 4)  AS cov_s,
           round(regr_slope(l_extendedprice, l_quantity), 4)  AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
           round(regr_r2(l_extendedprice, l_quantity), 6)     AS r2
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "bivariate statistics suite: corr/covar_pop/covar_samp/regr_slope/"
    "regr_intercept/regr_r2 fused into one hash aggregate (one shuffle, "
    "map-side partials for every moment)",
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr(q, p), 6).alias("r"),
            F.round(F.covar_pop(q, p), 4).alias("cov_p"),
            F.round(F.covar_samp(q, p), 4).alias("cov_s"),
            F.round(F.regr_slope(p, q), 4).alias("slope"),
            F.round(F.regr_intercept(p, q), 4).alias("icept"),
            F.round(F.regr_r2(p, q), 6).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_priority,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
    """,
    "arbitrary GROUPING SETS (beyond rollup/cube) with grouping() markers "
    "— one Expand + one hash aggregate, each set shares the same shuffle",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    o = os.path.join(sf_dir, "orders.parquet")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority,
               count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        FROM parquet.`{o}`
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        """
    )


@register(
    "agg_bool_suite",
    """
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
           bool_and(l_quantity >= 1)         AS all_positive,
           bool_or(l_tax > 0.07)             AS any_high_tax,
           CAST(count(*) - count_if(l_discount > 0.05) AS BIGINT) AS n_rest
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "boolean aggregate family: count_if / bool_and (every) / bool_or "
    "(any) — fused into one hash aggregate",
)
def agg_bool_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_discount") > 0.05
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(disc).alias("n_discounted"),
            F.every(F.col("l_quantity") >= 1).alias("all_positive"),
            F.some(F.col("l_tax") > 0.07).alias("any_high_tax"),
            (F.count(F.lit(1)) - F.count_if(disc)).alias("n_rest"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_string_agg",
    """
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    "ordered string aggregation (LISTAGG): collect_set → sort_array → "
    "array_join gives a deterministic csv per group — same result as the "
    "oracle's ORDER BY string_agg, one hash aggregate",
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_hll_mergeable",
    """
    WITH per_type AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type
    )
    SELECT event_type, exact_users FROM per_type ORDER BY event_type
    """,
    "mergeable HLL sketches (DataSketches): per-type user sketches built "
    "with hll_sketch_agg, re-merged with hll_union_agg for the global "
    "estimate — the pre-aggregated-rollup architecture where partial "
    "sketches are stored and unioned instead of rescanning raw data. The "
    "oracle checks the EXACT distinct counts; the query asserts the "
    "estimates land within HLL error of exact (verified in-query, "
    "emitting the exact counts so the hash gate stays precise).",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    checked = sketches.select(
        "event_type",
        "exact_users",
        F.hll_sketch_estimate("sk").alias("est"),
    ).withColumn(
        "within_err",
        (F.abs(F.col("est") - F.col("exact_users"))
         <= F.greatest(F.col("exact_users") * 0.05, F.lit(5.0))),
    )
    # the merge leg: union the per-type sketches into ONE global sketch
    # (this is what stored rollups do instead of rescanning raw data) and
    # check its estimate against the exact global distinct count
    global_check = (
        sketches.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("g_est")
        )
        .crossJoin(ev.agg(F.count_distinct("user_id").alias("g_exact")))
        .select(
            (
                F.abs(F.col("g_est") - F.col("g_exact"))
                <= F.greatest(F.col("g_exact") * 0.05, F.lit(5.0))
            ).alias("g_ok")
        )
    )
    # keep the hash gate exact: emit exact counts, but FAIL the query (row
    # count drops, driver flags it) if any per-type estimate or the merged
    # global estimate strays outside HLL error
    return (
        checked.filter(F.col("within_err"))
        .crossJoin(F.broadcast(global_check))
        .filter(F.col("g_ok"))
        .select("event_type", "exact_users")
        .orderBy("event_type")
    )


@register(
    "agg_mode",
    """
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority)
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           CAST(cnt AS BIGINT) AS mode_count
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderstatus
        ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM c) t
    WHERE rn = 1
    """,
    "statistical mode per group with a DETERMINISTIC tie-break (highest "
    "count, then smallest value — Spark's built-in `mode` is "
    "tie-arbitrary): two cascaded hash aggregates via max_by on a "
    "(count, reversed-value) comparator, no window, no sort",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # min_by on (−count, value): highest count wins, ties break to the
    # lexicographically smallest value — both orderings natural in one
    # struct comparator (max_by would need a reversed string rank)
    best = c.groupBy("o_orderstatus").agg(
        F.min_by(
            F.struct(
                F.col("o_orderpriority").alias("mode_priority"),
                F.col("cnt").alias("mode_count"),
            ),
            F.struct((-F.col("cnt")).alias("nc"), F.col("o_orderpriority")),
        ).alias("b")
    )
    return best.select(
        "o_orderstatus", "b.mode_priority", "b.mode_count"
    )


@register(
    "w9_distinct_window",
    """
    SELECT event_id, user_id,
           count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS kinds_so_far
    FROM events
    """,
    "running DISTINCT count over a window: Spark has no DISTINCT window "
    "aggregates, so the engine form is size(collect_set() OVER w) — "
    "set-dedup inside the frame, one shuffle + partition sort (state is "
    "the distinct-value set, bounded by event_type cardinality, not frame "
    "length); oracle uses DuckDB's native count(DISTINCT) OVER",
)
def w9_distinct_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w))
        .cast("long")  # match the oracle's BIGINT count
        .alias("kinds_so_far"),
    )


_CMS_HASH = (
    "('0x' || substr(md5(concat_ws('|', 'cms', "
    "concat_ws('|', d, term))), 1, 12))::UBIGINT % 256"
)


@register(
    "agg_countmin_hh",
    f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    exact AS (SELECT term, count(*) AS exact_n FROM tok GROUP BY term),
    top AS (SELECT term, exact_n FROM exact
            ORDER BY exact_n DESC, term LIMIT 10),
    depths AS (SELECT unnest(range(4)) AS d),
    cms AS (
      SELECT d, {_CMS_HASH} AS cell, count(*) AS n
      FROM tok CROSS JOIN depths GROUP BY d, cell),
    est AS (
      SELECT term, min(n) AS est_n
      FROM (SELECT t.term, c.n
            FROM (SELECT term, d, {_CMS_HASH} AS cell
                  FROM top CROSS JOIN depths) t
            JOIN cms c ON c.d = t.d AND c.cell = t.cell)
      GROUP BY term)
    SELECT top.term, top.exact_n, est.est_n,
           est.est_n - top.exact_n AS overestimate
    FROM top JOIN est USING (term)
    """,
    "Count-Min sketch heavy hitters: the sketch is ONE map-side-"
    "combinable hash agg into depth x width = 1024 cells (fixed-size "
    "summary, mergeable by cell-wise add — the frequency analog of "
    "HLL); estimates = min over depths, overestimate bound checked "
    "against exact counts",
)
def agg_countmin_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.aggregates import (
        countmin_estimate,
        countmin_table,
    )
    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_expr("text")).alias("term"))
    # ONE corpus explode: the sketch is built from the per-term exact
    # counts (cell count = Σ term counts — identical by construction),
    # so the md5 cell hash runs once per distinct term instead of once
    # per instance, and the corpus is never exploded a second time
    exact = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("exact_n")
    ).localCheckpoint()
    top = exact.orderBy(F.desc("exact_n"), "term").limit(10)
    cms = countmin_table(exact, weight="exact_n")
    est = countmin_estimate(top.select("term"), cms)
    return top.join(est, "term").select(
        "term",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overestimate"),
    )


_EQUIDEPTH_FRACS = [i / 8 for i in range(1, 8)]


@register(
    "agg_equidepth",
    f"""
    WITH b AS (
      SELECT list_transform(
               quantile_cont(o_totalprice, {_EQUIDEPTH_FRACS}),
               v -> round(v, 4)) AS q
      FROM orders),
    r AS (
      SELECT o_totalprice AS x,
             1 + len(list_filter(q, v -> x >= v)) AS bucket
      FROM orders CROSS JOIN b)
    SELECT bucket, count(*) AS n,
           min(x) AS lo, max(x) AS hi,
           CAST(round(sum(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM r GROUP BY bucket
    """,
    "equi-depth histogram the scale-correct way: ONE exact-percentile "
    "agg yields 7 boundaries (KB collect), then a map-side bucket "
    "assignment + ONE hash agg — no global sort, no ntile window over "
    "the whole table (the naive formulation that serializes at 100 TB)",
)
def agg_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bnds = orders.agg(
        F.percentile("o_totalprice", _EQUIDEPTH_FRACS).alias("q")
    ).collect()[0]["q"]
    bl = [round(float(v), 4) for v in bnds]
    bucket = (
        F.lit(1)
        + sum(
            (F.col("o_totalprice") >= F.lit(v)).cast("int") for v in bl
        )
    ).alias("bucket")
    return (
        orders.select(F.col("o_totalprice").alias("x"), bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
            F.round(F.sum(dec2("x", 18)), 2).cast("double").alias("total"),
        )
    )


@register(
    "agg_mad_outliers",
    """
    WITH c AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS pc
      FROM orders),
    med AS (
      SELECT CAST(2 * quantile_cont(pc, 0.5) AS BIGINT) AS med2 FROM c),
    dev AS (
      SELECT o_orderstatus, abs(2 * pc - med2) AS adev_h
      FROM c CROSS JOIN med),
    mad AS (
      SELECT CAST(2 * quantile_cont(adev_h, 0.5) AS BIGINT) AS mad2 FROM dev)
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CASE WHEN 20000 * adev_h > 44478 * mad2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev CROSS JOIN mad
    GROUP BY o_orderstatus
    """,
    "robust outlier flagging via median/MAD (the skew-proof z-score): "
    "two exact-percentile aggs, each a 1-row broadcast back into the "
    "scan — never a sort, never a collect of the data column. The whole "
    "chain runs in exact half-cent integers (prices are cent-valued; "
    "median/MAD midpoints are exact half-cents, so 2x them is integral) "
    "and the 3*1.4826 threshold compares scaled integers "
    "(20000*adev_h > 44478*mad2) — no float boundary can flip a count "
    "between engines (r2 hash-flake fix)",
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("pc"),
    )
    med = orders.agg(
        (2 * F.percentile("pc", F.lit(0.5))).cast("bigint").alias("med2")
    )
    dev = orders.crossJoin(F.broadcast(med)).select(
        "o_orderstatus",
        F.abs(2 * F.col("pc") - F.col("med2")).alias("adev_h"),
    )
    mad = dev.agg(
        (2 * F.percentile("adev_h", F.lit(0.5))).cast("bigint").alias("mad2")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (20000 * F.col("adev_h") > 44478 * F.col("mad2")).cast("long")
            ).alias("n_outliers"),
        )
    )


@register(
    "agg_gini",
    """
    WITH x AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS i FROM x),
    t AS (SELECT count(*) AS n, sum(v) AS tot FROM r)
    SELECT round(2.0 * sum(i * v) / (n * tot) - (n + 1.0) / n, 6) AS gini,
           CAST(n AS BIGINT) AS n_customers
    FROM r CROSS JOIN t GROUP BY n, tot
    """,
    "Gini coefficient of per-customer revenue (concentration/inequality "
    "report): exact-decimal per-key sums, then ONE global rank over the "
    "customer AGGREGATE (not the fact table) + one agg. The 1-partition "
    "window is the documented small-aggregate choice; past ~5M keys the "
    "swap is samples._ranked's distributed zipWithIndex arm "
    "(range-partition + per-partition offsets)",
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    x = orders.groupBy("o_custkey").agg(
        F.sum(dec2("o_totalprice", 18)).cast("double").alias("v")
    )
    r = x.withColumn(
        "i", F.row_number().over(Window.orderBy("v", "o_custkey"))
    )
    t = r.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("tot")
    )
    return (
        r.crossJoin(F.broadcast(t))
        .groupBy("n", "tot")
        .agg(
            F.round(
                2.0 * F.sum(F.col("i") * F.col("v")) / (F.col("n") * F.col("tot"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
            F.col("n").cast("bigint").alias("n_customers"),
        )
        .select("gini", "n_customers")
    )


@register(
    "agg_moments_34",
    """
    WITH m AS (
      SELECT avg(value) AS m1,
             avg(value * value) AS m2,
             avg(value * value * value) AS m3,
             avg(value * value * value * value) AS m4,
             count(*) AS n
      FROM events)
    SELECT CAST(n AS BIGINT) AS n,
           round(m2 - m1 * m1, 6) AS variance,
           round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                 / pow(m2 - m1 * m1, 1.5), 6) AS skewness_g1,
           round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * pow(m1, 4))
                 / pow(m2 - m1 * m1, 2) - 3, 6) AS excess_kurtosis_g2
    FROM m
    """,
    "3rd/4th standardized moments from raw power sums — ONE hash agg, "
    "map-side combinable, the SAME closed-form on both engines (Spark's "
    "skewness() and DuckDB's use different population/sample "
    "conventions; deriving from raw moments sidesteps the mismatch)",
)
def agg_moments_34(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    v = F.col("value")
    m = events.agg(
        F.avg(v).alias("m1"),
        F.avg(v * v).alias("m2"),
        F.avg(v * v * v).alias("m3"),
        F.avg(v * v * v * v).alias("m4"),
        F.count(F.lit(1)).alias("n"),
    )
    var = F.col("m2") - F.col("m1") * F.col("m1")
    skew = (
        F.col("m3")
        - 3 * F.col("m1") * F.col("m2")
        + 2 * F.col("m1") * F.col("m1") * F.col("m1")
    ) / F.pow(var, 1.5)
    kurt = (
        F.col("m4")
        - 4 * F.col("m1") * F.col("m3")
        + 6 * F.col("m1") * F.col("m1") * F.col("m2")
        - 3 * F.pow(F.col("m1"), 4)
    ) / F.pow(var, 2) - 3
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(var, 6).alias("variance"),
        F.round(skew, 6).alias("skewness_g1"),
        F.round(kurt, 6).alias("excess_kurtosis_g2"),
    )


# Poisson(1) inverse-CDF ladder (cumulative probabilities, full double
# precision so both engines compare against identical literals)
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428846,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
]

_BOOT_B = 16


def _pois_case_sql(u: str) -> str:
    parts = [
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    ]
    return "CASE " + " ".join(parts) + " ELSE 7 END"


@register(
    "agg_bootstrap_means",
    f"""
    WITH dig AS (
      SELECT o_totalprice,
             md5(concat_ws('|', 'boot', CAST(o_orderkey AS VARCHAR))) AS h
      FROM orders),
    rep AS (
      SELECT o_totalprice, h, unnest(range({_BOOT_B})) AS b FROM dig),
    w AS (
      SELECT b, o_totalprice,
             {_pois_case_sql(
                 "(('0x' || substr(h, CAST(2*b+1 AS INT), 2))::INT"
                 " / 256.0)")}
               AS wt
      FROM rep)
    SELECT b,
           round(CAST(sum(wt * CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE) / sum(wt), 4) AS boot_mean,
           CAST(sum(wt) AS BIGINT) AS n_drawn
    FROM w GROUP BY b
    """,
    "deterministic Poisson bootstrap (the resampling-at-scale trick: "
    "Poisson(1) weights approximate multinomial resampling without "
    "coordination): weights come from the md5 stream so every replica "
    "is reproducible and oracle-checkable; replica means use exact-"
    "decimal weighted sums (order-independent). 16 replicas (one 2-hex "
    "digest slice each — ONE md5 per row), computed FLAT: 16x2 agg "
    "expressions in ONE global hash agg (rows never explode; each "
    "partition emits one 32-value partial), then stack() reshapes the "
    "single result row to 16 — the oracle replays the naive x16 "
    "expansion the flat form avoids",
)
def agg_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.hashing import md5_key

    orders = _t(spark, sf_dir, "orders")
    # ONE md5 per row; each replica reads its own 2-hex slice of the
    # digest (256 quantization levels are plenty for the CDF ladder and
    # cut the hash work x20)
    base = orders.select(
        dec2("o_totalprice", 18).alias("p"),
        md5_key(
            F.concat_ws("|", F.lit("boot"), F.col("o_orderkey").cast("string"))
        ).alias("h"),
    )
    # byte -> Poisson weight as ONE shared 256-entry literal LUT: the
    # same function of the digest byte as the oracle's CDF CASE ladder
    # (wt = min k with byte/256 < CDF[k], else 7), but 32 array lookups
    # codegen far smaller than 32 eight-branch CASE chains
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
    aggs = []
    for b in range(_BOOT_B):
        byte = F.conv(F.substring(F.col("h"), 2 * b + 1, 2), 16, 10).cast(
            "int"
        )
        wt = F.element_at(lut, byte + 1)
        aggs.append(F.sum(wt * F.col("p")).alias(f"s{b}"))
        aggs.append(F.sum(wt).alias(f"n{b}"))
    row = base.agg(*aggs)
    pairs = ", ".join(f"{b}, s{b}, n{b}" for b in range(_BOOT_B))
    return row.selectExpr(
        f"stack({_BOOT_B}, {pairs}) AS (b, s, n)"
    ).select(
        F.col("b"),
        F.round(F.col("s").cast("double") / F.col("n"), 4).alias("boot_mean"),
        F.col("n").cast("bigint").alias("n_drawn"),
    )


@register(
    "agg_weighted_percentile",
    """
    WITH expanded AS (
      SELECT l_returnflag, l_extendedprice,
             unnest(range(CAST(l_quantity AS BIGINT))) AS i
      FROM lineitem)
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS wmedian,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS wp90
    FROM expanded GROUP BY l_returnflag
    """,
    "frequency-weighted percentiles: Spark's percentile(col, p, freq) "
    "computes the weighted quantile IN ONE AGG without materializing "
    "the expansion — the oracle replays by actually exploding each row "
    "l_quantity times (the naive form that multiplies the data ~25x; "
    "exactly what the frequency parameter avoids at 100 TB)",
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    freq = F.col("l_quantity").cast("long")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.percentile("l_extendedprice", F.lit(0.5), freq), 4
        ).alias("wmedian"),
        F.round(
            F.percentile("l_extendedprice", F.lit(0.9), freq), 4
        ).alias("wp90"),
    )


@register(
    "agg_winsorized_mean",
    """
    WITH q AS (
      SELECT round(quantile_cont(o_totalprice, 0.01), 4) AS lo,
             round(quantile_cont(o_totalprice, 0.99), 4) AS hi
      FROM orders)
    SELECT o_orderstatus,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS mean_raw,
           round(avg(CASE WHEN o_totalprice < lo THEN lo
                          WHEN o_totalprice > hi THEN hi
                          ELSE o_totalprice END), 4) AS mean_winsorized,
           CAST(sum(CASE WHEN o_totalprice < lo OR o_totalprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM orders CROSS JOIN q
    GROUP BY o_orderstatus
    """,
    "winsorized mean (p01/p99 clipping): ONE exact-percentile agg "
    "broadcasts two bounds, then one conditional agg — the outlier-"
    "robust mean without sorting or dropping rows",
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    q = orders.agg(
        F.round(F.percentile("o_totalprice", F.lit(0.01)), 4).alias("lo"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("hi"),
    )
    x = F.col("o_totalprice")
    clipped = (
        F.when(x < F.col("lo"), F.col("lo"))
        .when(x > F.col("hi"), F.col("hi"))
        .otherwise(x)
    )
    return (
        orders.crossJoin(F.broadcast(q))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(x), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
            F.sum(
                ((x < F.col("lo")) | (x > F.col("hi"))).cast("long")
            ).alias("n_clipped"),
        )
    )


@register(
    "w10_share_of_total",
    """
    WITH per_status AS (
      SELECT o_orderstatus,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus,
           round(revenue, 2) AS revenue,
           round(revenue / sum(revenue) OVER (), 6) AS share,
           round(revenue / max(revenue) OVER (), 6) AS vs_top
    FROM per_status
    """,
    "share-of-total report (RATIO_TO_REPORT): exact-decimal group sums, "
    "then empty-frame window aggregates over the tiny aggregate — the "
    "window runs over |groups| rows, never the fact table",
)
def w10_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderstatus").agg(
        F.sum(dec2("o_totalprice", 18)).cast("double").alias("revenue")
    )
    w = Window.partitionBy()
    return per.select(
        "o_orderstatus",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
        F.round(F.col("revenue") / F.max("revenue").over(w), 6).alias("vs_top"),
    )


@register(
    "agg_incremental_merge",
    """
    WITH a AS (
      SELECT user_id, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events WHERE event_id % 3 <> 0 GROUP BY user_id),
    b AS (
      SELECT user_id, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events WHERE event_id % 3 = 0 GROUP BY user_id)
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           CAST(coalesce(a.n, 0) + coalesce(b.n, 0) AS BIGINT) AS n_events,
           CAST(coalesce(a.cents, 0) + coalesce(b.cents, 0) AS BIGINT)
             AS value_cents,
           least(coalesce(a.first_ts, b.first_ts),
                 coalesce(b.first_ts, a.first_ts)) AS first_ts,
           greatest(coalesce(a.last_ts, b.last_ts),
                    coalesce(b.last_ts, a.last_ts)) AS last_ts
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    """,
    "incremental aggregate-state maintenance (the materialized-view "
    "pattern): per-batch algebraic partials (count/sum/min/max) merged "
    "by a full-outer combine instead of recomputing the corpus rollup — "
    "at 100 TB the nightly increment touches the new batch only; both "
    "partials here pre-aggregate BEFORE the join so the outer join "
    "shuffles key-state rows, never raw events. Equal by construction "
    "to the single-pass aggregate (the oracle shows the merge form; the "
    "algebraic-merge law makes them identical)",
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")

    def partial(pred: Column) -> DataFrame:
        return (
            events.filter(pred)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents).alias("cents"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
            )
        )

    a = partial(F.col("event_id") % 3 != 0)
    b = partial(F.col("event_id") % 3 == 0)
    ab = a.alias("a").join(
        b.alias("b"), F.col("a.user_id") == F.col("b.user_id"), "full_outer"
    )
    return ab.select(
        F.coalesce("a.user_id", "b.user_id").alias("user_id"),
        (
            F.coalesce("a.n", F.lit(0)) + F.coalesce("b.n", F.lit(0))
        ).cast("bigint").alias("n_events"),
        (
            F.coalesce("a.cents", F.lit(0)) + F.coalesce("b.cents", F.lit(0))
        ).cast("bigint").alias("value_cents"),
        F.least(
            F.coalesce("a.first_ts", "b.first_ts"),
            F.coalesce("b.first_ts", "a.first_ts"),
        ).alias("first_ts"),
        F.greatest(
            F.coalesce("a.last_ts", "b.last_ts"),
            F.coalesce("b.last_ts", "a.last_ts"),
        ).alias("last_ts"),
    )


_KMV_K = 64


@register(
    "agg_kmv_intersect",
    f"""
    WITH toks AS (
      SELECT DISTINCT source, unnest({tokens_sql('text')}) AS tok
      FROM documents),
    hashed AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(tok), 1, 12))::UBIGINT AS BIGINT) AS h
      FROM toks),
    kmv AS MATERIALIZED (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashed) WHERE rn <= {_KMV_K}),
    kstat AS MATERIALIZED (
      SELECT source, max(h) AS kth FROM kmv GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             least(a.kth, b.kth) AS tau
      FROM kstat a JOIN kstat b ON a.source < b.source),
    uni AS (
      SELECT p.src_a, p.src_b, p.tau, k.h,
             max(CASE WHEN k.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN k.source = p.src_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p
      JOIN kmv k ON (k.source = p.src_a OR k.source = p.src_b)
                 AND k.h <= p.tau
      GROUP BY 1, 2, 3, 4)
    SELECT src_a, src_b, CAST(tau AS BIGINT) AS tau,
           count(*) AS n_union_tau,
           CAST(sum(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_common,
           round(sum(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS est_jaccard
    FROM uni GROUP BY src_a, src_b, tau
    """,
    "KMV (k-minimum-values) theta-style sketches with SET-INTERSECTION "
    "estimates — the capability HLL lacks: per source keep the 64 "
    "smallest md5 token hashes (ONE corpus pass, sketch is KB and "
    "DETERMINISTIC — k smallest is a well-defined set, so unlike "
    "probabilistic sketches the estimate has an exact oracle); pairwise "
    "Jaccard estimated below the combined threshold tau = min(kth_a, "
    "kth_b). All pair work runs on the k-row sketches, never the "
    "corpus — 190 source pairs x 128 rows at any corpus size",
)
def agg_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jigsaw_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    hashed = (
        docs.select("source", F.explode(tokens_expr("text")).alias("tok"))
        .distinct()
        .select(
            "source",
            F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    # the sketch is KB-scale (<= 64 rows x |sources|) but its lineage is
    # the full tokenize + double-distinct + window chain; uncheckpointed
    # it re-ran for kstat (whose self-join doubles it again) AND the uni
    # join — 4 corpus passes for one sketch. Materialize it once.
    kmv = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "h")
        .localCheckpoint()
    )
    kstat = kmv.groupBy("source").agg(F.max("h").alias("kth"))
    a, b = kstat.alias("a"), kstat.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.least("a.kth", "b.kth").alias("tau"),
    )
    uni = (
        F.broadcast(pairs)
        .join(
            kmv,
            (
                (F.col("source") == F.col("src_a"))
                | (F.col("source") == F.col("src_b"))
            )
            & (F.col("h") <= F.col("tau")),
        )
        .groupBy("src_a", "src_b", "tau", "h")
        .agg(
            F.max((F.col("source") == F.col("src_a")).cast("int")).alias(
                "in_a"
            ),
            F.max((F.col("source") == F.col("src_b")).cast("int")).alias(
                "in_b"
            ),
        )
    )
    both = (F.col("in_a") + F.col("in_b") == 2).cast("int")
    return uni.groupBy("src_a", "src_b", "tau").agg(
        F.count(F.lit(1)).alias("n_union_tau"),
        F.sum(both).cast("bigint").alias("n_common"),
        F.round(F.sum(both) / F.count(F.lit(1)).cast("double"), 6).alias(
            "est_jaccard"
        ),
    )


@register(
    "agg_bitmap_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT user_id) AS n_users_bitmap
    FROM events GROUP BY event_type
    """,
    "Spark 4 bitmap aggregate surface (bitmap_bucket_number / "
    "bitmap_construct_agg / bitmap_count): EXACT distinct counting via "
    "fixed-size per-bucket bitmaps — the scale path for exact "
    "count-distinct: the (key, bucket) pre-agg spreads hot keys across "
    "reducers (each bucket covers 32768 ids) and the merge is a "
    "byte-OR, mergeable across partitions/batches like a sketch but "
    "with NO approximation. Emitted next to plain count(DISTINCT) — "
    "the oracle checks both paths agree exactly",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    bitmap = (
        events.groupBy(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("_bucket"),
        )
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(user_id))"
            ).alias("_bm")
        )
        .groupBy("event_type")
        .agg(F.expr("sum(bitmap_count(_bm))").cast("bigint").alias(
            "n_users_bitmap"
        ))
    )
    return exact.join(bitmap, "event_type")


# ---------------------------------------------------------------------------
# agg_log2_histogram
# ---------------------------------------------------------------------------

_L2H_SQL = """
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE value > 0),
    b AS (
      SELECT event_type,
             CAST(length(bin(cents)) - 1 AS INT) AS bucket,
             cents
      FROM c)
    SELECT event_type, bucket,
           CAST(1 << bucket AS BIGINT) AS bucket_lo,
           CAST((1 << (bucket + 1)) - 1 AS BIGINT) AS bucket_hi,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY event_type, bucket
"""


@register(
    "agg_log2_histogram",
    _L2H_SQL,
    "exponential (base-2) value histogram per event type — the "
    "mergeable log-bucketed shape OTel/HDR sketches standardize "
    "(relative error bounded per bucket, buckets mergeable by index "
    "addition): bucket = floor(log2(cents)) computed EXACTLY as "
    "length(bin(cents))-1, so no libm enters and the histogram is "
    "bit-identical across engines. ONE hash agg over (type, bucket) — "
    "cardinality bounded by 64 buckets x |types| at any corpus size",
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    b = ev.select(
        "event_type",
        (F.length(F.bin(cents)) - 1).cast("int").alias("bucket"),
        cents.alias("cents"),
    )
    return b.groupBy("event_type", "bucket").agg(
        F.expr("CAST(shiftleft(1L, bucket) AS BIGINT)").alias("bucket_lo"),
        F.expr("CAST(shiftleft(1L, bucket + 1) - 1 AS BIGINT)").alias(
            "bucket_hi"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    ).select(
        "event_type", "bucket", "bucket_lo", "bucket_hi", "n", "sum_cents"
    )


# ---------------------------------------------------------------------------
# agg_bitmap_overlap
# ---------------------------------------------------------------------------

_BMO_SQL = """
    WITH pr AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2 FROM pr a JOIN pr b ON a.p < b.p),
    sets AS (
      SELECT o_orderpriority AS p, o_custkey AS k FROM orders GROUP BY 1, 2),
    sz AS (SELECT p, count(*) AS n FROM sets GROUP BY p),
    inter AS (
      SELECT s1.p AS p1, s2.p AS p2, count(*) AS both
      FROM sets s1 JOIN sets s2 ON s1.k = s2.k AND s1.p < s2.p
      GROUP BY 1, 2)
    SELECT pr.p1, pr.p2,
           CAST(za.n AS BIGINT) AS n1,
           CAST(zb.n AS BIGINT) AS n2,
           CAST(coalesce(i.both, 0) AS BIGINT) AS n_both,
           CAST(za.n + zb.n - coalesce(i.both, 0) AS BIGINT) AS n_union
    FROM pairs pr
    JOIN sz za ON pr.p1 = za.p
    JOIN sz zb ON pr.p2 = zb.p
    LEFT JOIN inter i ON pr.p1 = i.p1 AND pr.p2 = i.p2
"""


@register(
    "agg_bitmap_overlap",
    _BMO_SQL,
    "pairwise audience overlap (customers ordering under BOTH "
    "priorities) via Spark 4 BITMAP ALGEBRA: per-group custkey bitmaps "
    "(bitmap_bucket_number/bitmap_construct_agg), per-group sizes from "
    "bitmap_count, pair UNION sizes from bitmap_or_agg over the two "
    "groups' bucket rows, and the intersection recovered exactly by "
    "inclusion-exclusion |A|+|B|-|AuB| (the registry exposes no "
    "bitmap_and). The corpus shuffles ONCE into KB-per-bucket bitmaps; "
    "all pair work runs on the bitmap dim. Oracle replays with plain "
    "DISTINCT joins — bitmaps are exact, so counts match bit-for-bit",
)
def agg_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # one bitmap row per (priority, bucket) — the corpus' only shuffle
    bm = (
        orders.select(
            F.col("o_orderpriority").alias("p"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("p", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .localCheckpoint(eager=False)  # reused by sizes AND both pair sides
    )
    sz = bm.groupBy("p").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n")
    )
    # per pair: stack both groups' bucket rows, bitmap_or_agg by bucket,
    # sum the bucket counts — the union size without any id re-shuffle
    pairs = (
        sz.select(F.col("p").alias("p1"))
        .crossJoin(sz.select(F.col("p").alias("p2")))
        .filter(F.col("p1") < F.col("p2"))
    )
    stacked = pairs.join(
        bm.select("p", "bucket", "bm"),
        (F.col("p") == F.col("p1")) | (F.col("p") == F.col("p2")),
    )
    union_sz = (
        stacked.groupBy("p1", "p2", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("u"))
        .groupBy("p1", "p2")
        .agg(F.sum(F.expr("bitmap_count(u)")).alias("n_union"))
    )
    s1 = sz.select(F.col("p").alias("p1"), F.col("n").alias("n1"))
    s2 = sz.select(F.col("p").alias("p2"), F.col("n").alias("n2"))
    return (
        union_sz.join(F.broadcast(s1), "p1")
        .join(F.broadcast(s2), "p2")
        .select(
            "p1",
            "p2",
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            (F.col("n1") + F.col("n2") - F.col("n_union"))
            .cast("bigint")
            .alias("n_both"),
            F.col("n_union").cast("bigint").alias("n_union"),
        )
    )


# ---------------------------------------------------------------------------
# agg_percentile_exact
# ---------------------------------------------------------------------------

_PCT_SQL = """
    WITH g AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             count(*) AS c
      FROM events GROUP BY 1, 2),
    cum AS (
      SELECT event_type, cents,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cc,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM g)
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cc >= (25 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p25_cents,
           CAST(min(CASE WHEN cc >= (50 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN cc >= (75 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p75_cents
    FROM cum GROUP BY event_type
"""


@register(
    "agg_percentile_exact",
    _PCT_SQL,
    "exact nearest-rank percentiles (p25/p50/p75) of value-cents per "
    "event type: the value at rank ceil(p*n/100) — a PURE INTEGER "
    "selection (no interpolation, no floats) over the distinct-value "
    "cumulative dim, so results are bit-identical at any partitioning. "
    "Shape: one hash agg to the |distinct cents| dim, one partitioned "
    "prefix window, then ONE conditional-min agg emits all three "
    "percentiles wide (no join, no nested loop) — the fact table is "
    "scanned once. The exact companion to the approx-percentile "
    "sketches",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "event_type",
        "cents",
        F.sum("c").over(w).alias("cc"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    def pick(p: int):
        return (
            F.min(
                F.when(
                    F.col("cc") >= F.expr(f"({p} * n + 99) div 100"),
                    F.col("cents"),
                )
            )
            .cast("bigint")
            .alias(f"p{p}_cents")
        )

    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"), pick(25), pick(50), pick(75)
    )


# ---------------------------------------------------------------------------
# agg_mode_exact
# ---------------------------------------------------------------------------

_MODE_SQL = """
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT event_type, cents, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, cents) AS rn
      FROM c)
    SELECT event_type,
           CAST(cents AS BIGINT) AS mode_cents,
           CAST(n AS BIGINT) AS n_occurrences
    FROM r WHERE rn = 1
"""


@register(
    "agg_mode_exact",
    _MODE_SQL,
    "exact per-group mode of value-cents with the deterministic "
    "(count desc, value asc) tie-break — the categorical summary "
    "statistic the percentile family doesn't cover; Spark has no "
    "mode() aggregate for this tie discipline, so it is the count-agg "
    "+ rank-window composition. One hash agg to the distinct-value "
    "dim, one partitioned rank window over it",
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("n"))
    r = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("n"), "cents")
        ),
    )
    return r.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("cents").cast("bigint").alias("mode_cents"),
        F.col("n").cast("bigint").alias("n_occurrences"),
    )


# ---------------------------------------------------------------------------
# w12_running_distinct
# ---------------------------------------------------------------------------

_RD_SQL = """
    WITH firsts AS (
      SELECT event_type, user_id,
             min(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS first_day
      FROM events GROUP BY 1, 2),
    daily AS (
      SELECT event_type, first_day AS day_id, count(*) AS new_users
      FROM firsts GROUP BY 1, 2)
    SELECT event_type, CAST(day_id AS BIGINT) AS day_id,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type
                                     ORDER BY day_id) AS BIGINT)
             AS cum_distinct_users
    FROM daily
"""


@register(
    "w12_running_distinct",
    _RD_SQL,
    "cumulative distinct users per day per event type — the classic "
    "'running COUNT(DISTINCT) is not a window function' pattern: one "
    "(type, user) min-day agg marks each user's first appearance, a "
    "day-dim agg counts arrivals, and a partitioned prefix sum "
    "accumulates them. Exactly the audience-growth curve; all work "
    "after the first agg is dim-sized and every window partitions by "
    "type",
)
def w12_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(
            (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint")
        ).alias("first_day")
    )
    daily = firsts.groupBy(
        "event_type", F.col("first_day").alias("day_id")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        F.col("day_id").cast("bigint").alias("day_id"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias(
            "cum_distinct_users"
        ),
    )


# ---------------------------------------------------------------------------
# agg_skew_salted_distinct
# ---------------------------------------------------------------------------

_SALT = 8

_SALTED_SQL = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
"""


@register(
    "agg_skew_salted_distinct",
    _SALTED_SQL,
    "exact distinct users per event type computed SKEW-SAFE: stage 1 "
    "groups by (type, user_id % 8) and counts distinct users inside "
    "each salt shard, stage 2 sums the shard counts — exact because "
    "the salt PARTITIONS the user space (each user lands in exactly "
    "one shard), so shard distincts are disjoint and additive. This "
    "is the standard rewrite when one hot key funnels a "
    "count-distinct into a single reducer: the heavy distinct state "
    "spreads across 8x the tasks. The oracle is the plain "
    "COUNT(DISTINCT) — same numbers, different plan",
)
def agg_skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    shard = ev.groupBy(
        "event_type", (F.col("user_id") % _SALT).alias("salt")
    ).agg(
        F.countDistinct("user_id").alias("du"),
        F.count(F.lit(1)).alias("ne"),
    )
    return shard.groupBy("event_type").agg(
        F.sum("du").cast("bigint").alias("n_users"),
        F.sum("ne").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# agg_equidepth_hist
# ---------------------------------------------------------------------------

_EDH_SQL = """
    WITH g AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             count(*) AS c
      FROM events GROUP BY 1, 2),
    cum AS (
      SELECT event_type, cents,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cc,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM g)
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cc >= (1 * n + 7) // 8 THEN cents END)
                AS BIGINT) AS b1,
           CAST(min(CASE WHEN cc >= (2 * n + 7) // 8 THEN cents END)
                AS BIGINT) AS b2,
           CAST(min(CASE WHEN cc >= (3 * n + 7) // 8 THEN cents END)
                AS BIGINT) AS b3,
           CAST(min(CASE WHEN cc >= (4 * n + 7) // 8 THEN cents END)
                AS BIGINT) AS b4,
           CAST(min(CASE WHEN cc >= (5 * n + 7) // 8 THEN cents END)
                AS BIGINT) AS b5,
           CAST(min(CASE WHEN cc >= (6 * n + 7) // 8 THEN cents END)
                AS BIGINT) AS b6,
           CAST(min(CASE WHEN cc >= (7 * n + 7) // 8 THEN cents END)
                AS BIGINT) AS b7,
           CAST(min(CASE WHEN cc >= n THEN cents END) AS BIGINT) AS b8
    FROM cum GROUP BY event_type
"""


@register(
    "agg_equidepth_hist",
    _EDH_SQL,
    "8-bucket equi-depth histogram boundaries per event type — the "
    "ANALYZE statistics a cost-based optimizer keeps for selectivity "
    "estimation: boundary i is the value at rank ceil(i*n/8) "
    "(nearest-rank, pure integer selection, b8 = max). ONE "
    "conditional-min agg over the distinct-value cumulative dim — "
    "the exact-percentile machinery generalized to the boundary "
    "vector, no join, no floats, one fact scan",
)
def agg_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "event_type",
        "cents",
        F.sum("c").over(w).alias("cc"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )

    def b(i: int):
        return (
            F.min(
                F.when(
                    F.col("cc") >= F.expr(f"({i} * n + 7) div 8"),
                    F.col("cents"),
                )
            )
            .cast("bigint")
            .alias(f"b{i}")
        )

    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"), *[b(i) for i in range(1, 9)]
    )


# ---------------------------------------------------------------------------
# agg_weighted_median
# ---------------------------------------------------------------------------

_WMED_SQL = """
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
             CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),
    cum AS (
      SELECT flag, cents,
             sum(w) OVER (PARTITION BY flag ORDER BY cents) AS cw,
             sum(w) OVER (PARTITION BY flag) AS tw
      FROM g)
    SELECT flag AS l_returnflag,
           CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN cw >= (25 * tw + 99) // 100 THEN cents END)
                AS BIGINT) AS wp25_cents,
           CAST(min(CASE WHEN cw >= (50 * tw + 99) // 100 THEN cents END)
                AS BIGINT) AS wp50_cents,
           CAST(min(CASE WHEN cw >= (75 * tw + 99) // 100 THEN cents END)
                AS BIGINT) AS wp75_cents
    FROM cum GROUP BY flag
"""


@register(
    "agg_weighted_median",
    _WMED_SQL,
    "exact WEIGHTED nearest-rank percentiles (quantity-weighted price "
    "p25/p50/p75 per return flag): the value at cumulative weight >= "
    "ceil(p*W/100) — the estimator every weighted-sampling pipeline "
    "(SoftDeDup, DSIR) needs to summarize its reweighted distribution "
    "without materializing resampled rows. Same value-grouped "
    "cumulative shape as agg_percentile_exact, weights summed instead "
    "of counted; pure integer selection",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    ).agg(F.sum(F.round("l_quantity", 0).cast("bigint")).alias("w"))
    w = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "flag",
        "cents",
        F.sum("w").over(w).alias("cw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )

    def pick(p: int):
        return (
            F.min(
                F.when(
                    F.col("cw") >= F.expr(f"({p} * tw + 99) div 100"),
                    F.col("cents"),
                )
            )
            .cast("bigint")
            .alias(f"wp{p}_cents")
        )

    return cum.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        pick(25),
        pick(50),
        pick(75),
    )


# ---------------------------------------------------------------------------
# agg_quantile_bottomk
# ---------------------------------------------------------------------------

_QSK_K = 128

_QSK_PCTS = (25, 50, 75, 90, 99)


def _quantile_bottomk_sql() -> str:
    pcts = ", ".join(str(p) for p in _QSK_PCTS)
    return f"""
    WITH base AS (
      SELECT event_type, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CAST(('0x' || substr(md5('qsk|' || CAST(event_id AS VARCHAR)),
               1, 12)) AS UBIGINT) AS pri
      FROM events),
    pdim AS (SELECT unnest([{pcts}]) AS p),
    sample AS MATERIALIZED (
      SELECT event_type, event_id, cents,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM (SELECT event_type, event_id, cents,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY pri, event_id) AS krn
            FROM base)
      WHERE krn <= {_QSK_K}),
    est AS (
      SELECT s.event_type, p.p, s.cents AS est_cents
      FROM sample s JOIN pdim p
        ON s.rn = 1 + (s.m - 1) * p.p // 100),
    full_rank AS MATERIALIZED (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM base),
    exact AS (
      SELECT f.event_type, p.p, f.cents AS exact_cents
      FROM full_rank f JOIN pdim p
        ON f.rn = 1 + (f.m - 1) * p.p // 100)
    SELECT e.event_type, CAST(e.p AS INT) AS p,
           e.est_cents, x.exact_cents,
           abs(e.est_cents - x.exact_cents) AS abs_err_cents
    FROM est e JOIN exact x
      ON e.event_type = x.event_type AND e.p = x.p
"""


@register(
    "agg_quantile_bottomk",
    _quantile_bottomk_sql(),
    "mergeable bottom-k quantile sketch vs exact: per event type, keep "
    "the k=128 rows with the smallest md5 priorities (a uniform sample "
    "under the keyed-hash stream — the engine's universal sampler "
    "discipline), read the 25/50/75/90/99th percentiles off the sorted "
    "sample with the integer lower-quantile rule rank = 1 + (m-1)*p "
    "div 100, and report them side-by-side with the exact quantiles "
    "plus the absolute error — the sketch answer to 'quantiles over "
    "100 TB without a global sort' (KLL/t-digest's job; bottom-k is "
    "the deterministic mergeable member: union two sketches and "
    "re-take the k smallest priorities). Because selection is keyed-"
    "hash deterministic the oracle replays the sketch EXACTLY and the "
    "error column is itself exact (the agg_hll_mergeable discipline). "
    "Shape: the sketch side is a per-group top-k (partial TakeOrdered "
    "per partition, k rows per group ever shuffle); the full sort "
    "exists only for the exact comparison column",
)
def agg_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("qsk|"), F.col("event_id").cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("pri"),
    )
    pdim = F.broadcast(
        spark.createDataFrame([(p,) for p in _QSK_PCTS], "p int")
    )
    wk = Window.partitionBy("event_type").orderBy("pri", "event_id")
    sample = base.withColumn("krn", F.row_number().over(wk)).filter(
        F.col("krn") <= _QSK_K
    )
    wr = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wm = Window.partitionBy("event_type")
    sample = sample.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    est = sample.join(
        pdim,
        F.col("rn") == 1 + F.expr("(m - 1) * p div 100"),
    ).select("event_type", "p", F.col("cents").alias("est_cents"))
    full_rank = base.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    exact = full_rank.join(
        pdim,
        F.col("rn") == 1 + F.expr("(m - 1) * p div 100"),
    ).select("event_type", "p", F.col("cents").alias("exact_cents"))
    return (
        est.join(exact, ["event_type", "p"])
        .select(
            "event_type",
            F.col("p").cast("int").alias("p"),
            "est_cents",
            "exact_cents",
            F.abs(F.col("est_cents") - F.col("exact_cents")).alias(
                "abs_err_cents"
            ),
        )
    )


_CMS_WIDTHS = (256, 1024, 4096)

_CMS_DEPTH = 4


# ---------------------------------------------------------------------------
# agg_cms_width_curve
# ---------------------------------------------------------------------------


def _cms_width_sql() -> str:
    widths = ", ".join(str(w) for w in _CMS_WIDTHS)
    return f"""
    WITH truec AS MATERIALIZED (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1),
    dims AS (
      SELECT w, j FROM (SELECT unnest([{widths}]) AS w) ws
      CROSS JOIN (SELECT unnest(range({_CMS_DEPTH})) AS j) js),
    keyed AS (
      SELECT d.w, d.j, t.user_id, t.cnt,
             CAST(CAST(('0x' || substr(md5(CAST(d.j AS VARCHAR) || '|'
               || CAST(t.user_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               % CAST(d.w AS UBIGINT) AS BIGINT) AS cell
      FROM truec t CROSS JOIN dims d),
    cells AS MATERIALIZED (
      SELECT w, j, cell, CAST(sum(cnt) AS BIGINT) AS cell_sum
      FROM keyed GROUP BY 1, 2, 3),
    est AS (
      SELECT k.w, k.user_id, k.cnt,
             CAST(min(c.cell_sum) AS BIGINT) AS est
      FROM keyed k
      JOIN cells c ON k.w = c.w AND k.j = c.j AND k.cell = c.cell
      GROUP BY 1, 2, 3)
    SELECT CAST(w AS INT) AS width,
           CAST({_CMS_DEPTH} * w AS BIGINT) AS n_cells,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN est = cnt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(est - cnt) * 1000 // count(*) AS BIGINT)
             AS mean_over_milli,
           CAST(max(est - cnt) AS BIGINT) AS max_over
    FROM est GROUP BY w
"""


@register(
    "agg_cms_width_curve",
    _cms_width_sql(),
    "Count-Min sketch sizing curve — error vs width: depth 4 at "
    "widths {256, 1024, 4096} over per-user event counts, reporting "
    "keys recovered exactly, mean overestimate (milli), and the "
    "worst overestimate per configuration. agg_countmin_hh ships ONE "
    "configuration; this is the table that buys it — where the "
    "curve flattens is the width where extra cells stop paying (the "
    "epsilon = e/w overestimate bound made empirical). Shape: the "
    "per-key hash-agg FIRST (map-side combinable — the sketch is the "
    "fixed summary), then |keys| x depth x |widths| bounded explode "
    "for cells and estimates; no per-event fan-out",
)
def agg_cms_width_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    truec = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    dims = F.broadcast(
        spark.createDataFrame(
            [(w, j) for w in _CMS_WIDTHS for j in range(_CMS_DEPTH)],
            "w int, j int",
        )
    )
    keyed = truec.crossJoin(dims).select(
        "w",
        "j",
        "user_id",
        "cnt",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("j").cast("string"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint"),
            F.col("w").cast("bigint"),
        ).alias("cell"),
    )
    cells = keyed.groupBy("w", "j", "cell").agg(
        F.sum("cnt").cast("bigint").alias("cell_sum")
    )
    est = (
        keyed.join(cells, ["w", "j", "cell"])
        .groupBy("w", "user_id", "cnt")
        .agg(F.min("cell_sum").cast("bigint").alias("est"))
    )
    return est.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("est") == F.col("cnt"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.expr(
            "CAST(sum(est - cnt) * 1000 div count(*) AS BIGINT)"
        ).alias("mean_over_milli"),
        F.max(F.col("est") - F.col("cnt"))
        .cast("bigint")
        .alias("max_over"),
    ).select(
        F.col("w").cast("int").alias("width"),
        (F.lit(_CMS_DEPTH) * F.col("w")).cast("bigint").alias("n_cells"),
        "n_keys",
        "n_exact",
        "mean_over_milli",
        "max_over",
    )


_KMV_KS = (16, 64, 256)


# ---------------------------------------------------------------------------
# agg_kmv_precision_curve
# ---------------------------------------------------------------------------

_KMV_DOMAIN = 1 << 48


def _kmv_curve_sql() -> str:
    ks = ", ".join(str(k) for k in _KMV_KS)
    return f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events),
    hashed AS MATERIALIZED (
      SELECT event_type, user_id,
             CAST(CAST(('0x' || substr(md5('kmv|'
               || CAST(user_id AS VARCHAR)), 1, 12)) AS UBIGINT)
               AS BIGINT) AS h
      FROM du),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY h, user_id) AS rk
      FROM hashed),
    exact AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS exact_users
      FROM du GROUP BY 1),
    ks AS (SELECT unnest([{ks}]) AS k),
    est AS (
      SELECT e.event_type, k.k, e.exact_users,
             CAST(CASE WHEN e.exact_users < k.k THEN e.exact_users
               ELSE (k.k - 1) * {_KMV_DOMAIN}
                    // (SELECT r.h FROM ranked r
                        WHERE r.event_type = e.event_type
                          AND r.rk = k.k)
               END AS BIGINT) AS est_users
      FROM exact e CROSS JOIN ks k)
    SELECT event_type, CAST(k AS INT) AS k, exact_users, est_users,
           CAST(abs(est_users - exact_users) AS BIGINT) AS abs_err,
           CAST(abs(est_users - exact_users) * 1000 // exact_users
             AS BIGINT) AS err_milli
    FROM est
"""


@register(
    "agg_kmv_precision_curve",
    _kmv_curve_sql(),
    "KMV sketch sizing curve — distinct-count error vs k: per event "
    "type, the k-minimum-values estimate (k-1)·2^48 // h_(k) on the "
    "md5 48-bit hash domain for k in {16, 64, 256}, next to the "
    "exact count and milli error; below k distinct keys the sketch "
    "IS exact. The engine-replayable counterpart of "
    "agg_hll_mergeable's sizing question: DataSketches estimates are "
    "implementation-defined, this rational is bit-identical on both "
    "engines, so the error CURVE itself is certified. Shape: one "
    "distinct hash-agg, a rank window per |types| partition, a "
    "3-row k dim; the sketch state is k minima per type — the "
    "mergeable fixed-size summary",
)
def agg_kmv_precision_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    du = events.select("event_type", "user_id").distinct()
    hashed = du.select(
        "event_type",
        "user_id",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("kmv"), F.col("user_id").cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    ranked = hashed.withColumn("rk", F.row_number().over(w))
    exact = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_users")
    )
    ks = F.broadcast(
        spark.createDataFrame([(k,) for k in _KMV_KS], "k int")
    )
    kth = (
        ranked.join(ks, ranked["rk"] == ks["k"])
        .select("event_type", "k", F.col("h").alias("hk"))
    )
    est = (
        exact.crossJoin(ks)
        .join(kth, ["event_type", "k"], "left")
        .select(
            "event_type",
            "k",
            "exact_users",
            F.when(
                F.col("exact_users") < F.col("k"),
                F.col("exact_users"),
            )
            .otherwise(
                F.expr(
                    f"CAST((k - 1) * CAST({_KMV_DOMAIN} AS BIGINT)"
                    " div hk AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("est_users"),
        )
    )
    return est.select(
        "event_type",
        F.col("k").cast("int").alias("k"),
        "exact_users",
        "est_users",
        F.abs(F.col("est_users") - F.col("exact_users"))
        .cast("bigint")
        .alias("abs_err"),
        F.expr(
            "CAST(abs(est_users - exact_users) * 1000"
            " div exact_users AS BIGINT)"
        ).alias("err_milli"),
    )
