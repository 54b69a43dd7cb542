"""Relational queries (``rel_*``, TPC-H ``q1``-``q22``, joins ``j1``-``j14``,
set operations, ``merge_upsert``, ``cogroup_*``).

Every query is SQL-expressible, so every one has an exact DuckDB oracle.
Scale discipline: ``nation``/``region``/``supplier``/``part`` are broadcast
dims, fact-to-fact joins shuffle on their join keys only, every aggregate
rides map-side partial aggregation, and exact ranks use the cumulative-dim
pattern (see agg.py), never a single-partition window over facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.operators.joins import semi_join, union_distinct
from jigsaw_spark.plans.registry import (
    _REV_SQL,
    _t,
    davg,
    dec2,
    dsum,
    register,
    rev_col,
)


# ---------------------------------------------------------------------------
# Q1-style pricing summary (the groupBy/agg surface: A3/A4 generalized)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE)
             AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                          * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))), 2) AS DOUBLE)
             AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity), 4)
             AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice), 4)
             AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount), 4)
             AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: scan + pushdown filter + 8-agg hash aggregate",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    disc_price = dec2("l_extendedprice", 12) * (one - F.col("l_discount").cast("decimal(3,2)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(dec2("l_quantity", 12)).alias("sum_qty"),
            dsum(dec2("l_extendedprice", 12)).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (one + F.col("l_tax").cast("decimal(3,2)"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape: selective filters pushed to all three scans, "
    "customer (filtered, small) broadcast into orders, one shuffle join on "
    "orderkey, top-N as TakeOrdered (no global sort). Total order in the "
    "sort key so the LIMIT boundary is deterministic",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    "TPC-H Q5 shape: 6-way join — region/nation/supplier broadcast (dims), "
    "customer⋈orders⋈lineitem shuffle on their keys; the local-supplier "
    "condition (c_nationkey = s_nationkey) rides the supplier join as a "
    "residual equi-predicate",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian_nations = F.broadcast(
        nat.join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(supp),
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(asian_nations, supp["s_nationkey"] == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# J1 / J2 / J3 — joins
# ---------------------------------------------------------------------------


@register(
    "j1_construct_join",
    f"""
    SELECT n_name,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    "J1: multi-source equi-join (fact shuffle + broadcast dims) + aggregate",
)
def j1_construct_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return joined.groupBy("n_name").agg(
        dsum(rev_col()).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "j2_semi_join",
    """
    SELECT l_returnflag, count(*) AS n, CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag
    """,
    "J2: left-semi join against a selected-ids set",
)
def j2_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        semi_join(li, urgent, "l_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(dec2("l_quantity")).alias("sum_qty"),
        )
    )


@register(
    "j2_anti_join",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    GROUP BY c_mktsegment
    """,
    "F8/J2: anti-join — the skip-existing incremental pattern",
)
def j2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.joins import anti_join

    customer = _t(spark, sf_dir, "customer")
    open_buyers = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        anti_join(customer, open_buyers, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "j3_union_distinct",
    """
    SELECT DISTINCT c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 7500
      UNION ALL
      SELECT c_custkey FROM customer WHERE c_nationkey < 5
    )
    """,
    "J3: union-of-sets deduplicated on the key",
)
def j3_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_acctbal") > 7500).select("c_custkey")
    b = customer.filter(F.col("c_nationkey") < 5).select("c_custkey")
    return union_distinct([a, b], ["c_custkey"])


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.6)
# ---------------------------------------------------------------------------


@register(
    "set_intersect",
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "intersect on keys",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "set_except",
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "except on keys",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.subtract(b)


# ---------------------------------------------------------------------------
# J5 / J6 — as-of and range joins (Spark-side custom operators; SURVEY §2.3
# lists them absent in the reference — provided by the generalized engine)
# ---------------------------------------------------------------------------


@register(
    "j5_asof_join",
    """
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), errs AS (
      SELECT user_id, ts, max(event_id) AS err_id
      FROM events WHERE event_type = 'error' GROUP BY 1, 2
    )
    SELECT c.event_id, c.user_id, e.err_id
    FROM clicks c ASOF LEFT JOIN errs e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
    "J5: backward as-of join (latest error at-or-before each click, per user)"
    " — union-tag + running window, one shuffle",
)
def j5_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.joins import asof_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errs = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("err_id"))
    )
    out = asof_join(clicks, errs, on=["user_id"], ts="ts", right_prefix="")
    return out.select("event_id", "user_id", "err_id")


_PRICE_BANDS = [
    (900.0, 925.0, "b0_900"),
    (925.0, 950.0, "b1_925"),
    (950.0, 975.0, "b2_950"),
    (975.0, 1000.0, "b3_975"),
]

_BANDS_SQL = ", ".join(f"({lo}, {hi}, '{name}')" for lo, hi, name in _PRICE_BANDS)


@register(
    "j6_range_join",
    f"""
    SELECT band, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
    FROM part
    JOIN (VALUES {_BANDS_SQL}) bands(lo, hi, band)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    "J6: range (interval) join against a broadcast band dimension",
)
def j6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.joins import range_join

    part = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(_PRICE_BANDS, "lo double, hi double, band string")
    joined = range_join(part, bands, "p_retailprice", "lo", "hi")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
    )


@register(
    "merge_upsert",
    """
    WITH src AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             CAST(round(CAST(o_totalprice AS DECIMAL(12,2))
                        * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0),
    ins AS (
      SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
             'N' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 1),
    merged AS (
      SELECT * FROM (
        SELECT m.*, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY pri DESC) AS rn
        FROM (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 0 AS pri
          FROM orders
          UNION ALL
          SELECT *, 1 AS pri FROM src
          UNION ALL SELECT *, 1 AS pri FROM ins) m) t
      WHERE rn = 1)
    SELECT o_orderstatus, count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM merged GROUP BY o_orderstatus
    """,
    "functional MERGE/upsert: updates (keys %10=0 re-priced, status X) + "
    "inserts (shifted keys) applied in one exchange via priority window — "
    "verified through post-merge per-status aggregates",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.joins import merge_into

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn(
            "o_totalprice",
            F.round(
                dec2("o_totalprice", 12) * F.lit("1.1").cast("decimal(2,1)"), 2
            ).cast("double"),
        )
    )
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 1).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    merged = merge_into(
        orders, updates.unionByName(inserts), ["o_orderkey"]
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(dec2("o_totalprice")).alias("total"),
    )


# ---------------------------------------------------------------------------
# Q18 shape: aggregate → HAVING → join the tiny agg result back to the dims.
# The scale lesson: the post-HAVING relation is a few rows even at 100 TB, so
# BOTH joins broadcast it — orders and customer are never shuffled.
# ---------------------------------------------------------------------------


@register(
    "q18_large_orders",
    """
    SELECT c_name, o_orderkey,
           round(o_totalprice, 2) AS total_price,
           round(sum_qty, 2)      AS sum_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    ) big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    "TPC-H Q18 shape: hash-agg + HAVING, tiny result broadcast into both joins",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    # big is ~0.1% of orders after HAVING — broadcast it through both joins
    # so the fact/dim tables are scanned once, shuffled never.
    hit = orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
    out = customer.join(
        F.broadcast(hit), customer.c_custkey == hit.o_custkey
    )
    return out.select(
        "c_name",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.round("sum_qty", 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Multiset set ops (INTERSECT ALL / EXCEPT ALL). The post-op count aggregate
# keeps the compared result small while still proving multiplicities match.
# ---------------------------------------------------------------------------

_SET_A = "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'"

_SET_B = "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"


def _year_slice(li: DataFrame, year: int) -> DataFrame:
    return li.filter(
        (F.col("l_shipdate") >= F.lit(f"{year}-01-01"))
        & (F.col("l_shipdate") < F.lit(f"{year + 1}-01-01"))
    ).select("l_returnflag", "l_quantity")


@register(
    "set_intersect_all",
    f"""
    SELECT l_returnflag, l_quantity, count(*) AS n
    FROM (({_SET_A}) INTERSECT ALL ({_SET_B}))
    GROUP BY l_returnflag, l_quantity
    """,
    "multiset intersection — multiplicity = min(count_a, count_b)",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    inter = _year_slice(li, 1996).intersectAll(_year_slice(li, 1997))
    return inter.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "set_except_all",
    f"""
    SELECT l_returnflag, l_quantity, count(*) AS n
    FROM (({_SET_A}) EXCEPT ALL ({_SET_B}))
    GROUP BY l_returnflag, l_quantity
    """,
    "multiset difference — multiplicity = max(0, count_a - count_b)",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    diff = _year_slice(li, 1996).exceptAll(_year_slice(li, 1997))
    return diff.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "j7_full_outer",
    """
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS order_total
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-02-01'
      GROUP BY 1),
    s AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             count(*) AS n_ships,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS ship_total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-02-01'
      GROUP BY 1)
    SELECT CAST(COALESCE(o.day, s.day) AS VARCHAR) AS day,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(order_total, 0.0) AS order_total,
           COALESCE(n_ships, 0) AS n_ships,
           COALESCE(ship_total, 0.0) AS ship_total
    FROM o FULL OUTER JOIN s ON o.day = s.day
    """,
    "full-outer join of two independently aggregated daily series "
    "(placed/shipped reconciliation) with COALESCE'd gaps — both sides "
    "pre-aggregated BEFORE the join so the outer join shuffles day-counts, "
    "not raw facts; date filters pushed to both scans",
)
def j7_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    jan = lambda c: (F.col(c) >= F.lit("1997-01-01").cast("timestamp")) & (  # noqa: E731
        F.col(c) < F.lit("1997-02-01").cast("timestamp")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(jan("o_orderdate"))
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec2("o_totalprice")).alias("order_total"),
        )
    )
    s = (
        _t(spark, sf_dir, "lineitem")
        .filter(jan("l_shipdate"))
        .groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_ships"),
            dsum(dec2("l_extendedprice")).alias("ship_total"),
        )
    )
    return (
        o.join(s, "day", "full_outer")
        .select(
            # ISO string, not DATE: pandas renders DuckDB DATE as a
            # midnight Timestamp but Spark DATE as datetime.date — a
            # guaranteed canon mismatch at the driver (r4 sweep find)
            F.col("day").cast("string").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("order_total", F.lit(0.0)).alias("order_total"),
            F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
            F.coalesce("ship_total", F.lit(0.0)).alias("ship_total"),
        )
    )


# ---------------------------------------------------------------------------
# Q6 shape: filter + single-row aggregate. The whole query is one parquet
# scan with every predicate pushed (PushedFilters in PLANS.md) — at 100 TB
# this is the query whose cost is pure I/O, so pushdown is the entire game.
# ---------------------------------------------------------------------------


@register(
    "q6_filter_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_discount AS DECIMAL(3,2))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: all-pushdown filter + single-row aggregate",
)
def q6_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(
                dec2("l_extendedprice", 12)
                * F.col("l_discount").cast("decimal(3,2)")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 shape: fact⋈fact join + conditional (CASE) aggregation. orders⋈lineitem
# shuffles on orderkey once; the CASE branches ride the same hash aggregate —
# no second pass per condition.
# ---------------------------------------------------------------------------


@register(
    "q12_priority_lines",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    "TPC-H Q12 shape: join + CASE conditional aggregation in one hash agg",
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 shape: outer-join distribution. Implemented agg-before-join: orders
# collapse to ≤|customer| rows FIRST (one shuffle), then the left join keeps
# zero-order customers via coalesce(n, 0). Joining raw orders to customer and
# aggregating after would shuffle the fact table twice as many rows.
# ---------------------------------------------------------------------------


@register(
    "q13_custdist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    "TPC-H Q13 shape: left-outer join + two-level count distribution",
)
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    counts = customer.join(
        per_cust, customer.c_custkey == per_cust.o_custkey, "left"
    ).select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q14 shape: broadcast dim join + conditional-sum ratio. part is the dim →
# broadcast; the month filter pushes into the lineitem scan; output is one
# row, so the final agg is a cheap global reduce.
# ---------------------------------------------------------------------------


@register(
    "q14_promo_ratio",
    """
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-06-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    """,
    "TPC-H Q14 shape: broadcast part join + conditional-sum ratio",
)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive (OR-of-ANDs) predicate across a join. The common
# l_partkey = p_partkey conjunct is the join key; the disjunction stays a
# residual filter on the broadcast-joined rows — Catalyst extracts the common
# equi-condition instead of falling back to a nested-loop join.
# ---------------------------------------------------------------------------


@register(
    "q19_disjunctive_join",
    f"""
    SELECT CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    "TPC-H Q19 shape: equi-join + disjunctive residual predicate",
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    qty = F.col("l_quantity")
    branch = lambda brand, size_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= size_hi)
        & (qty >= q_lo)
        & (qty <= q_hi)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(
            branch("Brand#12", 15, 1, 11)
            | branch("Brand#23", 20, 10, 20)
            | branch("Brand#34", 25, 20, 30)
        )
        .agg(
            dsum(rev_col()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 shape — volume shipping between two nations, grouped by year and
# direction. One lineitem⋈orders shuffle join; supplier/customer/nation are
# broadcast. The disjunctive nation-pair predicate is applied post-join as
# a residual (it references both sides).
# ---------------------------------------------------------------------------


@register(
    "q7_nation_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
             {_REV_SQL} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: bidirectional nation-pair volume by ship year — "
    "lineitem⋈orders is the only shuffle join; both nation legs broadcast",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # pre-restrict both broadcast legs to the two nations of interest so the
    # broadcast hash tables only carry rows that can survive the residual.
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = F.broadcast(
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(rev_col()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8 shape — market share of one supplier nation inside one customer
# region, by order year. The share is a conditional-sum ratio (numerator
# fused into the same hash aggregate as the denominator — no second pass).
# ---------------------------------------------------------------------------


@register(
    "q8_market_share",
    f"""
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
             {_REV_SQL} AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ) all_volume
    GROUP BY o_year
    ORDER BY o_year
    """,
    "TPC-H Q8 shape: one nation's share of a region's volume per year — "
    "numerator and denominator fused in a single hash aggregate",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    # ASIA-region customers: nation⋈region collapses to a tiny broadcast dim
    asia_cust = F.broadcast(
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nat.join(
                    F.broadcast(reg),
                    nat["n_regionkey"] == reg["r_regionkey"],
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    vol = rev_col()
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(asia_cust, orders["o_custkey"] == F.col("c_custkey"), "inner")
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("decimal(3,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q10 shape — returned-item revenue per customer, top 20. The per-customer
# aggregate shuffles on c_custkey once; TakeOrdered replaces a global sort.
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue,
           round(max(c_acctbal), 2) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: lost-revenue ranking — returnflag filter pushed to "
    "the lineitem scan, one shuffle agg on custkey, TakeOrdered top-20",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(rev_col()).alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("c_acctbal"),
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q15 shape — the supplier(s) achieving max revenue. The revenue CTE is
# aggregated once, then joined against its own 1-row max: Spark plans the
# max as a broadcast of a single row; no second scan of lineitem (the agg
# result is reused under AQE exchange reuse).
# ---------------------------------------------------------------------------


@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-07-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    "TPC-H Q15 shape: argmax over an aggregated view — scalar-subquery max "
    "broadcast against the same aggregate (exchange reuse, no rescan)",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(rev_col()).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q17 shape — small-quantity revenue: lines under half their part's average
# quantity. The correlated average decorrelates to a per-part aggregate
# joined back on l_partkey; integer quantities make the threshold exact in
# both engines (integer sums are exact in doubles).
# ---------------------------------------------------------------------------


@register(
    "q17_small_quantity",
    """
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
    "TPC-H Q17 shape: correlated per-part average threshold — decorrelated "
    "to one partkey aggregate joined back; brand filter broadcast",
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    brand_parts = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    # per-part average over ALL lineitems of that part (the correlated
    # subquery ranges over lineitem unrestricted by brand — but only
    # brand-filtered parts can reach the final join, so we semi-join the
    # average's input to the brand parts to shrink the agg 20×; averages
    # for parts outside the brand can never be referenced).
    part_avg = (
        li.join(brand_parts, li["l_partkey"] == brand_parts["p_partkey"], "left_semi")
        .groupBy("l_partkey")
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty"))
        .withColumnRenamed("l_partkey", "avg_partkey")
    )
    return (
        li.join(brand_parts, li["l_partkey"] == brand_parts["p_partkey"])
        .join(F.broadcast(part_avg), li["l_partkey"] == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(
                F.sum(dec2("l_extendedprice")).cast("double") / 7.0, 2
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# Q22 shape — wealthy customers with no urgent orders, per nation. NOT EXISTS →
# anti join on the orders fact; the average-balance threshold is a 1-row
# broadcast. Group key is the nation (the schema has no phone country code).
# ---------------------------------------------------------------------------


@register(
    "q22_idle_customers",
    """
    WITH threshold AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(c_acctbal) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey AS nationkey, count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer, threshold
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY nationkey
    """,
    "TPC-H Q22 shape: above-average-balance customers with zero urgent orders — "
    "1-row threshold broadcast + anti join against the orders fact, "
    "grouped per nation",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    threshold = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec2("c_acctbal")).cast("double") / F.count("c_acctbal")).alias(
            "avg_bal"
        )
    )
    return (
        cust.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(dec2("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Q9 shape — profit by supplier nation and year, with p_retailprice as the
# unit-cost proxy (the schema has no partsupp). part is a broadcast dim;
# the lineitem⋈orders shuffle is the only exchange before the final
# (nation, year) aggregate.
# ---------------------------------------------------------------------------


@register(
    "q9_profit_by_nation",
    f"""
    SELECT nation, o_year, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
             {_REV_SQL}
               - CAST(p_retailprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(0.1 AS DECIMAL(1,1)) AS amount
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%r%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    "TPC-H Q9 shape: profit rollup by supplier nation × order year; "
    "p_retailprice×qty×0.1 stands in for ps_supplycost (no partsupp in "
    "the schema); part/supplier/nation broadcast, LIKE filter on the dim",
)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%r%"))
        .select("p_partkey", "p_retailprice")
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    amount = rev_col() - dec2("p_retailprice", 12) * dec2("l_quantity", 12) * F.lit(
        "0.1"
    ).cast("decimal(1,1)")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q4 shape — order-priority distribution over orders having at least one
# qualifying line. EXISTS decorrelates to a left-semi join; the semi join's
# build side is the filtered lineitem scan, and the final priority agg is
# tiny. One shuffle (the semi join on orderkey), then a near-driver agg.
# ---------------------------------------------------------------------------


@register(
    "q4_priority_check",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "TPC-H Q4 shape: EXISTS → left-semi join on orderkey, then the "
    "5-row priority distribution",
)
def q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    qualifying = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.08)
        .select("l_orderkey")
    )
    return (
        orders.join(
            qualifying, orders["o_orderkey"] == qualifying["l_orderkey"], "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q16 shape — supplier-count distribution per (brand, type, size) class,
# excluding a NOT-IN supplier blacklist. NOT IN over a non-nullable key
# decorrelates to an anti join; count(DISTINCT s_suppkey) expands to a
# two-phase aggregate. part is the broadcast dim on the lineitem bridge
# (the schema has no partsupp; lineitem supplies the part⋈supplier pairs).
# ---------------------------------------------------------------------------


@register(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO'
      AND p_size IN (1, 2, 3, 4, 5)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
    "TPC-H Q16 shape: NOT IN blacklist → anti join, distinct-count per "
    "(brand, size) class via two-phase aggregate, broadcast part dim",
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") != "PROMO") & F.col("p_size").isin(1, 2, 3, 4, 5))
        .select("p_partkey", "p_brand", "p_size")
    )
    blacklist = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(
            F.broadcast(blacklist),
            li["l_suppkey"] == blacklist["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


# ---------------------------------------------------------------------------
# Q2 shape — best-cost supplier per part: a per-part aggregate compared
# against a correlated per-part minimum. The correlated scalar subquery is
# expressed as a window min over the SAME grouped frame (one shuffle on
# (part, supp), window re-partitions by part — AQE reuses the narrow
# dependency), dodging Q2's classic double-scan plan. Float-equality join
# is safe cross-engine: both sides compute min over identical doubles.
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             min(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost
      FROM costs
    )
    SELECT p_partkey, p_name, s_name, n_name, round(unit_cost, 4) AS unit_cost
    FROM best
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size <= 3 AND unit_cost = best_cost
    ORDER BY p_partkey, s_name
    LIMIT 100
    """,
    "TPC-H Q2 shape: per-part minimum-cost supplier — correlated min as a "
    "window over the grouped frame (no second scan), broadcast dims, "
    "total-order top-100",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = costs.withColumn(
        "best_cost", F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("unit_cost") == F.col("best_cost"))
    part = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 3)
        .select("p_partkey", "p_name")
    )
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    )
    nat = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    return (
        best.join(part, best["l_partkey"] == part["p_partkey"])
        .join(supp, best["l_suppkey"] == supp["s_suppkey"])
        .join(nat, supp["s_nationkey"] == nat["n_nationkey"])
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("unit_cost", 4).alias("unit_cost"),
        )
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q11 analog — "important inventory value". The schema has no partsupp, so
# lineitem stands in as the part×supplier value fact (noted in COVERAGE.md);
# the SHAPE is Q11's signature: per-part value aggregate HAVING'd against a
# scalar-subquery fraction of the same aggregate over the whole nation.
# Scale: the nation filter broadcasts through supplier; both the per-part
# agg and the 1-row global total reuse one shuffled frame; the threshold is
# a 1-row broadcast. Exact-decimal sums make the HAVING boundary
# deterministic across engines.
# ---------------------------------------------------------------------------


@register(
    "q11_important_value",
    f"""
    WITH natsupp AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'),
    val AS (
      SELECT l_partkey,
             CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS value
      FROM lineitem JOIN natsupp ON l_suppkey = s_suppkey
      GROUP BY l_partkey)
    SELECT l_partkey, value
    FROM val
    WHERE value > (SELECT 0.001 * sum(value) FROM val)
    ORDER BY value DESC, l_partkey
    """,
    "TPC-H Q11 shape (partsupp-free analog): per-part value vs a scalar "
    "fraction of the national total — agg + HAVING against a 1-row "
    "broadcast subquery; supplier/nation dims broadcast",
)
def q11_important_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    natsupp = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    val = (
        li.join(natsupp, li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(dsum(rev_col()).alias("value"))
    )
    threshold = val.agg((F.lit(0.001) * F.sum("value")).alias("thr"))
    return (
        val.join(F.broadcast(threshold))
        .filter(F.col("value") > F.col("thr"))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey")
    )


# ---------------------------------------------------------------------------
# Q20 analog — "potential part promotion". No partsupp.availqty, so the
# excess-stock predicate becomes: suppliers whose 1997 shipped quantity of
# the name-matched parts exceeds an outsized share (17%, ~1.2x
# the uniform-year share in this data) of their all-time shipped quantity
# of those parts (same correlated-sums-compare + semi-join signature; noted
# in COVERAGE.md). Integer-valued quantities keep both sums exact, so the
# threshold boundary is engine-stable.
# ---------------------------------------------------------------------------


@register(
    "q20_promo_suppliers",
    """
    WITH target_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE '%gear%'),
    shipped AS (
      SELECT l_suppkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l_shipdate <  TIMESTAMP '1998-01-01'
                      THEN l_quantity ELSE 0 END) AS qty97,
             sum(l_quantity) AS qty_all
      FROM lineitem JOIN target_parts ON l_partkey = p_partkey
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM shipped WHERE qty97 > 0.17 * qty_all)
    ORDER BY s_suppkey
    """,
    "TPC-H Q20 shape (availqty-free analog): name-filtered part dim "
    "broadcast into lineitem, correlated sums compared per supplier, "
    "left-semi join back to supplier",
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    parts = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    in97 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    )
    shipped = (
        li.join(parts, li["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(in97, F.col("l_quantity")).otherwise(F.lit(0.0))).alias(
                "qty97"
            ),
            F.sum("l_quantity").alias("qty_all"),
        )
        .filter(F.col("qty97") > 0.17 * F.col("qty_all"))
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        supp.join(
            F.broadcast(shipped), supp["s_suppkey"] == shipped["l_suppkey"], "left_semi"
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q21 analog — "suppliers who kept orders waiting". The schema has no
# commit/receipt dates, so the fault predicate becomes l_returnflag = 'R'
# (noted in COVERAGE.md); the signature — EXISTS another supplier on the
# order, NOT EXISTS another supplier also at fault — is preserved. Spark
# side decorrelates BOTH subqueries into ONE per-order aggregate
# (distinct-supplier count + distinct-faulty-supplier count) joined back:
# two correlated scans collapse into a single shuffle — the plan you want
# at 100 TB instead of two extra lineitem passes.
# ---------------------------------------------------------------------------


@register(
    "q21_waiting_suppliers",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    "TPC-H Q21 shape (date-free analog): sole-faulty-supplier attribution "
    "on multi-supplier orders — EXISTS/NOT EXISTS decorrelated to one "
    "per-order distinct-count aggregate instead of two correlated scans",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    # two distinct-counts in one agg would plan as a 2x Expand over the
    # full fact; the (order, supplier) pre-agg instead rides map-side
    # combine and halves the shuffled bytes (measured ~30% faster at
    # sf0.1, and the Expand's 2x row inflation is exactly what you can't
    # afford at 100 TB)
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r")
    )
    order_stats = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_r").alias("n_fault_supp"),
    )
    orders_f = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    l1 = li.filter(F.col("l_returnflag") == "R")
    return (
        l1.join(orders_f, l1["l_orderkey"] == orders_f["o_orderkey"])
        .join(order_stats, "l_orderkey")
        # EXISTS other supplier ⇔ n_supp >= 2; NOT EXISTS other faulty
        # supplier ⇔ this l1 supplier is the only one with 'R'
        .filter((F.col("n_supp") >= 2) & (F.col("n_fault_supp") == 1))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "cogroup_fill_ratio",
    """
    SELECT o.o_orderkey,
           count(l.l_orderkey) AS n_lines,
           round(coalesce(sum(l.l_extendedprice * (1 - l.l_discount)), 0.0)
                 / max(o.o_totalprice), 6) AS fill_ratio
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 200 = 0
    GROUP BY o.o_orderkey
    """,
    "applyInPandas over COGROUPED frames: per-order custom merge of the "
    "orders and lineitem groups in one Arrow-batched kernel — the API "
    "surface for per-key logic a join can't express; this instance is "
    "deliberately join-expressible so the kernel is oracle-verified",
)
def cogroup_fill_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 200 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    # prune the fact side BEFORE the cogroup: the %200 predicate is cheap on
    # lineitem directly (same arithmetic), so only surviving groups reach
    # the Python kernel. Without this, every lineitem group pays an Arrow
    # batch + kernel call just to emit nothing — per-key pandas overhead is
    # the cost model here, so cogroup keys must be pre-pruned at scale.
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 200 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )

    def merge(o: pd.DataFrame, l: pd.DataFrame) -> pd.DataFrame:
        if o.empty:  # lineitem group with no surviving order row
            return pd.DataFrame(
                columns=["o_orderkey", "n_lines", "fill_ratio"]
            ).astype({"o_orderkey": "int64", "n_lines": "int64", "fill_ratio": "float64"})
        rev = float((l["l_extendedprice"] * (1.0 - l["l_discount"])).sum())
        return pd.DataFrame(
            {
                "o_orderkey": [int(o["o_orderkey"].iloc[0])],
                "n_lines": [int(len(l))],
                "fill_ratio": [round(rev / float(o["o_totalprice"].iloc[0]), 6)],
            }
        )

    return (
        orders.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            merge, "o_orderkey long, n_lines long, fill_ratio double"
        )
    )


@register(
    "rel_recursive_rollup",
    """
    WITH RECURSIVE climb(root, price) AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) FROM orders
      UNION ALL
      SELECT root // 10, price FROM climb WHERE root >= 10
    )
    SELECT CAST(root AS INT) AS root_digit, count(*) AS n_orders,
           CAST(round(sum(price), 2) AS DOUBLE) AS total_price
    FROM climb WHERE root < 10 GROUP BY root
    """,
    "native WITH RECURSIVE (Spark 4.1 iterative UnionLoop): unique-parent "
    "decimal-trie walk — each level is a narrow map (no join, no shuffle "
    "per iteration), terminal rows aggregate once; exact decimal money "
    "sums keep the rollup order-independent. The BOM/org-chart recursion "
    "shape; UNION ALL form (Spark does not yet support cycle-safe UNION "
    "DISTINCT recursion — acyclic unique-parent graphs terminate without "
    "it).",
)
def rel_recursive_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    o = os.path.join(sf_dir, "orders.parquet")
    return spark.sql(
        f"""
        WITH RECURSIVE climb(root, price) AS (
          SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2))
          FROM parquet.`{o}`
          UNION ALL
          SELECT root DIV 10, price FROM climb WHERE root >= 10
        )
        SELECT CAST(root AS INT) AS root_digit, count(*) AS n_orders,
               CAST(round(sum(price), 2) AS DOUBLE) AS total_price
        FROM climb WHERE root < 10 GROUP BY root
        """
    )


@register(
    "j5_asof_forward_tol",
    """
    WITH v AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT user_id, ts, max(event_id) AS p_event
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT v.event_id, v.user_id,
           CASE WHEN p.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
                THEN p.p_event END AS next_purchase,
           CASE WHEN p.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
                THEN epoch_us(p.ts) - epoch_us(v.ts) END AS wait_us
    FROM v ASOF LEFT JOIN p
      ON v.user_id = p.user_id AND v.ts <= p.ts
    """,
    "forward as-of join with tolerance (pandas merge_asof direction= "
    "'forward'): earliest purchase at-or-after each view per user, match "
    "nulled beyond 30 min — union-tag + forward running window, one "
    "shuffle; oracle is DuckDB ASOF (<=) with a post-join tolerance gate",
)
def j5_asof_forward_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.joins import asof_join

    events = _t(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("p_event"))
    )
    out = asof_join(
        views,
        purchases,
        on=["user_id"],
        ts="ts",
        right_prefix="r_",
        direction="forward",
        tolerance_us=1_800_000_000,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("r_p_event").alias("next_purchase"),
        (F.unix_micros("r_ts") - F.unix_micros("ts")).alias("wait_us"),
    )


@register(
    "rel_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey,
             md5(concat(
                 CASE WHEN o_orderstatus IS NULL THEN 'N'
                      ELSE 'V' || length(o_orderstatus) || ':'
                           || o_orderstatus END,
                 CASE WHEN o_totalprice IS NULL THEN 'N'
                      ELSE 'V' || length(CAST(o_totalprice AS VARCHAR))
                           || ':' || CAST(o_totalprice AS VARCHAR) END
             )) AS _oh
      FROM orders),
    new AS (
      SELECT o_orderkey,
             md5(concat(
                 CASE WHEN s IS NULL THEN 'N'
                      ELSE 'V' || length(s) || ':' || s END,
                 CASE WHEN o_totalprice IS NULL THEN 'N'
                      ELSE 'V' || length(CAST(o_totalprice AS VARCHAR))
                           || ':' || CAST(o_totalprice AS VARCHAR) END
             )) AS _nh
      FROM (SELECT o_orderkey, o_totalprice,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'F'
                        ELSE o_orderstatus END AS s
            FROM orders WHERE o_orderkey % 11 <> 0))
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o._oh IS NULL THEN 'added'
                WHEN n._nh IS NULL THEN 'removed'
                WHEN o._oh <> n._nh THEN 'changed' END AS change
    FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    WHERE CASE WHEN o._oh IS NULL THEN 'added'
               WHEN n._nh IS NULL THEN 'removed'
               WHEN o._oh <> n._nh THEN 'changed' END IS NOT NULL
    """,
    "snapshot diff (CDC derivation without a log): full-outer on the "
    "key + md5 row-hash change detection — wide-row comparison collapses "
    "to one string equality; unchanged rows (the 100 TB majority) are "
    "never materialized. New snapshot simulated deterministically: "
    "orderkey%7 status flip, orderkey%11 deletions",
)
def rel_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.joins import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("F")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return snapshot_diff(orders, new, ["o_orderkey"])


@register(
    "rel_scd2_intervals",
    """
    WITH runs AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
      FROM runs),
    collapsed AS (
      SELECT user_id, run,
             min_by(event_type, ts) AS state,
             min(ts) AS valid_from
      FROM numbered GROUP BY user_id, run)
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to
    FROM collapsed
    """,
    "SCD2 history from a change log: consecutive identical states "
    "collapse into one validity interval (lag-change running sum -> run "
    "groupBy -> lead); ONE key shuffle shared by both windows",
)
def rel_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.joins import scd2_intervals

    events = _t(spark, sf_dir, "events")
    return scd2_intervals(events, "user_id", "event_type", tiebreak_col="event_id")


@register(
    "rel_attribution_last_touch",
    """
    WITH t AS (
      SELECT user_id, event_id, ts, event_type, value,
             max(CASE WHEN event_type = 'click' THEN event_id END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click
      FROM events)
    SELECT last_click AS click_event,
           count(*) AS n_purchases,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM t
    WHERE event_type = 'purchase' AND last_click IS NOT NULL
    GROUP BY last_click
    """,
    "last-touch attribution: each purchase credits the most recent "
    "preceding click — ONE key-partitioned running-max window (no self-"
    "join, no as-of shuffle pair), then a hash agg on the credited "
    "click; revenue in exact integer cents",
)
def rel_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = events.withColumn(
        "last_click",
        F.max(
            F.when(F.col("event_type") == "click", F.col("event_id"))
        ).over(w),
    )
    return (
        t.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click").isNotNull()
        )
        .groupBy(F.col("last_click").alias("click_event"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# j8_bloom_prune
# ---------------------------------------------------------------------------

_BLOOM_M = 8192  # bits

_BLOOM_K = 3  # hash functions

_BLOOM_SQL = """
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(3,2))
                             - CAST(l_discount AS DECIMAL(3,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal > 9000
    GROUP BY n_name
"""


@register(
    "j8_bloom_prune",
    _BLOOM_SQL,
    "Bloom-filter semi-join pruning (the runtime-filter pattern "
    "InjectRuntimeFilter applies to shuffle joins, built explicitly "
    "because bloom_filter_agg is not in the public registry): k=3 "
    "seeded xxhash64 positions per build-side key (suppliers with "
    "acctbal>9000; the hash family is engine-internal — the exact "
    "semi-join after the prune kills false positives), "
    "the m=8192-bit bitmap collected ONCE as KB driver metadata and "
    "shipped as a literal long[128] array, probe side pruned by a "
    "MAP-ONLY 3-bit test BEFORE the shuffle, then the exact semi-join "
    "kills false positives — the oracle is the plain join, proving "
    "prune transparency. At 100 TB the bit test drops most of the "
    "fact scan before any exchange",
)
def j8_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    nation = _t(spark, sf_dir, "nation")

    def positions(key):
        # k seeded xxhash64 positions: the hash family is Spark-internal
        # — the exact join below kills false positives, so results are
        # unchanged by construction for ANY family — and xxhash64 is a
        # codegen'd long-to-long hash, ~10× cheaper per probe-side row
        # than the md5+hex-conv form it replaces (r13; guide §4.1
        # "built-ins first"). Probe cost is what matters: this runs on
        # every fact row BEFORE the exchange.
        return [
            F.pmod(F.xxhash64(F.lit(i), key), F.lit(_BLOOM_M))
            for i in range(_BLOOM_K)
        ]

    # build: distinct bit positions of the (filtered) build side — a few
    # hundred rows collected as KB driver metadata, like a codebook
    pos_rows = (
        sup.select(
            F.explode(F.array(*positions(F.col("s_suppkey")))).alias("pos")
        )
        .distinct()
        .collect()
    )
    words = [0] * (_BLOOM_M // 64)
    for r in pos_rows:
        p = int(r["pos"])
        words[p // 64] |= 1 << (p % 64)
    # two's-complement into signed int64 literals
    lits = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    arr_sql = "array(" + ",".join(f"{w}L" for w in lits) + ")"

    # map-only prune: forall over the row's k positions, each a word
    # lookup + shift in the literal bitmap (shiftright needs column
    # shift amounts, so the test lives in a SQL lambda)
    pruned = (
        li.withColumn("_bp", F.array(*positions(F.col("l_suppkey"))))
        .filter(
            F.expr(
                f"forall(_bp, p -> (shiftright(element_at({arr_sql},"
                " cast(p / 64 as int) + 1), cast(p % 64 as int))"
                " & 1) = 1)"
            )
        )
        .drop("_bp")
    )

    joined = (
        pruned.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            pruned["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(F.sum(rev_col()), 2).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# rel_attribution_linear
# ---------------------------------------------------------------------------

_ATTR_SQL = """
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts,
             CAST(round(value * 100, 0) AS BIGINT) AS rev_cents
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, event_id AS click_id, ts
      FROM events WHERE event_type = 'click'),
    np AS (
      SELECT p.user_id, p.purchase_id, p.ts, p.rev_cents,
             count(*) AS n_clicks
      FROM p JOIN c ON p.user_id = c.user_id AND c.ts < p.ts
      GROUP BY 1, 2, 3, 4)
    SELECT c.click_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(1000000 // np.n_clicks) AS BIGINT) AS credit_micro,
           CAST(sum(np.rev_cents // np.n_clicks) AS BIGINT)
             AS attributed_cents
    FROM np JOIN c ON np.user_id = c.user_id AND c.ts < np.ts
    GROUP BY c.click_id
"""


@register(
    "rel_attribution_linear",
    _ATTR_SQL,
    "linear multi-touch attribution: every click preceding a purchase "
    "shares the credit equally — the standard alternative to the "
    "last-touch winner-takes-all already in the engine "
    "(rel_attribution_last_touch). Credit and revenue shares are EXACT "
    "integer floor-division micro-shares (1e6//n, cents//n), so sums "
    "are partitioning-independent. Shape: both click->purchase "
    "correlations are USER-KEYED joins (bounded per-user fan-out, "
    "shuffle on user_id reused), one purchase-level agg, one "
    "click-level agg",
)
def rel_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("rev_cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    np_ = (
        p.join(c, "user_id")
        .filter(F.col("c_ts") < F.col("p_ts"))
        .groupBy("user_id", "purchase_id", "p_ts", "rev_cents")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    return (
        np_.join(c, "user_id")
        .filter(F.col("c_ts") < F.col("p_ts"))
        .groupBy("click_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.expr("1000000 div n_clicks")).cast("bigint").alias(
                "credit_micro"
            ),
            F.sum(F.expr("rev_cents div n_clicks")).cast("bigint").alias(
                "attributed_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# j9_interval_overlap
# ---------------------------------------------------------------------------

_IVO_SQL = """
    WITH ev AS (
      SELECT user_id, ts, epoch_us(ts) AS x FROM events),
    o AS (
      SELECT user_id, ts, x,
             CASE WHEN lag(x) OVER w IS NULL
                    OR x - lag(x) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    g AS (
      SELECT user_id, x,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY x
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
    sess AS (
      SELECT user_id, sid, min(x) AS s0, max(x) AS s1
      FROM g GROUP BY 1, 2),
    chopped AS (
      SELECT user_id, sid, s0, s1,
             unnest(range(s0 // 86400000000, s1 // 86400000000 + 1))
               AS day_id
      FROM sess),
    win AS (
      SELECT day_id,
             day_id * 86400000000 + 9 * 3600000000 AS w0,
             day_id * 86400000000 + 17 * 3600000000 AS w1
      FROM (SELECT DISTINCT day_id FROM chopped) d),
    ov AS (
      SELECT c.user_id, c.sid,
             greatest(0, least(c.s1, w.w1) - greatest(c.s0, w.w0))
               AS ov_us
      FROM chopped c JOIN win w ON c.day_id = w.day_id)
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           CAST(sum(CASE WHEN ov_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_windows,
           CAST(sum(ov_us) // 1000000 AS BIGINT) AS overlap_secs
    FROM ov GROUP BY 1, 2
"""


@register(
    "j9_interval_overlap",
    _IVO_SQL,
    "interval-overlap join: 30-min-gap sessions x daily business-hour "
    "(9-17) windows, the campaign/maintenance-window overlap report. "
    "Scale shape: each session CHOPS to the day buckets it spans "
    "(bounded fan-out: days per session), the join is an EQUI-join on "
    "day_id — the bucketed form of the interval-interval join that "
    "would otherwise be a non-equi nested loop over all window pairs. "
    "Overlaps are exact integer microseconds (greatest/least on "
    "epoch-us), floor-divided to whole seconds",
)
def j9_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", F.unix_micros("ts").alias("x")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    o = ev.withColumn(
        "new_s",
        F.when(
            F.lag("x").over(w).isNull()
            | (F.col("x") - F.lag("x").over(w) >= 1800000000),
            1,
        ).otherwise(0),
    )
    g = o.withColumn(
        "sid",
        F.sum("new_s").over(
            Window.partitionBy("user_id")
            .orderBy("x")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sess = g.groupBy("user_id", "sid").agg(
        F.min("x").alias("s0"), F.max("x").alias("s1")
    )
    chopped = sess.withColumn(
        "day_id",
        F.explode(
            F.sequence(
                F.expr("s0 div 86400000000"), F.expr("s1 div 86400000000")
            )
        ),
    )
    win = chopped.select("day_id").distinct().select(
        "day_id",
        (F.col("day_id") * 86400000000 + 9 * 3600000000).alias("w0"),
        (F.col("day_id") * 86400000000 + 17 * 3600000000).alias("w1"),
    )
    ov = chopped.join(win, "day_id").select(
        "user_id",
        "sid",
        F.greatest(
            F.lit(0),
            F.least(F.col("s1"), F.col("w1"))
            - F.greatest(F.col("s0"), F.col("w0")),
        ).alias("ov_us"),
    )
    return ov.groupBy(
        "user_id", F.col("sid").cast("bigint").alias("session_id")
    ).agg(
        F.sum(F.when(F.col("ov_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_windows"),
        F.expr("CAST(sum(ov_us) div 1000000 AS BIGINT)").alias(
            "overlap_secs"
        ),
    )


# ---------------------------------------------------------------------------
# rel_item_cooccurrence
# ---------------------------------------------------------------------------

_COOC_SQL = """
    WITH b AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    n AS (SELECT count(DISTINCT ok) AS n_baskets FROM b),
    ic AS MATERIALIZED (
      SELECT pk, count(*) AS c FROM b GROUP BY pk),
    pc AS (
      SELECT b1.pk AS p1, b2.pk AS p2, count(*) AS c12
      FROM b b1 JOIN b b2 ON b1.ok = b2.ok AND b1.pk < b2.pk
      GROUP BY b1.pk, b2.pk)
    SELECT pc.p1, pc.p2,
           CAST(pc.c12 AS BIGINT) AS c12,
           CAST(i1.c AS BIGINT) AS c1,
           CAST(i2.c AS BIGINT) AS c2,
           CAST((CAST(pc.c12 AS BIGINT) * n.n_baskets * 1000000)
                // (i1.c * i2.c) AS BIGINT) AS lift_micro
    FROM pc
    JOIN ic i1 ON i1.pk = pc.p1
    JOIN ic i2 ON i2.pk = pc.p2
    CROSS JOIN n
    WHERE pc.c12 >= 2
"""


@register(
    "rel_item_cooccurrence",
    _COOC_SQL,
    "market-basket co-occurrence with lift (basket = order, item = "
    "part): pair counts from ONE basket self-join keyed on the order "
    "(per-basket fan-out is C(items,2), bounded by basket size — never "
    "an item-item cross), item supports from one hash agg, lift as the "
    "exact integer floor-division micro-unit c12*N*1e6 div (c1*c2). "
    "The min-support gate (c12 >= 2) is applied post-agg, the standard "
    "a-priori prune point; the basket-count scalar is a 1-row "
    "broadcast. This is the item-item recommender / association-rule "
    "input matrix",
)
def rel_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n = b.agg(F.countDistinct("ok").alias("n_baskets"))
    ic = b.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    b2 = b.select(F.col("ok"), F.col("pk").alias("pk2"))
    pc = (
        b.join(b2, "ok")
        .filter(F.col("pk") < F.col("pk2"))
        .groupBy(F.col("pk").alias("p1"), F.col("pk2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 2)
    )
    return (
        pc.join(
            F.broadcast(ic.select(F.col("pk").alias("p1"), F.col("c").alias("c1"))),
            "p1",
        )
        .join(
            F.broadcast(ic.select(F.col("pk").alias("p2"), F.col("c").alias("c2"))),
            "p2",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            F.col("c12").cast("bigint").alias("c12"),
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            F.expr(
                "CAST((CAST(c12 AS BIGINT) * n_baskets * 1000000)"
                " div (c1 * c2) AS BIGINT)"
            ).alias("lift_micro"),
        )
    )


# ---------------------------------------------------------------------------
# rel_markov_transitions
# ---------------------------------------------------------------------------

_MARKOV_SQL = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS x, event_id
      FROM events),
    hops AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER w AS to_type,
             lead(x) OVER w - x AS gap_us
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY x, event_id)),
    t AS (
      SELECT from_type, to_type, count(*) AS n
      FROM hops
      WHERE to_type IS NOT NULL AND gap_us < 1800000000
      GROUP BY 1, 2),
    f AS (SELECT from_type, sum(n) AS nf FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type,
           CAST(t.n AS BIGINT) AS n,
           CAST(t.n * 1000000 // f.nf AS BIGINT) AS p_micro
    FROM t JOIN f ON t.from_type = f.from_type
"""


@register(
    "rel_markov_transitions",
    _MARKOV_SQL,
    "first-order Markov transition matrix of event types within "
    "30-minute sessions — consecutive same-user events closer than "
    "the session gap become (from -> to) transitions, row-normalized "
    "to floor-division micro-probabilities; the clickstream model "
    "behind next-action prediction and funnel simulation. Shape: ONE "
    "user-partitioned lead window (total order on ts+event_id), one "
    "|types|^2 hash agg, one broadcast row-total join — the fact "
    "table is scanned once",
)
def rel_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("x"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("x", "event_id")
    hops = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
        (F.lead("x").over(w) - F.col("x")).alias("gap_us"),
    )
    t = (
        hops.filter(
            F.col("to_type").isNotNull() & (F.col("gap_us") < 1800000000)
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    f = t.groupBy("from_type").agg(F.sum("n").alias("nf"))
    return t.join(F.broadcast(f), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(n * 1000000 div nf AS BIGINT)").alias("p_micro"),
    )


# ---------------------------------------------------------------------------
# rel_gaps_islands
# ---------------------------------------------------------------------------

_ISLANDS_SQL = """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id
      FROM events),
    grp AS (
      SELECT user_id, day_id,
             day_id - dense_rank() OVER (PARTITION BY user_id
                                         ORDER BY day_id) AS island_key
      FROM days)
    SELECT user_id,
           CAST(min(day_id) AS BIGINT) AS start_day,
           CAST(max(day_id) AS BIGINT) AS end_day,
           CAST(count(*) AS BIGINT) AS n_days
    FROM grp GROUP BY user_id, island_key
"""


@register(
    "rel_gaps_islands",
    _ISLANDS_SQL,
    "gaps-and-islands: maximal runs of CONSECUTIVE active days per "
    "user via the classic day - dense_rank constant-difference trick "
    "(consecutive days share the difference, a gap breaks it) — the "
    "activity-streak / missing-range detector. Shape: one distinct to "
    "the (user, day) dim, one user-partitioned rank window, one hash "
    "agg on the derived island key; the fact table is scanned once "
    "and every window partitions by user",
)
def rel_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias(
            "day_id"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_id")
    grp = days.withColumn(
        "island_key", F.col("day_id") - F.dense_rank().over(w)
    )
    return grp.groupBy("user_id", "island_key").agg(
        F.min("day_id").cast("bigint").alias("start_day"),
        F.max("day_id").cast("bigint").alias("end_day"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    ).drop("island_key")


# ---------------------------------------------------------------------------
# rel_hierarchy_rollup
# ---------------------------------------------------------------------------

_BOM_SQL = """
    WITH leaves AS (
      SELECT p_partkey AS pk,
             CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents
      FROM part),
    anc AS (
      SELECT pk, cents, unnest([
        pk, pk // 10, pk // 100
      ]) AS ancestor, unnest([0, 1, 2]) AS level
      FROM leaves)
    SELECT CAST(ancestor AS BIGINT) AS node_id,
           CAST(level AS INT) AS level,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM anc GROUP BY ancestor, level
"""


@register(
    "rel_hierarchy_rollup",
    _BOM_SQL,
    "3-level hierarchy rollup (leaf part -> parent -> grandparent via "
    "integer key division, the synthetic BOM/org chart): every node "
    "aggregates its whole subtree by exploding each leaf to its "
    "bounded ancestor list (depth 3) and hash-aggregating on "
    "(ancestor, level) — the recursion-free rollup pattern that "
    "replaces a transitive-closure join at any scale (fan-out = tree "
    "depth, a constant). All exact integer cents",
)
def rel_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    leaves = part.select(
        F.col("p_partkey").alias("pk"),
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    anc = leaves.select(
        "cents",
        F.posexplode(
            F.array(F.col("pk"), F.expr("pk div 10"), F.expr("pk div 100"))
        ).alias("level", "ancestor"),
    )
    return anc.groupBy("ancestor", "level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    ).select(
        F.col("ancestor").cast("bigint").alias("node_id"),
        F.col("level").cast("int").alias("level"),
        "n_parts",
        "total_cents",
    )


# ---------------------------------------------------------------------------
# rel_dow_hour_matrix
# ---------------------------------------------------------------------------

_DOW_SQL = """
    SELECT CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS INT) AS dow,
           CAST((epoch_us(ts) % 86400000000) // 3600000000 AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events GROUP BY 1, 2
"""


@register(
    "rel_dow_hour_matrix",
    _DOW_SQL,
    "day-of-week x hour-of-day activity matrix (counts + revenue "
    "cents) — the calendar heatmap behind staffing/traffic reports. "
    "The dow is ENGINE-NEUTRAL integer arithmetic ((epoch_days + 3) "
    "mod 7, 0 = Monday, anchored on 1970-01-01 being a Thursday) — "
    "deliberately NOT dayofweek(), whose 0/1-origin and week-start "
    "conventions differ across engines. ONE hash agg on a 7x24 "
    "bounded key space; map-side combine makes it shuffle-light at "
    "any scale",
)
def rel_dow_hour_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.expr(
            "CAST((unix_micros(ts) div 86400000000 + 3) % 7 AS INT)"
        ).alias("dow"),
        F.expr(
            "CAST((unix_micros(ts) % 86400000000) div 3600000000 AS INT)"
        ).alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


# ---------------------------------------------------------------------------
# rel_fifo_match
# ---------------------------------------------------------------------------

_FIFO_SQL = """
    WITH flows AS (
      -- pre-aggregate to (pk, shipdate, ok, ln, side): the synthetic
      -- lineitem repeats (orderkey, linenumber), and the FIFO windows
      -- need a TOTAL order — merged flows make (shipdate, ok, ln)
      -- unique per (pk, side) by construction
      SELECT l_partkey AS pk, l_orderkey AS ok, l_linenumber AS ln,
             l_shipdate,
             CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
               AS qty,
             l_linenumber % 2 = 1 AS is_in
      FROM lineitem
      GROUP BY l_partkey, l_orderkey, l_linenumber, l_shipdate,
               l_linenumber % 2 = 1),
    inx AS (
      SELECT pk, ok, ln, qty,
             sum(qty) OVER w AS cum,
             sum(qty) OVER w - qty AS cum_prev
      FROM flows WHERE is_in
      WINDOW w AS (PARTITION BY pk ORDER BY l_shipdate, ok, ln
                   ROWS UNBOUNDED PRECEDING)),
    outx AS (
      SELECT pk, ok, ln, qty,
             sum(qty) OVER w AS cum,
             sum(qty) OVER w - qty AS cum_prev
      FROM flows WHERE NOT is_in
      WINDOW w AS (PARTITION BY pk ORDER BY l_shipdate, ok, ln
                   ROWS UNBOUNDED PRECEDING))
    SELECT i.pk AS l_partkey,
           i.ok AS in_order, CAST(i.ln AS INT) AS in_line,
           o.ok AS out_order, CAST(o.ln AS INT) AS out_line,
           CAST(least(i.cum, o.cum) - greatest(i.cum_prev, o.cum_prev)
                AS BIGINT) AS matched_qty
    FROM inx i JOIN outx o
      ON i.pk = o.pk AND i.cum > o.cum_prev AND o.cum > i.cum_prev
"""


@register(
    "rel_fifo_match",
    _FIFO_SQL,
    "FIFO flow matching (inventory/cost allocation) WITHOUT loops or "
    "state: inflows and outflows per part each get cumulative-"
    "quantity intervals [cum-qty, cum) from partitioned prefix "
    "windows, and inflow i supplies outflow j exactly where the "
    "intervals OVERLAP — matched = min(cums) - max(prevs), the "
    "prefix-sum formulation of first-in-first-out. The join is "
    "part-keyed with per-part bounded fan-out (a flow matches only "
    "the flows its interval touches). All exact integer quantities",
)
def rel_fifo_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # pre-aggregate to (pk, shipdate, ok, ln, side): the synthetic
    # lineitem repeats (orderkey, linenumber), and the FIFO windows need
    # a TOTAL order — merged flows make the order key unique
    flows = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        "l_shipdate",
        (F.col("l_linenumber") % 2 == 1).alias("is_in"),
    ).agg(
        F.sum(F.round("l_quantity", 0).cast("bigint"))
        .cast("bigint")
        .alias("qty")
    )
    w = (
        Window.partitionBy("pk")
        .orderBy("l_shipdate", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def cums(df):
        return df.select(
            "pk",
            "ok",
            "ln",
            F.sum("qty").over(w).alias("cum"),
            (F.sum("qty").over(w) - F.col("qty")).alias("cum_prev"),
        )

    inx = cums(flows.filter(F.col("is_in")))
    outx = cums(flows.filter(~F.col("is_in"))).select(
        F.col("pk"),
        F.col("ok").alias("out_ok"),
        F.col("ln").alias("out_ln"),
        F.col("cum").alias("ocum"),
        F.col("cum_prev").alias("ocum_prev"),
    )
    return (
        inx.join(outx, "pk")
        .filter(
            (F.col("cum") > F.col("ocum_prev"))
            & (F.col("ocum") > F.col("cum_prev"))
        )
        .select(
            F.col("pk").alias("l_partkey"),
            F.col("ok").alias("in_order"),
            F.col("ln").cast("int").alias("in_line"),
            F.col("out_ok").alias("out_order"),
            F.col("out_ln").cast("int").alias("out_line"),
            (
                F.least(F.col("cum"), F.col("ocum"))
                - F.greatest(F.col("cum_prev"), F.col("ocum_prev"))
            )
            .cast("bigint")
            .alias("matched_qty"),
        )
    )


# ---------------------------------------------------------------------------
# rel_pareto_abc
# ---------------------------------------------------------------------------

_ABC_SQL = """
    WITH rev AS (
      SELECT c.c_nationkey AS nation, c.c_custkey AS ck,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT nation, ck, cents,
             sum(cents) OVER (PARTITION BY nation
                              ORDER BY cents DESC, ck
                              ROWS UNBOUNDED PRECEDING) - cents
               AS cum_prev,
             sum(cents) OVER (PARTITION BY nation) AS total
      FROM rev),
    classed AS (
      -- cross-multiply in DECIMAL(38,0): per-nation cents totals at
      -- 100 TB approach 1e17, so x100 in BIGINT would brush int64 max
      -- (Spark wraps silently; r5 advisor) — decimal is wrap-proof
      SELECT nation, ck, cents,
             CASE WHEN CAST(cum_prev AS DECIMAL(38,0)) * 100
                       < 80 * CAST(total AS DECIMAL(38,0)) THEN 'A'
                  WHEN CAST(cum_prev AS DECIMAL(38,0)) * 100
                       < 95 * CAST(total AS DECIMAL(38,0)) THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked)
    SELECT CAST(nation AS INT) AS nation, abc,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS class_cents
    FROM classed GROUP BY nation, abc
"""


@register(
    "rel_pareto_abc",
    _ABC_SQL,
    "ABC/Pareto classification per nation: customers ranked by "
    "revenue, class A covers the first 80% of revenue, B to 95%, C "
    "the tail (the customer crossing a line belongs to the upper "
    "class — cum_prev comparison). Thresholds are EXACT integer "
    "cross-multiplications (cum*100 vs pct*total) with a total "
    "(revenue desc, custkey) order, so class membership is "
    "bit-deterministic. Shape: one join-agg to the customer dim, "
    "nation-partitioned prefix windows over it, one class agg",
)
def rel_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    rev = (
        cust.join(
            orders, cust["c_custkey"] == orders["o_custkey"]
        )
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_custkey").alias("ck"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    wc = (
        Window.partitionBy("nation")
        .orderBy(F.desc("cents"), "ck")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = rev.select(
        "nation",
        "ck",
        "cents",
        (F.sum("cents").over(wc) - F.col("cents")).alias("cum_prev"),
        F.sum("cents").over(Window.partitionBy("nation")).alias("total"),
    )
    # cross-multiply in decimal(38,0): per-nation cents totals at 100 TB
    # approach 1e17, so x100 in bigint would brush int64 max and Spark
    # wraps silently (r5 advisor) — decimal is wrap-proof
    cum_d = F.col("cum_prev").cast("decimal(38,0)")
    tot_d = F.col("total").cast("decimal(38,0)")
    classed = ranked.select(
        "nation",
        "cents",
        F.when(cum_d * 100 < tot_d * 80, "A")
        .when(cum_d * 100 < tot_d * 95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return classed.groupBy(
        F.col("nation").cast("int").alias("nation"), "abc"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("class_cents"),
    )


# ---------------------------------------------------------------------------
# j11_bucketed_join
# ---------------------------------------------------------------------------

_BUCKETS = 8

_BUCKETED_SQL = """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
"""


@register(
    "j11_bucketed_join",
    _BUCKETED_SQL,
    "bucketed co-located join — the layout primitive that removes the "
    "join shuffle entirely: orders and customers are written "
    "bucketBy(8, custkey) + sortBy into warehouse tables, read back, "
    "and joined bucket-to-bucket (no Exchange on either join input; "
    "tests/test_r19_ops.py asserts it from the physical plan). At "
    "100 TB this is the difference between re-shuffling the fact "
    "table on every join and paying the layout cost ONCE at write "
    "time — the same contract as Hive bucketing / Iceberg bucket "
    "partition transforms. Results are identical to the plain join "
    "(the oracle); only the plan differs",
)
def j11_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    # idempotent rewrite: a stale warehouse dir from a previous session
    # (no longer registered in this session's catalog) blocks
    # saveAsTable with LOCATION_ALREADY_EXISTS — drop both the catalog
    # entry and the directory before writing. The directory is removed
    # through the Hadoop FileSystem API resolved from the warehouse URI,
    # so the cleanup applies on ANY warehouse scheme (file:, s3a:,
    # hdfs:), not just the local filesystem, and a failed delete raises
    # instead of silently leaving the blocking dir (r5 advisor).
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for tbl in ("j11_orders_bucketed", "j11_customer_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        loc = jvm.org.apache.hadoop.fs.Path(warehouse.rstrip("/") + "/" + tbl)
        fs = loc.getFileSystem(hconf)
        if fs.exists(loc) and not fs.delete(loc, True):
            raise RuntimeError(
                f"could not remove stale managed-table location {loc}; "
                "saveAsTable would fail with LOCATION_ALREADY_EXISTS"
            )
    (
        orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
        .write.bucketBy(_BUCKETS, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable("j11_orders_bucketed")
    )
    (
        cust.select("c_custkey", "c_mktsegment")
        .write.bucketBy(_BUCKETS, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable("j11_customer_bucketed")
    )
    ob = spark.table("j11_orders_bucketed")
    cb = spark.table("j11_customer_bucketed")
    return (
        cb.join(ob, cb["c_custkey"] == ob["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# j12_asof_join
# ---------------------------------------------------------------------------

_ASOF_SQL = """
    WITH l AS (
      SELECT event_id, user_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'view'),
    r AS (
      SELECT user_id, epoch_us(ts) AS t,
             max(CAST(round(value * 100, 0) AS BIGINT)) AS rv
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2)
    SELECT l.event_id,
           CAST(l.t AS BIGINT) AS t_micros,
           CAST(coalesce(r.rv, -1) AS BIGINT) AS asof_cents,
           CAST(coalesce(l.t - r.t, -1) AS BIGINT) AS lag_micros
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t >= r.t
"""


@register(
    "j12_asof_join",
    _ASOF_SQL,
    "as-of (point-in-time) join: every 'view' event enriched with the "
    "latest same-user 'purchase' cents at or before its timestamp — "
    "the feature-store / market-data temporal join, driven through "
    "the library operator (operators/joins.asof_join: union-tag + ONE "
    "per-key carry window, no range-join explosion; right side "
    "pre-aggregated per (user, ts) so the carry is deterministic). "
    "What this query adds over the j5 family is the ORACLE: DuckDB's "
    "NATIVE ASOF LEFT JOIN cross-validates the union+carry "
    "formulation against an independent engine implementation of the "
    "same semantics",
)
def j12_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    t = F.unix_micros("ts")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    left = ev.filter(F.col("event_type") == "view").select(
        "user_id", t.alias("t"), F.col("event_id")
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", t.alias("t"), cents.alias("rv"))
        .groupBy("user_id", "t")
        .agg(F.max("rv").alias("rv"))
    )
    joined = asof_join(left, right, on=["user_id"], ts="t")
    return joined.select(
        "event_id",
        F.col("t").cast("bigint").alias("t_micros"),
        F.coalesce("r_rv", F.lit(-1)).cast("bigint").alias("asof_cents"),
        F.coalesce(F.col("t") - F.col("r_t"), F.lit(-1))
        .cast("bigint")
        .alias("lag_micros"),
    )


# ---------------------------------------------------------------------------
# rel_max_concurrency
# ---------------------------------------------------------------------------

_CONC_SQL = """
    WITH iv AS (
      SELECT epoch_us(ts) AS s,
             epoch_us(ts) + CAST(round(value * 1000000, 0) AS BIGINT) AS e
      FROM events),
    pts AS (
      SELECT s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT e AS t, -1 AS d FROM iv),
    net AS (SELECT t, sum(d) AS net FROM pts GROUP BY t),
    run AS (
      SELECT t, sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS conc
      FROM net),
    mx AS (SELECT max(conc) AS cmax FROM run)
    SELECT CAST(cmax AS BIGINT) AS max_concurrency,
           CAST(min(t) AS BIGINT) AS at_micros,
           (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_intervals
    FROM run, mx WHERE conc = cmax GROUP BY cmax
"""

_CONC_BUCKET_US = 3_600_000_000  # 1 hour


@register(
    "rel_max_concurrency",
    _CONC_SQL,
    "sweep-line max concurrent intervals ([start, start+value-seconds) "
    "per event) — the capacity-planning primitive. Deltas aggregate "
    "per distinct timestamp first (end-exclusive: -1 and +1 at one "
    "instant net out), then the prefix sum runs TWO-PHASE: an "
    "hour-bucket-partitioned running sum plus a tiny prefix over "
    "per-bucket totals (bucket count is bounded by the time span, "
    "never by row count), so no global single-partition window "
    "touches corpus-scale data. Peak tie-break = earliest instant. "
    "Oracle runs the plain global-window form — identical arithmetic",
)
def rel_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    e = s + F.round(F.col("value") * 1_000_000, 0).cast("bigint")
    iv = ev.select(s.alias("s"), e.alias("e"))
    pts = iv.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionByName(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    net = pts.groupBy("t").agg(F.sum("d").alias("net"))
    bucketed = net.withColumn(
        "b", F.expr(f"t div {_CONC_BUCKET_US}")
    )
    win_in = (
        Window.partitionBy("b")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inb = bucketed.withColumn("wsum", F.sum("net").over(win_in))
    # per-bucket totals: rows = number of hours in the span (driver-
    # bounded dim, NOT corpus-sized) — the one global window runs here
    btot = bucketed.groupBy("b").agg(F.sum("net").alias("bt"))
    win_b = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = btot.withColumn(
        "off", F.coalesce(F.sum("bt").over(win_b), F.lit(0))
    ).select("b", "off")
    conc = inb.join(F.broadcast(boff), "b").select(
        "t", (F.col("off") + F.col("wsum")).alias("conc")
    )
    mx = conc.agg(F.max("conc").alias("cmax"))
    n_iv = iv.count()
    return (
        conc.join(F.broadcast(mx), conc["conc"] == mx["cmax"])
        .groupBy("cmax")
        .agg(F.min("t").alias("at"))
        .select(
            F.col("cmax").cast("bigint").alias("max_concurrency"),
            F.col("at").cast("bigint").alias("at_micros"),
            F.lit(n_iv).cast("bigint").alias("n_intervals"),
        )
    )


# ---------------------------------------------------------------------------
# rel_event_pattern_match
# ---------------------------------------------------------------------------

_SEQ_SQL = """
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id) AS seq
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST(length(regexp_extract_all(seq, 'vcp')) AS BIGINT) AS n_vcp,
           CAST(length(regexp_extract_all(seq, 'vp')) AS BIGINT) AS n_vp,
           CAST(CASE WHEN length(regexp_extract_all(seq, 'vcp')) > 0
                     THEN 1 ELSE 0 END AS INT) AS has_funnel
    FROM seqs
"""


@register(
    "rel_event_pattern_match",
    _SEQ_SQL,
    "MATCH_RECOGNIZE-style sequence detection: each user's event stream "
    "collapses to an initials string in (ts, event_id) total order "
    "(v=view c=click p=purchase ...), and the funnel patterns 'vcp' / "
    "'vp' are counted by non-overlapping regexp scan — identical "
    "left-to-right semantics in Java regex and RE2. Shape: ONE "
    "user-keyed sort_array(collect_list) agg (no window), then "
    "map-only pattern counts; per-user sequences are bounded by "
    "session length at corpus scale, never by corpus size",
)
def rel_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("t"),
                F.col("event_id").alias("eid"),
                F.substring("event_type", 1, 1).alias("i"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("s")), lambda x: x["i"]
                ),
                "",
            ).alias("seq")
        )
    )
    n_vcp = F.expr("regexp_count(seq, 'vcp')").cast("bigint")
    return seqs.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        n_vcp.alias("n_vcp"),
        F.expr("regexp_count(seq, 'vp')").cast("bigint").alias("n_vp"),
        F.when(n_vcp > 0, 1).otherwise(0).cast("int").alias("has_funnel"),
    )


# ---------------------------------------------------------------------------
# j13_dpp_join
# ---------------------------------------------------------------------------

_DPP_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    WHERE event_type IN ('view', 'purchase')
    GROUP BY event_type
"""


@register(
    "j13_dpp_join",
    _DPP_SQL,
    "dynamic partition pruning: events written PARTITIONED BY "
    "(event_type) into the warehouse, then joined to a dim filtered to "
    "2 of 5 types — Spark injects a dynamicpruning subquery into the "
    "fact scan's PartitionFilters, so the 3 unselected partitions are "
    "never read (tests/test_r26_ops.py asserts it from the physical "
    "plan). At 100 TB this is the standard star-schema accelerator: "
    "the dim filter prunes fact IO at PLANNING-result time instead of "
    "scanning everything into the join. Results = the plain filtered "
    "aggregate (the oracle); only the scan differs. Same stale-dir "
    "Hadoop-FS cleanup discipline as j11 — and the same SINGLE-WRITER "
    "assumption: the managed table name is fixed, so two concurrent "
    "SESSIONS running this query race on the warehouse dir (the "
    "driver's serial gate never does; don't run two local gates at "
    "once — measured as a chmod-on-missing-temp-file task failure "
    "when pytest and verify_oracle overlapped, r10)",
)
def j13_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    tbl = "j13_events_part"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    loc = jvm.org.apache.hadoop.fs.Path(warehouse.rstrip("/") + "/" + tbl)
    fs = loc.getFileSystem(hconf)
    if fs.exists(loc) and not fs.delete(loc, True):
        raise RuntimeError(
            f"could not remove stale managed-table location {loc}"
        )
    (
        ev.select(
            "event_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            "event_type",
        )
        .write.partitionBy("event_type")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(tbl)
    )
    fact = spark.table(tbl)
    dim = (
        ev.select("event_type")
        .distinct()
        .filter(F.col("event_type").isin("view", "purchase"))
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# rel_retention_cohorts
# ---------------------------------------------------------------------------

_RETENTION_SQL = """
    WITH uw AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 // 7 AS w
      FROM events),
    coh AS MATERIALIZED (
      SELECT user_id, min(w) AS c FROM uw GROUP BY user_id),
    sizes AS (
      SELECT c, count(*) AS cohort_size FROM coh GROUP BY c),
    act AS (
      SELECT coh.c, uw.w - coh.c AS off, count(*) AS n_active
      FROM uw JOIN coh ON uw.user_id = coh.user_id
      GROUP BY 1, 2)
    SELECT CAST(act.c AS BIGINT) AS cohort_week,
           CAST(off AS INT) AS week_offset,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(cohort_size AS BIGINT) AS cohort_size,
           CAST(n_active * 1000000 // cohort_size AS BIGINT)
             AS retention_micro
    FROM act JOIN sizes ON act.c = sizes.c
"""


@register(
    "rel_retention_cohorts",
    _RETENTION_SQL,
    "weekly cohort retention triangle: cohort = epoch-week of a user's "
    "FIRST event, n_active = distinct users of that cohort active in "
    "cohort+k, retention in exact integer micro-rate. Shape: one "
    "distinct (user, week) agg, one per-user min (both hash aggs, "
    "map-side combinable), one user-keyed join back, one (cohort, "
    "offset) agg + a cohort-dim join — no window anywhere, every "
    "shuffle on a bounded-cardinality key. Week index is epoch-days "
    "div 7 (positive domain; the floor/truncate engines agree — "
    "pre-1970 data would need the subtract-pmod form of "
    "ts_seasonal_naive)",
)
def rel_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000 div 7").alias("w"),
    ).distinct()
    coh = uw.groupBy("user_id").agg(F.min("w").alias("c"))
    sizes = coh.groupBy("c").agg(F.count(F.lit(1)).alias("cohort_size"))
    act = (
        uw.join(coh, "user_id")
        .groupBy("c", (F.col("w") - F.col("c")).alias("off"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return act.join(sizes, "c").select(
        F.col("c").cast("bigint").alias("cohort_week"),
        F.col("off").cast("int").alias("week_offset"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.expr("CAST(n_active * 1000000 div cohort_size AS BIGINT)").alias(
            "retention_micro"
        ),
    )


# ---------------------------------------------------------------------------
# rel_funnel_conversion
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
    WITH v AS MATERIALIZED (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS MATERIALIZED (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS MATERIALIZED (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id),
    n AS (
      SELECT 1 AS step, 'view' AS stage, count(*) AS n_users FROM v
      UNION ALL
      SELECT 2, 'click', count(*) FROM c
      UNION ALL
      SELECT 3, 'purchase', count(*) FROM p)
    SELECT CAST(step AS INT) AS step, stage,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(CASE WHEN step = 1 THEN 1000000
                     WHEN lag(n_users) OVER (ORDER BY step) = 0 THEN 0
                     ELSE n_users * 1000000
                          // lag(n_users) OVER (ORDER BY step)
                END AS BIGINT) AS conv_from_prev_micro
    FROM n
"""


@register(
    "rel_funnel_conversion",
    _FUNNEL_SQL,
    "strictly-ordered behavioral funnel view -> click -> purchase: a "
    "user advances to a stage only with an event AT OR AFTER their "
    "first qualifying event of the previous stage (first-touch "
    "semantics — pattern existence is rel_event_pattern_match's job). "
    "Shape: three per-user min-ts hash aggs chained by user-keyed "
    "joins (each stage's frame shrinks monotonically), then a 3-row "
    "summary with exact integer step conversion; the only window runs "
    "over exactly 3 rows",
)
def rel_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # each stage dim feeds the next stage's join AND its own count —
    # uncheckpointed, v's events scan+agg ran 3x (via c's two uses) and
    # c's twice; materialize the per-user stage dims once each
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint()
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint()
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _count(df: DataFrame, step: int, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(stage).alias("stage"), "n_users"
        )

    n = (
        _count(v, 1, "view")
        .unionByName(_count(c, 2, "click"))
        .unionByName(_count(p, 3, "purchase"))
    )
    w = Window.orderBy("step")  # 3 rows by construction
    return n.select(
        F.col("step").cast("int").alias("step"),
        "stage",
        "n_users",
        F.when(F.col("step") == 1, F.lit(1000000).cast("bigint"))
        .when(F.lag("n_users").over(w) == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.expr(
                "CAST(n_users * 1000000 div lag(n_users)"
                " OVER (ORDER BY step) AS BIGINT)"
            )
        )
        .alias("conv_from_prev_micro"),
    )


# ---------------------------------------------------------------------------
# exact global rank WITHOUT a single-partition window (shared by
# ml_lift_gains and rel_rfm_segments)
# ---------------------------------------------------------------------------


def _exact_rank(
    df: DataFrame, val: str, tie: str, desc: bool = False
) -> DataFrame:
    """Add ``_rn``: the 1-based global rank under (val, tie) total order,
    computed scale-safely — hash-agg to the distinct-``val`` dim, an
    EXCLUSIVE prefix over that dim (window over |distinct values| rows),
    then row_number partitioned BY ``val`` (each partition is one tie
    group). The fact relation is never sorted globally and no
    single-partition window exists; this is the cumulative-dim pattern
    of agg_percentile_exact extended with in-value tie-breaking."""
    dim = df.groupBy(val).agg(F.count(F.lit(1)).alias("_c"))
    order = F.col(val).desc() if desc else F.col(val).asc()
    wdim = Window.orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = dim.select(
        val, F.coalesce(F.sum("_c").over(wdim), F.lit(0)).alias("_off")
    )
    win = Window.partitionBy(val).orderBy(tie)
    return (
        df.join(off, val)
        .withColumn("_rn", F.col("_off") + F.row_number().over(win))
        .drop("_off")
    )


def _exact_rank_banded(
    df: DataFrame, val: str, tie: str, desc: bool = False, bands: int = 1024
) -> DataFrame:
    """``_exact_rank`` for NEAR-UNIQUE integer metrics: when the distinct
    ``val`` dim is ~|rows| (e.g. per-customer monetary sums), the dim
    window of ``_exact_rank`` degenerates to a single-partition pass over
    the data. This variant keeps the rank exact while bounding every
    unpartitioned window at ``bands`` rows, constant in data size:
    broadcast min/max -> coarse range band ``(v - lo) div width`` ->
    per-band counts hash-agg -> exclusive prefix over <=bands rows ->
    per-band PARTITIONED row_number + band offset. Equal values share a
    band, so (val, tie) composition preserves the global total order and
    ranks are bit-identical to ``_exact_rank``'s — same oracle, same
    driver hash. Band skew is bounded by the metric's density per
    width-slice; raise ``bands`` (or recurse) if one band dominates."""
    stats = df.agg(F.min(val).alias("_lo"), F.max(val).alias("_hi"))
    withb = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "_band",
            F.expr(
                f"CAST(({val} - _lo) div"
                f" ((_hi - _lo) div {bands} + 1) AS INT)"
            ),
        )
        .drop("_lo", "_hi")
    )
    counts = withb.groupBy("_band").agg(F.count(F.lit(1)).alias("_c"))
    border = F.col("_band").desc() if desc else F.col("_band").asc()
    wb = Window.orderBy(border).rowsBetween(Window.unboundedPreceding, -1)
    off = counts.select(
        "_band", F.coalesce(F.sum("_c").over(wb), F.lit(0)).alias("_off")
    )
    vorder = F.col(val).desc() if desc else F.col(val).asc()
    win = Window.partitionBy("_band").orderBy(vorder, F.col(tie).asc())
    return (
        withb.join(F.broadcast(off), "_band")
        .withColumn("_rn", F.col("_off") + F.row_number().over(win))
        .drop("_off", "_band")
    )


# ---------------------------------------------------------------------------
# rel_rfm_segments
# ---------------------------------------------------------------------------

_RFM_SQL = """
    WITH ag AS MATERIALIZED (
      SELECT o_custkey,
             max(epoch_us(o_orderdate) // 86400000000) AS last_day,
             count(*) AS freq,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS money
      FROM orders GROUP BY o_custkey),
    base AS MATERIALIZED (
      SELECT o_custkey,
             (SELECT max(last_day) FROM ag) - last_day AS rec,
             freq, money,
             (SELECT count(*) FROM ag) AS n
      FROM ag),
    scored AS (
      SELECT o_custkey, money, n,
             5 - (row_number() OVER (ORDER BY rec, o_custkey) - 1)
                 * 5 // n AS r_score,
             (row_number() OVER (ORDER BY freq, o_custkey) - 1)
                 * 5 // n + 1 AS f_score,
             (row_number() OVER (ORDER BY money, o_custkey) - 1)
                 * 5 // n + 1 AS m_score
      FROM base)
    SELECT CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(money) AS BIGINT) AS sum_monetary_cents
    FROM scored GROUP BY 1
"""


@register(
    "rel_rfm_segments",
    _RFM_SQL,
    "RFM segmentation: per customer recency (days from the table's "
    "last order day), frequency (orders), monetary (exact cents); "
    "each axis scored 1-5 by exact global quintile rank (ties broken "
    "by custkey, so scores are total-order deterministic), customers "
    "aggregated per 3-digit segment. Recency/frequency ranks use the "
    "cumulative-DIM pattern (_exact_rank, windows over the small "
    "bounded value dims); the monetary axis — whose sums are "
    "near-unique, dim ~ |customers| — uses the BANDED rank "
    "(_exact_rank_banded): 1024 coarse range bands, prefix over the "
    "band dim only, per-band partitioned row_number. No window grows "
    "with customer count. One orders scan, one customer-dim pipeline",
)
def rel_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    ag = o.groupBy("o_custkey").agg(
        # o_orderdate reads as TIMESTAMP_NTZ (only events gets the LTZ
        # session conf); cast to LTZ under the UTC session so
        # unix_micros == DuckDB epoch_us
        F.expr(
            "max(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            " div 86400000000)"
        ).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        ).alias("money"),
    )
    tot = ag.agg(
        F.max("last_day").alias("md"), F.count(F.lit(1)).alias("n")
    )
    # checkpoint the customer dim ONCE: the old chained form
    # (_exact_rank(_exact_rank(_exact_rank_banded(base)))) referenced
    # its input 2-3x per rank (dim agg + join-back), re-evaluating the
    # orders scan+agg lineage ~8x through the tree. Each axis rank only
    # depends on (val, tie), so the three scores compute independently
    # from the checkpoint and join back on the customer key —
    # bit-identical ranks, one orders pass.
    base = (
        ag.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            (F.col("md") - F.col("last_day")).alias("rec"),
            "freq",
            "money",
            "n",
        )
        .localCheckpoint()
    )
    r = _exact_rank(
        base.select("o_custkey", "rec", "n"), "rec", "o_custkey"
    ).select(
        "o_custkey", F.expr("5 - (_rn - 1) * 5 div n").alias("r_score")
    )
    f = _exact_rank(
        base.select("o_custkey", "freq", "n"), "freq", "o_custkey"
    ).select(
        "o_custkey", F.expr("(_rn - 1) * 5 div n + 1").alias("f_score")
    )
    # monetary sums are near-unique (dim ~ |customers|) — use the banded
    # rank so no window grows with customer count (verdict r7 #4); rec
    # and freq have small bounded dims, the plain dim form stays optimal
    m = _exact_rank_banded(
        base.select("o_custkey", "money", "n"), "money", "o_custkey"
    ).select(
        "o_custkey",
        "money",
        F.expr("(_rn - 1) * 5 div n + 1").alias("m_score"),
    )
    return m.join(r, "o_custkey").join(f, "o_custkey").groupBy(
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        )
        .cast("int")
        .alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("money").cast("bigint").alias("sum_monetary_cents"),
    )


_DAY_US = 86_400_000_000

_WEEK_US = 7 * _DAY_US


# ---------------------------------------------------------------------------
# rel_funnel_windowed
# ---------------------------------------------------------------------------

_FUNNEL_W_SQL = f"""
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS vus
      FROM events WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS cus
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) >= v.vus
        AND epoch_us(e.ts) <= v.vus + {_WEEK_US}
      GROUP BY 1),
    p AS (
      SELECT e.user_id
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) >= c.cus
        AND epoch_us(e.ts) <= c.cus + {_WEEK_US}
      GROUP BY 1),
    n AS (
      SELECT 1 AS step, 'view' AS stage,
             CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 2, 'click_7d', CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'purchase_7d', CAST(count(*) AS BIGINT) FROM p)
    SELECT CAST(step AS INT) AS step, stage, n_users,
           CAST(CASE WHEN step = 1 THEN 1000000
                WHEN lag(n_users) OVER (ORDER BY step) = 0 THEN 0
                ELSE n_users * 1000000
                     // lag(n_users) OVER (ORDER BY step) END AS BIGINT)
             AS conv_from_prev_micro
    FROM n
"""


@register(
    "rel_funnel_windowed",
    _FUNNEL_W_SQL,
    "time-bounded funnel: first view -> first click WITHIN 7 DAYS of "
    "that view -> first purchase WITHIN 7 DAYS of that click; "
    "per-stage user counts + step conversion in exact integer "
    "micro-units — the windowed variant of rel_funnel_conversion "
    "(unbounded funnels overcount: a click a year later is not "
    "conversion). Each stage anchors its window at the PREVIOUS "
    "stage's first qualifying timestamp, so the chain is the standard "
    "product-analytics 'conversion window' semantics. Shape: three "
    "user-keyed hash-aggs/joins (no windows over facts; the 3-row "
    "stage frame is the only global window). Positive-epoch domain",
)
def rel_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("vus"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("us") >= F.col("vus"))
            & (F.col("us") <= F.col("vus") + F.lit(_WEEK_US))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("cus"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("us") >= F.col("cus"))
            & (F.col("us") <= F.col("cus") + F.lit(_WEEK_US))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_"))
    )

    def _n(frame: DataFrame, step: int, stage: str) -> DataFrame:
        return frame.agg(
            F.lit(step).alias("step"),
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )

    n = (
        _n(v, 1, "view")
        .unionByName(_n(c, 2, "click_7d"))
        .unionByName(_n(p, 3, "purchase_7d"))
    )
    w = Window.orderBy("step")  # 3 rows by construction
    return n.select(
        F.col("step").cast("int").alias("step"),
        "stage",
        "n_users",
        F.when(F.col("step") == 1, F.lit(1000000).cast("bigint"))
        .when(F.lag("n_users").over(w) == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.expr(
                "CAST(n_users * 1000000 div lag(n_users)"
                " OVER (ORDER BY step) AS BIGINT)"
            )
        )
        .alias("conv_from_prev_micro"),
    )


# ---------------------------------------------------------------------------
# rel_largest_remainder
# ---------------------------------------------------------------------------

_ALLOC_SQL = """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS e_cents
      FROM lineitem
      WHERE l_orderkey % 100 = 0),
    o AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents
      FROM orders WHERE o_orderkey % 100 = 0),
    s AS (
      SELECT li.l_orderkey, li.l_linenumber, li.e_cents, o.total_cents,
             sum(li.e_cents) OVER (PARTITION BY li.l_orderkey) AS se,
             count(*) OVER (PARTITION BY li.l_orderkey) AS n_items
      FROM li JOIN o ON li.l_orderkey = o.o_orderkey),
    base AS (
      SELECT l_orderkey, l_linenumber, e_cents, n_items, total_cents, se,
             total_cents * e_cents // se AS floor_alloc,
             (total_cents * e_cents) % se AS frac
      FROM s),
    ranked AS (
      -- e_cents joins the tie-break because synthetic lineitem REPEATS
      -- (l_orderkey, l_linenumber); rows still tied after it are fully
      -- interchangeable (same floor/frac), so the per-order aggregates
      -- are deterministic under any residual order
      SELECT l_orderkey, n_items, total_cents, floor_alloc,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY frac DESC, l_linenumber, e_cents) AS fr,
             total_cents
               - sum(floor_alloc) OVER (PARTITION BY l_orderkey) AS rem
      FROM base),
    alloc AS (
      SELECT l_orderkey, n_items, total_cents,
             floor_alloc + CASE WHEN fr <= rem THEN 1 ELSE 0 END AS a
      FROM ranked)
    SELECT CAST(l_orderkey AS BIGINT) AS o_orderkey,
           CAST(max(n_items) AS BIGINT) AS n_items,
           CAST(max(total_cents) AS BIGINT) AS total_cents,
           CAST(sum(a) AS BIGINT) AS sum_alloc_cents,
           CAST(max(a) AS BIGINT) AS max_alloc_cents,
           CAST(min(a) AS BIGINT) AS min_alloc_cents
    FROM alloc GROUP BY l_orderkey
"""


@register(
    "rel_largest_remainder",
    _ALLOC_SQL,
    "largest-remainder (Hamilton) allocation: distribute each order's "
    "total cents across its lineitems proportionally by extended "
    "price — floor shares total*e_i div sum(e), then +1 cent to the "
    "lines with the largest remainders (total*e_i mod sum(e), ties by "
    "line number) until the order total is met EXACTLY. The "
    "allocation every revenue-attribution / invoice-split pipeline "
    "needs: per-line integers that reconcile to the header total by "
    "construction (sum_alloc_cents == total_cents on every row is the "
    "built-in proof). All windows PARTITION BY ORDER — the natural "
    "allocation unit, parallel across orders at any scale; outputs "
    "the per-order summary for the 1%-sampled keyspace. Pure integer "
    "arithmetic on the positive domain (// == div)",
)
def rel_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("e_cents"),
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("total_cents"),
        )
    )
    wq = Window.partitionBy("l_orderkey")
    s = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        "e_cents",
        "total_cents",
        F.sum("e_cents").over(wq).alias("se"),
        F.count(F.lit(1)).over(wq).alias("n_items"),
    )
    base = s.select(
        "l_orderkey",
        "l_linenumber",
        "e_cents",
        "n_items",
        "total_cents",
        F.expr("total_cents * e_cents div se").alias("floor_alloc"),
        F.expr("(total_cents * e_cents) % se").alias("frac"),
    )
    # e_cents joins the tie-break: synthetic lineitem repeats
    # (l_orderkey, l_linenumber); rows still tied after it are fully
    # interchangeable, so per-order aggregates stay deterministic
    wr = Window.partitionBy("l_orderkey").orderBy(
        F.desc("frac"), F.col("l_linenumber"), F.col("e_cents")
    )
    ranked = base.select(
        "l_orderkey",
        "n_items",
        "total_cents",
        "floor_alloc",
        F.row_number().over(wr).alias("fr"),
        (
            F.col("total_cents") - F.sum("floor_alloc").over(wq)
        ).alias("rem"),
    )
    alloc = ranked.select(
        "l_orderkey",
        "n_items",
        "total_cents",
        F.expr(
            "floor_alloc + CASE WHEN fr <= rem THEN 1 ELSE 0 END"
        ).alias("a"),
    )
    return alloc.groupBy("l_orderkey").agg(
        F.max("n_items").cast("bigint").alias("n_items"),
        F.max("total_cents").cast("bigint").alias("total_cents"),
        F.sum("a").cast("bigint").alias("sum_alloc_cents"),
        F.max("a").cast("bigint").alias("max_alloc_cents"),
        F.min("a").cast("bigint").alias("min_alloc_cents"),
    ).select(
        F.col("l_orderkey").cast("bigint").alias("o_orderkey"),
        "n_items",
        "total_cents",
        "sum_alloc_cents",
        "max_alloc_cents",
        "min_alloc_cents",
    )


# ---------------------------------------------------------------------------
# rel_wau_sliding
# ---------------------------------------------------------------------------

_WAU_SQL = """
    WITH active AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events),
    span AS MATERIALIZED (
      SELECT min(day) AS lo, max(day) AS hi FROM active),
    contrib AS (
      SELECT DISTINCT a.user_id, a.day + t.i AS anchor
      FROM active a, range(7) t(i)
      WHERE a.day + t.i <= (SELECT hi FROM span)),
    wau AS (
      SELECT anchor, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib GROUP BY 1),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM active GROUP BY 1)
    SELECT CAST(w.anchor AS BIGINT) AS day,
           coalesce(d.dau, 0) AS dau,
           w.wau,
           CAST(coalesce(d.dau, 0) * 1000000 // w.wau AS BIGINT)
             AS stickiness_micro
    FROM wau w LEFT JOIN dau d ON w.anchor = d.day
"""


@register(
    "rel_wau_sliding",
    _WAU_SQL,
    "weekly-active-users per anchor day (distinct users active in "
    "[day-6, day]) + that day's DAU + the DAU/WAU stickiness ratio in "
    "exact micro-units — the sliding-window DISTINCT aggregate. "
    "Distinct does NOT decompose into a running frame (you cannot "
    "subtract a departing day's users without knowing they are absent "
    "elsewhere in the window), so the exact form is the BOUNDED "
    "EXPLODE: each active (user, day) row contributes to exactly 7 "
    "anchors, then ONE distinct hash-agg — constant fan-out, "
    "map-side-combinable, no per-anchor rescans. Anchors past the "
    "data horizon are dropped (their windows would be truncated). "
    "The engagement curve every growth dashboard leads with",
)
def rel_wau_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    active = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    span = active.agg(F.max("day").alias("hi"))
    contrib = (
        active.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + 6)
            ).alias("anchor"),
        )
        .crossJoin(F.broadcast(span))
        .filter(F.col("anchor") <= F.col("hi"))
        .select("user_id", "anchor")
        .distinct()
    )
    wau = contrib.groupBy("anchor").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    dau = active.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    return (
        wau.join(dau, wau["anchor"] == dau["day"], "left")
        .select(
            wau["anchor"].cast("bigint").alias("day"),
            F.coalesce(dau["dau"], F.lit(0).cast("bigint")).alias("dau"),
            "wau",
            F.expr(
                "CAST(coalesce(dau, 0) * 1000000 div wau AS BIGINT)"
            ).alias("stickiness_micro"),
        )
    )


# ---------------------------------------------------------------------------
# rel_clamped_balance
# ---------------------------------------------------------------------------

_CLAMP_SQL = """
    WITH tx AS (
      SELECT user_id,
             epoch_us(ts) // 86400000000 AS day,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      WHEN event_type = 'error'
                      THEN -CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END) AS amount
      FROM events GROUP BY 1, 2),
    pre AS (
      SELECT user_id, day, amount,
             sum(amount) OVER (PARTITION BY user_id ORDER BY day)
               AS prefix
      FROM tx),
    mins AS (
      SELECT user_id, day, amount, prefix,
             min(prefix) OVER (PARTITION BY user_id ORDER BY day)
               AS run_min
      FROM pre),
    bal AS (
      SELECT user_id, day, amount, prefix,
             prefix - least(0, run_min) AS balance
      FROM mins)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(day AS BIGINT) AS day,
           CAST(amount AS BIGINT) AS amount_cents,
           CAST(balance AS BIGINT) AS balance_cents
    FROM bal WHERE user_id % 10 = 0
"""


@register(
    "rel_clamped_balance",
    _CLAMP_SQL,
    "clamped-at-zero running balance per user (credits = purchase "
    "cents, debits = error cents): the wallet/inventory scan that "
    "looks inherently sequential — c_t = max(c_{t-1} + x_t, 0) — but "
    "has the exact closed form c_t = prefix_t - min(0, "
    "running_min(prefix_t)) (forgiven losses are exactly the depth of "
    "the lowest excursion below zero so far), so it runs as TWO "
    "ordinary window passes over ONE user-partitioned sort instead of "
    "a per-key Python fold. Emitted for the 10%-sampled user "
    "keyspace; exact integer cents throughout. Shape: one day-grain "
    "hash-agg, then prefix-sum + running-min-of-prefix windows "
    "sharing the same partitioning (one exchange, one sort)",
)
def rel_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    amount = (
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100, 0).cast("bigint"),
        )
        .when(
            F.col("event_type") == "error",
            -F.round(F.col("value") * 100, 0).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
    )
    tx = ev.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(F.sum(amount).alias("amount"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = tx.select(
        "user_id",
        "day",
        "amount",
        F.sum("amount").over(w).alias("prefix"),
    ).withColumn("run_min", F.min("prefix").over(w))
    return (
        pre.filter(F.col("user_id") % 10 == 0)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("day").cast("bigint").alias("day"),
            F.col("amount").cast("bigint").alias("amount_cents"),
            (
                F.col("prefix") - F.least(F.lit(0), F.col("run_min"))
            )
            .cast("bigint")
            .alias("balance_cents"),
        )
    )


# ---------------------------------------------------------------------------
# j14_salted_join
# ---------------------------------------------------------------------------

_SALTED_SQL = """
    WITH f AS (
      SELECT CASE WHEN user_id % 10 < 7 THEN 0
                  ELSE user_id % 10 END AS k,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    d AS (
      SELECT i AS k, 'seg_' || i AS label FROM range(10) t(i))
    SELECT d.label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(f.cents) AS BIGINT) AS cents
    FROM f JOIN d ON f.k = d.k
    GROUP BY d.label
"""


@register(
    "j14_salted_join",
    _SALTED_SQL,
    "explicit salted skew join as a registered query: a synthetic "
    "70%-hot join key (user_id buckets 0-6 collapse onto key 0) joins "
    "a 10-row dimension through operators/skew.salted_join — right "
    "side replicated x16 salts, left salted with xxhash64, SHUFFLE_HASH "
    "hinted so the skew-spread exchange actually materializes (an "
    "auto-broadcast would hide it at this scale while production dims "
    "above the threshold cannot broadcast). Results are bit-identical "
    "to the plain equi-join — which IS the oracle. The shape AQE's "
    "skew split cannot rewrite: a hot key feeding a downstream "
    "stateful op, or post-UDF cardinality the planner cannot see",
)
def j14_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    f = ev.select(
        F.expr(
            "CASE WHEN user_id % 10 < 7 THEN CAST(0 AS BIGINT)"
            " ELSE user_id % 10 END"
        ).alias("k"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    d = spark.range(10).select(
        F.col("id").alias("k"),
        F.concat(F.lit("seg_"), F.col("id").cast("string")).alias("label"),
    )
    joined = salted_join(f, d.hint("shuffle_hash"), on="k", num_salts=16)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


# ---------------------------------------------------------------------------
# rel_order_gap_median
# ---------------------------------------------------------------------------

_ORDER_GAP_SQL = """
    WITH o AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             epoch_us(o.o_orderdate) // 86400000000 AS day,
             o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    gaps AS (
      SELECT seg,
             day - lag(day) OVER (PARTITION BY o_custkey
                                  ORDER BY day, o_orderkey) AS gap
      FROM o),
    g AS MATERIALIZED (
      SELECT seg, gap, CAST(count(*) AS BIGINT) AS c
      FROM gaps WHERE gap IS NOT NULL GROUP BY 1, 2),
    cum AS (
      SELECT seg, gap, c,
             sum(c) OVER (PARTITION BY seg ORDER BY gap) AS cum,
             sum(c) OVER (PARTITION BY seg) AS n
      FROM g)
    SELECT seg AS c_mktsegment,
           CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN gap END)
                AS BIGINT) AS median_gap_days,
           CAST(min(CASE WHEN cum * 10 >= n * 9 THEN gap END)
                AS BIGINT) AS p90_gap_days
    FROM cum GROUP BY 1
"""


@register(
    "rel_order_gap_median",
    _ORDER_GAP_SQL,
    "median and p90 inter-order gap in days per market segment — the "
    "re-engagement cadence behind churn windows and campaign timing "
    "(rel_retention_cohorts counts who returns; this says how LONG "
    "returns take, and p90 is where the win-back email goes). Gaps "
    "are day differences between a customer's consecutive orders "
    "(ordered by day then order key — a total order, so ties are "
    "deterministic); the lower median is the smallest gap whose "
    "cumulative count reaches ceil(n/2), p90 the smallest reaching "
    "ceil(0.9n) — pure integer rank selection, exact on both engines. "
    "Shape: facts shuffle ONCE on the natural customer key for the "
    "lag window (customer dim broadcast), then collapse to the "
    "bounded (segment, gap-days) value dim — the rank-selection "
    "windows run over that dim, never over facts (the rolling-median "
    "discipline)",
)
def rel_order_gap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(
        F.col("c_mktsegment").alias("seg"),
        "o_custkey",
        # o_orderdate reads as TIMESTAMP_NTZ; cast to LTZ under the UTC
        # session so unix_micros == DuckDB epoch_us (the r27 pattern)
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            " div 86400000000"
        ).alias("day"),
        "o_orderkey",
    )
    wl = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = o.select(
        "seg", (F.col("day") - F.lag("day").over(wl)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    g = gaps.groupBy("seg", "gap").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wc = (
        Window.partitionBy("seg")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("seg")
    cum = g.select(
        "seg",
        "gap",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    return cum.groupBy(F.col("seg").alias("c_mktsegment")).agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n + 1) div 2"), F.col("gap")
            )
        )
        .cast("bigint")
        .alias("median_gap_days"),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("gap"))
        )
        .cast("bigint")
        .alias("p90_gap_days"),
    )


# ---------------------------------------------------------------------------
# rel_cohort_ltv
# ---------------------------------------------------------------------------

_COHORT_LTV_SQL = """
    WITH ue AS (
      SELECT user_id,
             epoch_us(ts) // 86400000000 // 7 AS w,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    coh AS MATERIALIZED (
      SELECT user_id, min(w) AS c FROM ue GROUP BY user_id),
    sizes AS (
      SELECT c, CAST(count(*) AS BIGINT) AS cohort_size
      FROM coh GROUP BY c),
    rev AS (
      SELECT coh.c, ue.w - coh.c AS off,
             CAST(sum(ue.cents) AS BIGINT) AS revenue_cents
      FROM ue JOIN coh ON ue.user_id = coh.user_id
      GROUP BY 1, 2),
    cum AS (
      SELECT c, off, revenue_cents,
             sum(revenue_cents) OVER (PARTITION BY c ORDER BY off)
               AS cum_revenue_cents
      FROM rev)
    SELECT CAST(cum.c AS BIGINT) AS cohort_week,
           CAST(off AS INT) AS week_offset,
           CAST(revenue_cents AS BIGINT) AS revenue_cents,
           CAST(cum_revenue_cents AS BIGINT) AS cum_revenue_cents,
           CAST(sizes.cohort_size AS BIGINT) AS cohort_size,
           CAST(cum_revenue_cents * 100 // sizes.cohort_size AS BIGINT)
             AS ltv_per_user_scaled
    FROM cum JOIN sizes ON cum.c = sizes.c
"""


@register(
    "rel_cohort_ltv",
    _COHORT_LTV_SQL,
    "weekly cohort lifetime-value triangle: cohort = epoch-week of a "
    "user's first event; per (cohort, week offset) the period revenue, "
    "the CUMULATIVE revenue, and LTV per original cohort member "
    "(scaled x100, exact integer) — the money companion of "
    "rel_retention_cohorts (retention says who comes back; this says "
    "what a cohort member is WORTH by age k, the number acquisition "
    "spend is judged against — the two triangles are read together). "
    "Shape: one per-user min (hash agg), one user-keyed join back, "
    "one (cohort, offset) revenue agg — facts shuffle once on "
    "user_id; the cumulative window and the size join run on the "
    "calendar-bounded (cohort, offset) dim. Week index is epoch-days "
    "div 7 (positive domain, floor/truncate engines agree)",
)
def rel_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ue = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000 div 7").alias("w"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    coh = ue.groupBy("user_id").agg(F.min("w").alias("c"))
    sizes = coh.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    rev = (
        ue.join(coh, "user_id")
        .groupBy("c", (F.col("w") - F.col("c")).alias("off"))
        .agg(F.sum("cents").cast("bigint").alias("revenue_cents"))
    )
    wc = (
        Window.partitionBy("c")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn(
        "cum_revenue_cents", F.sum("revenue_cents").over(wc)
    )
    return cum.join(F.broadcast(sizes), "c").select(
        F.col("c").cast("bigint").alias("cohort_week"),
        F.col("off").cast("int").alias("week_offset"),
        "revenue_cents",
        F.col("cum_revenue_cents").cast("bigint").alias(
            "cum_revenue_cents"
        ),
        "cohort_size",
        F.expr(
            "CAST(cum_revenue_cents * 100 div cohort_size AS BIGINT)"
        ).alias("ltv_per_user_scaled"),
    )


# ---------------------------------------------------------------------------
# rel_growth_accounting
# ---------------------------------------------------------------------------

_GROWTH_SQL = """
    WITH uw AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 // 7 AS w
      FROM events),
    marked AS (
      SELECT user_id, w,
             lag(w) OVER (PARTITION BY user_id ORDER BY w) AS prev_w
      FROM uw),
    active AS (
      SELECT w,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(CASE WHEN prev_w IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN prev_w = w - 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN prev_w IS NOT NULL AND prev_w < w - 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM marked GROUP BY 1),
    churn AS (
      -- a user active in week w and absent in w+1 churns AT w+1:
      -- re-key last week's actives to w+1 and subtract the retained
      SELECT w + 1 AS w, CAST(count(*) AS BIGINT) AS n_prev_active
      FROM uw GROUP BY 1)
    SELECT CAST(a.w AS BIGINT) AS week,
           a.n_active, a.n_new, a.n_retained, a.n_resurrected,
           CAST(coalesce(c.n_prev_active, 0) - a.n_retained AS BIGINT)
             AS n_churned,
           CAST(CASE WHEN coalesce(c.n_prev_active, 0) - a.n_retained = 0
                     THEN 0
                ELSE (a.n_new + a.n_resurrected) * 1000
                     // (coalesce(c.n_prev_active, 0) - a.n_retained) END
                AS BIGINT) AS quick_ratio_milli
    FROM active a LEFT JOIN churn c ON a.w = c.w
"""


@register(
    "rel_growth_accounting",
    _GROWTH_SQL,
    "weekly growth accounting: every active user classified as NEW "
    "(first-ever week), RETAINED (also active the previous week), or "
    "RESURRECTED (returning after a gap >= 2 weeks), plus CHURNED "
    "(active last week, absent this week — computed algebraically as "
    "last week's actives minus this week's retained, never a "
    "self-join) and the quick ratio (new + resurrected) / churned in "
    "milli — the standard decomposition behind every WAU chart: "
    "rel_retention_cohorts follows one cohort forward, this explains "
    "each week's NET CHANGE, which a retention triangle cannot (weeks "
    "with zero churn report ratio 0 — the convention that keeps the "
    "column integral). BOUNDARY (advisor r9 #4): the report is driven "
    "from the ACTIVE week keys, so a week with zero active users — "
    "including the week after the last data week — emits no row, and "
    "churn occurring into an all-quiet week is unreported; "
    "deterministic and engine-consistent, and on any real event "
    "stream every calendar week has actives. Exact integer counts "
    "throughout. Shape: one "
    "distinct (user, week) hash-agg, a lag window on the user key "
    "(facts shuffle once), then a calendar-bounded week rollup and a "
    "shifted-key week join — the churn column costs one 2-column agg, "
    "not a second scan",
)
def rel_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000 div 7").alias("w"),
    ).distinct()
    wl = Window.partitionBy("user_id").orderBy("w")
    marked = uw.withColumn("prev_w", F.lag("w").over(wl))
    active = marked.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("prev_w").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("prev_w") == F.col("w") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_w").isNotNull()
                & (F.col("prev_w") < F.col("w") - 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    churn = uw.groupBy((F.col("w") + 1).alias("cw")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prev_active")
    )
    return (
        active.join(churn, active["w"] == churn["cw"], "left")
        .select(
            F.col("w").cast("bigint").alias("week"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            (
                F.coalesce(F.col("n_prev_active"), F.lit(0))
                - F.col("n_retained")
            )
            .cast("bigint")
            .alias("n_churned"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_prev_active, 0) - n_retained"
                " = 0 THEN 0"
                " ELSE (n_new + n_resurrected) * 1000"
                " div (coalesce(n_prev_active, 0) - n_retained) END"
                " AS BIGINT)"
            ).alias("quick_ratio_milli"),
        )
    )


# ---------------------------------------------------------------------------
# rel_repeat_revenue
# ---------------------------------------------------------------------------

_REPEAT_REV_SQL = """
    WITH o AS (
      SELECT o_custkey,
             CAST(extract(year FROM o_orderdate) * 12
               + extract(month FROM o_orderdate) - 1 AS BIGINT) AS m,
             CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * 100, 0)
               AS BIGINT) AS cents
      FROM orders),
    first_m AS (
      SELECT o_custkey, min(m) AS fm FROM o GROUP BY 1),
    tagged AS (
      SELECT o.m, o.cents, o.o_custkey, o.m = f.fm AS is_new
      FROM o JOIN first_m f ON o.o_custkey = f.o_custkey)
    SELECT CAST(m AS BIGINT) AS month_idx,
           CAST(sum(CASE WHEN is_new THEN cents ELSE 0 END) AS BIGINT)
             AS new_rev_cents,
           CAST(sum(CASE WHEN is_new THEN 0 ELSE cents END) AS BIGINT)
             AS repeat_rev_cents,
           CAST(count(DISTINCT CASE WHEN is_new THEN o_custkey END)
             AS BIGINT) AS n_new_customers,
           CAST(count(DISTINCT CASE WHEN NOT is_new THEN o_custkey END)
             AS BIGINT) AS n_repeat_customers,
           CAST(sum(CASE WHEN is_new THEN 0 ELSE cents END) * 1000
             // sum(cents) AS BIGINT) AS repeat_share_milli
    FROM tagged GROUP BY 1
"""


@register(
    "rel_repeat_revenue",
    _REPEAT_REV_SQL,
    "monthly revenue split by customer age: FIRST-month (acquisition) "
    "vs returning (retention) revenue, with distinct new/repeat "
    "customer counts and the repeat-revenue share in milli — "
    "rel_growth_accounting decomposes USERS, this decomposes MONEY "
    "(a flat revenue line can hide acquisition collapsing while "
    "repeat spend compensates; the split is the chart a board "
    "actually reads). EXACT: order totals as integer cents (2-decimal "
    "source, exact by construction), one floor division for the "
    "share; months are calendar (year*12+month) so both engines cut "
    "identically with no epoch arithmetic. Shape: one customer-keyed "
    "hash-agg for first months, one fact join on the customer key, "
    "then a calendar-bounded month rollup (distinct counts ride the "
    "month shuffle)",
)
def rel_repeat_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.expr(
            "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1"
            " AS BIGINT)"
        ).alias("m"),
        F.round(F.col("o_totalprice").cast("decimal(12,2)") * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    first_m = o.groupBy("o_custkey").agg(F.min("m").alias("fm"))
    tagged = o.join(first_m, "o_custkey").select(
        "m", "cents", "o_custkey", (F.col("m") == F.col("fm")).alias("is_new")
    )
    return tagged.groupBy(F.col("m").cast("bigint").alias("month_idx")).agg(
        F.sum(F.when(F.col("is_new"), F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("new_rev_cents"),
        F.sum(F.when(F.col("is_new"), 0).otherwise(F.col("cents")))
        .cast("bigint")
        .alias("repeat_rev_cents"),
        F.countDistinct(
            F.when(F.col("is_new"), F.col("o_custkey"))
        )
        .cast("bigint")
        .alias("n_new_customers"),
        F.countDistinct(
            F.when(~F.col("is_new"), F.col("o_custkey"))
        )
        .cast("bigint")
        .alias("n_repeat_customers"),
        F.expr(
            "CAST(sum(CASE WHEN is_new THEN 0 ELSE cents END) * 1000"
            " div sum(cents) AS BIGINT)"
        ).alias("repeat_share_milli"),
    )


# rel_abc_migration --------------------------------------------------------

_ABC_MIG_SQL = """
    WITH o AS (
      SELECT o_custkey,
             epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders),
    span AS MATERIALIZED (
      SELECT (min(day) + max(day)) // 2 + 1 AS cut FROM o),
    halves AS (
      SELECT o_custkey, day >= (SELECT cut FROM span) AS h2, cents
      FROM o),
    rev AS (
      SELECT o_custkey, h2, CAST(sum(cents) AS BIGINT) AS cents
      FROM halves GROUP BY 1, 2),
    classed AS (
      SELECT o_custkey, h2,
             CASE WHEN CAST(cum_prev AS HUGEINT) * 100
                       < CAST(total AS HUGEINT) * 80 THEN 'A'
                  WHEN CAST(cum_prev AS HUGEINT) * 100
                       < CAST(total AS HUGEINT) * 95 THEN 'B'
                  ELSE 'C' END AS abc,
             cents
      FROM (
        SELECT o_custkey, h2, cents,
               sum(cents) OVER (PARTITION BY h2
                 ORDER BY cents DESC, o_custkey
                 ROWS UNBOUNDED PRECEDING) - cents AS cum_prev,
               sum(cents) OVER (PARTITION BY h2) AS total
        FROM rev) t),
    c1 AS (SELECT o_custkey, abc FROM classed WHERE NOT h2),
    c2 AS (SELECT o_custkey, abc, cents FROM classed WHERE h2)
    SELECT coalesce(c1.abc, 'N') AS abc_h1,
           coalesce(c2.abc, 'N') AS abc_h2,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(coalesce(sum(c2.cents), 0) AS BIGINT) AS h2_cents
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    GROUP BY 1, 2
"""


@register(
    "rel_abc_migration",
    _ABC_MIG_SQL,
    "Pareto-class migration matrix: customers are ABC-classified by "
    "revenue concentration (the rel_pareto_abc 80/95 cut) "
    "independently in the FIRST and SECOND halves of the timeline "
    "(span-midpoint cut, the temporal-split convention), and the "
    "(class_h1 x class_h2) matrix counts who moved — plus 'N' rows "
    "for customers present in only one half (churned A-customers and "
    "newly-acquired ones land here, and those two N-flows are the "
    "report's whole point: rel_pareto_abc says revenue is "
    "concentrated, this says whether the SAME customers stay "
    "concentrated). EXACT: integer cents, cross-multiplied class "
    "cuts in int128/decimal (the rel_pareto_abc discipline). Shape: "
    "one customer-half hash-agg, two per-half ranking windows over "
    "the customer dim, one full-outer self-join on the customer key, "
    "a <= 16-row matrix rollup",
)
def rel_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("day"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    span = o.agg(F.expr("(min(day) + max(day)) div 2 + 1").alias("cut"))
    rev = (
        o.crossJoin(F.broadcast(span))
        .select(
            "o_custkey", (F.col("day") >= F.col("cut")).alias("h2"), "cents"
        )
        .groupBy("o_custkey", "h2")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    wc = (
        Window.partitionBy("h2")
        .orderBy(F.desc("cents"), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.select(
        "o_custkey",
        "h2",
        "cents",
        (F.sum("cents").over(wc) - F.col("cents")).alias("cum_prev"),
        F.sum("cents").over(Window.partitionBy("h2")).alias("total"),
    )
    cum_d = F.col("cum_prev").cast("decimal(38,0)")
    tot_d = F.col("total").cast("decimal(38,0)")
    classed = cum.select(
        "o_custkey",
        "h2",
        "cents",
        F.when(cum_d * 100 < tot_d * 80, "A")
        .when(cum_d * 100 < tot_d * 95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    c1 = classed.filter(~F.col("h2")).select(
        F.col("o_custkey").alias("k1"), F.col("abc").alias("abc1")
    )
    c2 = classed.filter(F.col("h2")).select(
        F.col("o_custkey").alias("k2"),
        F.col("abc").alias("abc2"),
        "cents",
    )
    return (
        c1.join(c2, c1["k1"] == c2["k2"], "full")
        .groupBy(
            F.coalesce("abc1", F.lit("N")).alias("abc_h1"),
            F.coalesce("abc2", F.lit("N")).alias("abc_h2"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("bigint")
            .alias("h2_cents"),
        )
    )
